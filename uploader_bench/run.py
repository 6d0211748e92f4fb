#!/usr/bin/env python3
"""Uploader lap benchmark: ``.crs`` files -> read -> clean -> negotiate ->
diff -> gated stage -> manifest commit -> meta store, through ``BdeUploader``.

Run from the repository root::

    python3 uploader_bench/run.py --workload l5_merge --seed 1 --seconds 10 --trace 0

One run starts one local Spark session (``local[<cpus>]``, one process, no
client threads), generates the workload's repository from ``--seed``, loads
the pre-state and makes one untimed warm-up call. It then repeats the timed
uploader call, each time after an untimed restore of the pre-state (target
tables, ``_manifest`` and meta store) and followed by an untimed output
check, until ``--seconds`` of calls are measured (at least two calls).

The last line of stdout is one JSON object: ``correct``, ``attempted`` and
``failed`` (uploader calls made, and those that raised or failed the check)
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (see README.md). A human-readable summary goes
to stderr. Everything the run writes stays under
``.bench_build/uploader_bench/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import importlib.util
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_ORDERS = 5000  # lineitem gets 4x: snapshot A is 25,000 rows
MIN_CALLS = 2
DEADLINE_S = 150.0  # after the minimum calls, start none that could end past this

END_TO_END = {
    "setup_s": "s", "run_s": "s", "rows_per_s": "rows/s", "cpu_s": "s",
    "jobs_per_run": "count", "write_amp": "ratio",
}
PER_LAYER = {
    "crs.read_s": "s", "crs.read_jobs": "count", "crs.scan_s": "s",
    "crs.scan_tasks": "count", "crs.executor_run_s": "s",
    "clean.self_s": "s",
    "negotiate.self_s": "s",
    "diff.classify_s": "s", "diff.merge_stats_s": "s", "diff.merge_stats_jobs": "count",
    "diff.apply_s": "s", "diff.useful_frac": "ratio", "diff.shuffle_bytes": "bytes",
    "target.stage_s": "s", "target.stage_jobs": "count", "target.stage_stages": "count",
    "target.stage_tasks": "count", "target.bytes_written": "bytes", "target.commit_s": "s",
    "target.shuffle_bytes": "bytes", "target.spill_bytes": "bytes",
    "target.executor_run_s": "s",
    "meta.s": "s", "meta.calls": "count", "meta.bytes_written": "bytes",
    "discovery.s": "s",
    "uploader.self_s": "s", "uploader.jobs_outside": "count",
    "trace.overhead_s": "s", "trace.probe_s": "s", "trace.counts_repeat": "count",
}
# Fixed by the generated input, so not a per-layer metric (no direction is
# better); a traced run prints them to stderr.
INVARIANTS = {
    "crs.rows": "rows", "crs.bad_rows": "rows", "diff.keys_changed": "count",
    "tolerance.checks": "count",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("l5_merge", "l0_diff"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _require_modules() -> None:
    sys.path.insert(0, ROOT)
    missing = [m for m in ("linz_bde_uploader_spark", "pyspark", "duckdb", "pyarrow")
               if importlib.util.find_spec(m) is None]
    if missing:
        print(f"uploader_bench: cannot import {missing} from {ROOT}", file=sys.stderr)
        sys.exit(2)


# -- the Spark session ---------------------------------------------------------

JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # names as /proc cuts them


def _stat(path: str) -> tuple[str, int]:
    """(thread name, user plus system clock ticks) from a /proc stat file."""
    with open(path) as fh:
        text = fh.read()
    fields = text.rsplit(")", 1)[1].split()
    return text[text.index("(") + 1:text.rindex(")")], int(fields[11]) + int(fields[12])


def _thread_name(path: str) -> str:
    try:
        return _stat(path)[0]
    except FileNotFoundError:  # the thread ended after the listing
        return ""


class Session:
    """One local Spark session whose files all live under ``work``; the JVM
    is stopped and waited for by :meth:`stop`."""

    def __init__(self, work: str, trace: bool):
        tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
        self.eventlog = os.path.join(work, "eventlog")
        for d in (tmp, local, self.eventlog):
            os.makedirs(d, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        if trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            # a fixed set of JIT compiler threads, so cpu_s can leave them out
            "SPARK_GRAFT_DRIVER_JAVA_OPTS": (f"-Djava.io.tmpdir={tmp} "
                                             "-XX:-UseDynamicNumberOfCompilerThreads"),
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
            ) + " pyspark-shell",
        })
        from linz_bde_uploader_spark.session import get_spark

        self.spark = get_spark("uploader_bench")
        self.sc = self.spark.sparkContext
        self._proc = getattr(self.sc._gateway, "proc", None)
        proc = f"/proc/{self.sc._jvm.java.lang.ProcessHandle.current().pid()}"
        self._jvm_stat = f"{proc}/stat"
        self._jit_stats = [
            f"{proc}/task/{t}/stat" for t in os.listdir(f"{proc}/task")
            if _thread_name(f"{proc}/task/{t}/stat").startswith(JIT_THREADS)
        ]
        self._tick = os.sysconf("SC_CLK_TCK")
        self._groups = 0

    def cpu_s(self) -> float:
        """CPU seconds so far of this Python process and of the driver JVM
        without its JIT compiler threads. Their share decays over dozens of
        calls (C2 alone from 8 s to 1 s a call on l0_diff) and would make
        the figure depend on how warm the process is."""
        ticks = _stat(self._jvm_stat)[1] - sum(_stat(p)[1] for p in self._jit_stats)
        return ticks / self._tick + time.process_time()

    def new_group(self) -> str:
        """A job group name that no earlier call in this session used."""
        self._groups += 1
        return f"bench.call{self._groups}"

    def jobs_in_group(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def eventlog_file(self) -> str:
        (path,) = glob.glob(os.path.join(self.eventlog, "*"))
        return path

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = self.sc._gateway
        self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if self._proc is not None:
            self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait()


# -- one workload ----------------------------------------------------------------


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> int:
    """Bytes of the files that are new or changed in ``after``."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


class Lap:
    """The generated repository, its pre-state, and checked uploader calls."""

    def __init__(self, session: Session, workload: str, seed: int, work: str,
                 n_orders: int = N_ORDERS):
        import duckdb

        import check
        import gen

        self.s, self.workload, self.gen, self.check = session, workload, gen, check
        self.tables, self.meta = os.path.join(work, "tables"), os.path.join(work, "meta")
        self.snap = os.path.join(work, "prestate")
        self.plan = gen.generate(work, workload, seed, n_orders)
        self.input_bytes = self.plan.run_bytes
        self.con = duckdb.connect()
        self.digests = {t: check.expected_digest(self.con, st)
                        for t, st in self.plan.expected_final.items()}
        # Pre-state: snapshot A loaded by the uploader itself.
        self._uploader().run_level0(before=gen.B_NAME)
        os.makedirs(self.snap)
        for d in (self.tables, self.meta):
            shutil.copytree(d, os.path.join(self.snap, os.path.basename(d)))
        self.n_calls = 0
        self.failures: list[str] = []

    def _uploader(self):
        from linz_bde_uploader_spark.meta.store import MetaStore
        from linz_bde_uploader_spark.plans.uploader import BdeUploader, parse_tables_conf

        return BdeUploader(
            self.s.spark, self.plan.repo, self.tables, MetaStore(self.meta),
            parse_tables_conf(self.plan.tables_conf), max_errors=self.gen.MAX_ERRORS,
        )

    def restore(self) -> None:
        for d in (self.tables, self.meta):
            shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(os.path.join(self.snap, os.path.basename(d)), d)

    def call(self, around=None) -> dict:
        """Restore, make one timed uploader call and check it. ``around`` is
        an optional context manager entered just inside the timed region."""
        import contextlib

        self.restore()
        up = self._uploader()
        group = self.s.new_group()
        self.n_calls += 1
        before = {d: _files(d) for d in (self.tables, self.meta)}
        error = None
        self.s.set_group(group)
        cpu0, t0 = self.s.cpu_s(), time.perf_counter()
        try:
            with around() if around else contextlib.nullcontext():
                if self.workload == "l5_merge":
                    reports = up.run_level5()
                else:
                    reports = up.run_level0(full_incremental=True)
        except Exception:
            reports, error = None, traceback.format_exc(limit=3)
        run_s, cpu_s = time.perf_counter() - t0, self.s.cpu_s() - cpu0
        self.s.set_group(None)
        written = {d: _written(before[d], _files(d)) for d in (self.tables, self.meta)}
        error = error or self._check(reports)
        if error:
            self.failures.append(error)
            print(f"uploader_bench: call {group} failed: {error}", file=sys.stderr)
        return {
            "run_s": run_s, "cpu_s": cpu_s, "jobs": self.s.jobs_in_group(group),
            "target_bytes": written[self.tables], "meta_bytes": written[self.meta],
        }

    def _check(self, reports) -> str | None:
        got = [(r.table, r.dataset, r.ninsert, r.nupdate, r.nnullupdate, r.ndelete)
               for r in reports]
        if got != self.plan.expected_reports:
            return f"counters {got} != expected {self.plan.expected_reports}"
        for t, want in self.digests.items():
            have = self.check.observed_digest(self.con, t, os.path.join(self.tables, t))
            if have != want:
                return f"{t}: committed (rows, hash) {have} != expected {want}"
        return None


# -- the two modes -----------------------------------------------------------------


def _loop(t_start: float, seconds: float, step, min_steps: int) -> None:
    """Call ``step()`` (which returns seconds measured) ``min_steps`` times,
    then on until ``seconds`` are measured, unless the next step could pass
    the deadline."""
    measured, n, longest = 0.0, 0, 0.0
    while n < min_steps or measured < seconds:
        if n >= min_steps and time.perf_counter() - t_start + 1.5 * longest > DEADLINE_S:
            break
        t0 = time.perf_counter()
        measured += step()
        longest = max(longest, time.perf_counter() - t0)
        n += 1


def _steal_ticks() -> int:
    """Clock ticks the hypervisor gave to other guests, all CPUs summed."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def end_to_end(lap: Lap, t_start: float, setup_s: float, seconds: float) -> dict:
    calls = []
    steal0, t0 = _steal_ticks(), time.perf_counter()
    _loop(t_start, seconds, lambda: calls.append(lap.call()) or calls[-1]["run_s"], MIN_CALLS)
    steal = (_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / os.cpu_count()
    # a busy virtual-machine host slows every phase; this says when it did
    print(f"uploader_bench: host steal during the timed calls: "
          f"{steal / (time.perf_counter() - t0):.1%} of CPU time", file=sys.stderr)
    med = {k: statistics.median(c[k] for c in calls) for k in calls[0]}
    amp = statistics.median((c["target_bytes"] + c["meta_bytes"]) / lap.input_bytes for c in calls)
    for k in ("run_s", "cpu_s"):
        print(f"uploader_bench: {len(calls)} timed calls, {k} samples "
              f"{[round(c[k], 3) for c in calls]}", file=sys.stderr)
    return {
        "setup_s": setup_s,
        "run_s": med["run_s"],
        "rows_per_s": lap.plan.run_rows / med["run_s"],
        "cpu_s": med["cpu_s"],
        "jobs_per_run": med["jobs"],
        "write_amp": amp,
    }


def per_layer(lap: Lap, t_start: float, seconds: float) -> dict:
    """Alternate traced and untraced calls, traced first, at least two
    traced; roll the traced ones up from the event log once the session has
    stopped."""
    import spans

    tracer = spans.Tracer(lap.s.spark)
    untraced, traced = [], []

    def step():
        if len(traced) > len(untraced):
            untraced.append(lap.call())
            return untraced[-1]["run_s"]
        traced.append(lap.call(around=tracer.call))
        return traced[-1]["run_s"]

    _loop(t_start, seconds, step, 2 * MIN_CALLS - 1)
    lap.s.stop()
    groups = spans.rollup_eventlog(lap.s.eventlog_file())
    rows = [tracer.layer_metrics(i, groups) for i in range(len(traced))]
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    out["crs.bad_rows"] = lap.plan.run_rows - out["crs.rows"]
    out["target.bytes_written"] = statistics.median(c["target_bytes"] for c in traced)
    out["meta.bytes_written"] = statistics.median(c["meta_bytes"] for c in traced)
    out["trace.overhead_s"] = (statistics.median(c["run_s"] for c in traced)
                               - statistics.median(c["run_s"] for c in untraced))
    counts = [tracer.span_counts(i, groups) for i in range(len(traced))]
    for i, c in enumerate(counts[1:], 1):
        diff = [(a, b) for a, b in zip(counts[0], c) if a != b]
        if diff or len(c) != len(counts[0]):
            print(f"uploader_bench: traced call {i} differs from call 0: {diff[:5]}",
                  file=sys.stderr)
    jobs = {tracer.span_jobs(i, groups) for i in range(len(traced))} | {c["jobs"] for c in untraced}
    out["trace.counts_repeat"] = int(len(set(counts)) == 1 and len(jobs) == 1)
    print(f"uploader_bench: {len(traced)} traced + {len(untraced)} untraced calls; "
          f"jobs per call {sorted(jobs)}", file=sys.stderr)
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    _require_modules()
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".bench_build", "uploader_bench",
                        f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    session = None
    try:
        session = Session(work, trace=bool(args.trace))
        t_session = time.perf_counter()
        lap = Lap(session, args.workload, args.seed, work)
        t_lap = time.perf_counter()
        lap.call()  # warm-up: JIT and code-generation caches on the timed path
        setup_s = time.perf_counter() - t_start
        print(f"uploader_bench: setup: session {t_session - t_start:.2f} s, repository and "
              f"pre-state {t_lap - t_session:.2f} s, warm-up {t_start + setup_s - t_lap:.2f} s",
              file=sys.stderr)
        if args.trace:
            metrics, units = per_layer(lap, t_start, args.seconds), PER_LAYER
        else:
            metrics, units = end_to_end(lap, t_start, setup_s, args.seconds), END_TO_END
    finally:
        if session is not None and session.sc._jsc is not None:
            session.stop()
        shutil.rmtree(work, ignore_errors=True)
    for name, value in metrics.items():
        kind = " (fixed by the input)" if name in INVARIANTS else ""
        print(f"uploader_bench: {args.workload} {name} = {value:.6g} "
              f"{units.get(name) or INVARIANTS[name]}{kind}", file=sys.stderr)
    print(f"uploader_bench: failed_frac = {len(lap.failures)}/{lap.n_calls}", file=sys.stderr)
    print(json.dumps({
        "correct": not lap.failures,
        "attempted": lap.n_calls,
        "failed": len(lap.failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
