"""Per-layer tracing for the uploader benchmark, from outside the package.

:class:`Tracer` replaces, for the length of a traced run, the module
attributes and methods the uploader calls into each layer with wrappers that

- open a span (name, layer, parent, wall time) and set a Spark job group per
  span, so every job, stage and task the layer launches can be attributed to
  it from the event log;
- cost the lazy layers (reading, cleaning, negotiation, classification,
  merge) by writing the frame a call receives and the frame it returns to
  Spark's ``noop`` sink: a layer's self time is the difference. These probe
  writes run in job groups of their own, and their time is subtracted from
  every span that was open while they ran.

:func:`rollup_eventlog` reads Spark's (uncompressed, non-rolling) event log
and sums jobs, stages, tasks, executor run time, shuffle bytes written and
spill per job group. :meth:`Tracer.layer_metrics` joins the two into the
per-layer metrics of one uploader call.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"
STAGE_METHODS = ("stage_replace", "stage_incremental", "stage_full_incremental")
META_METHODS = (
    "create_upload", "heartbeat", "finish_upload", "release_expired", "purge_old",
    "check_timeout", "register_table", "acquire_table_lock", "table_status",
    "record_load", "spark_df",
)
DISCOVERY_FUNCS = (
    "list_datasets", "pending_level0", "pending_level5", "is_complete", "normalize_before",
)
CHANGED_ACTIONS = ("I", "U", "D", "X")


@dataclass
class GroupStats:
    """What Spark ran under one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def rollup_eventlog(path: str) -> dict[str | None, GroupStats]:
    """Sum an event log per ``spark.jobGroup.id`` (``None``: no group).

    Jobs come from job-start events; stages, tasks and the task metrics from
    stage-completed events, attributed to the group of the job that
    submitted the stage. Skipped stages never complete and are not counted.
    Spill is memory plus disk bytes spilled.
    """
    out: dict[str | None, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[tuple[int, int], str | None] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                out[(e.get("Properties") or {}).get(GROUP_PROP)].jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                si = e["Stage Info"]
                stage_group[(si["Stage ID"], si["Stage Attempt ID"])] = (
                    (e.get("Properties") or {}).get(GROUP_PROP)
                )
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                g = out[stage_group.get((si["Stage ID"], si["Stage Attempt ID"]))]
                acc = {a["Name"]: int(a.get("Value") or 0) for a in si.get("Accumulables", [])
                       if a.get("Name", "").startswith("internal.metrics.")}
                g.stages += 1
                g.tasks += si["Number of Tasks"]
                g.executor_run_ms += acc.get("internal.metrics.executorRunTime", 0)
                g.shuffle_write_bytes += acc.get("internal.metrics.shuffle.write.bytesWritten", 0)
                g.spill_bytes += (acc.get("internal.metrics.memoryBytesSpilled", 0)
                                  + acc.get("internal.metrics.diskBytesSpilled", 0))
    return dict(out)


@dataclass
class Span:
    sid: int
    call: int
    layer: str
    name: str
    parent: "Span | None"
    group: str
    wall_s: float = 0.0
    #: seconds of probe writes that ran while this span was open
    probe_s: float = 0.0

    @property
    def own_s(self) -> float:
        """Wall time without the tracer's probe writes."""
        return self.wall_s - self.probe_s


@dataclass
class Probe:
    call: int
    label: str
    group: str
    seconds: float
    values: dict


@dataclass
class _CallState:
    #: id(frame) -> (frame, probe s); holding the frame keeps its id unique
    cost: dict[int, tuple[object, float]] = field(default_factory=dict)
    pending_read_s: float = 0.0  # scans of read_crs frames not yet cleaned
    sums: dict[str, float] = field(default_factory=lambda: defaultdict(float))


class Tracer:
    """Spans, job groups and noop probes around the uploader's layer calls."""

    def __init__(self, spark, prefix: str = "ub"):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.spans: list[Span] = []
        self.probes: list[Probe] = []
        self.calls: dict[int, _CallState] = {}
        self._stack: list[Span] = []
        self._call = -1
        self._undo: list[tuple[object, str, object]] = []

    # -- spans and probes ----------------------------------------------------

    @contextlib.contextmanager
    def _group(self, group: str):
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty(GROUP_PROP, prev)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), self._call, layer, name, parent,
                 f"{self.prefix}.s{len(self.spans)}")
        self.spans.append(s)
        self._stack.append(s)
        t0 = time.perf_counter()
        try:
            with self._group(s.group):
                yield s
        finally:
            s.wall_s = time.perf_counter() - t0
            self._stack.pop()

    @contextlib.contextmanager
    def call(self):
        """Trace one uploader call: wrappers installed, root span open."""
        self._call += 1
        self.calls[self._call] = _CallState()
        self.install()
        try:
            with self.span("uploader", "run") as root:
                yield root
        finally:
            self.uninstall()

    def probe(self, label: str, df, *aggs) -> Probe:
        """Write ``df`` to the noop sink, observing its row count and
        ``aggs``; the time is charged to no span."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        n = len(self.probes)
        obs = Observation(f"{self.prefix}_probe{n}")
        group = f"{self.prefix}.p{n}"
        with self._group(group):
            t0 = time.perf_counter()
            (df.observe(obs, F.count(F.lit(1)).alias("rows"), *aggs)
               .write.format("noop").mode("overwrite").save())
            dt = time.perf_counter() - t0
        for s in self._stack:
            s.probe_s += dt
        p = Probe(self._call, label, group, dt, dict(obs.get))
        self.probes.append(p)
        self.state.cost[id(df)] = (df, dt)
        return p

    @property
    def state(self) -> _CallState:
        return self.calls[self._call]

    def _cost(self, df) -> float:
        c = self.state.cost.get(id(df))
        return self.probe("input", df).seconds if c is None else c[1]

    # -- wrappers ------------------------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        wrapper = functools.wraps(orig)(make(orig))
        setattr(owner, attr, wrapper)

    def _spanned(self, layer: str, name: str):
        def make(orig):
            def w(*a, **k):
                with self.span(layer, name):
                    return orig(*a, **k)
            return w
        return make

    def install(self) -> None:
        from pyspark.sql import functions as F

        from linz_bde_uploader_spark.meta.store import MetaStore
        from linz_bde_uploader_spark.plans import discovery
        from linz_bde_uploader_spark.plans import uploader as U
        from linz_bde_uploader_spark.sinks import target as T

        changed = F.count(F.when(F.col("_action").isin(*CHANGED_ACTIONS), 1)).alias("changed")

        def read_crs(orig):
            def w(spark, path, *a, **k):
                with self.span("crs", "read_crs"):
                    df, hdr = orig(spark, path, *a, **k)
                p = self.probe("crs.scan", df)
                if not inspect.signature(orig).bind(spark, path, *a, **k).arguments.get("cast", True):
                    self.state.pending_read_s += p.seconds  # goes on to be cleaned
                return df, hdr
            return w

        def negotiate(orig):
            def w(df, *a, **k):
                t_in = self._cost(df)
                sums = self.state.sums
                sums["clean.self_s"] += t_in - self.state.pending_read_s
                self.state.pending_read_s = 0.0
                with self.span("negotiate", "negotiate_columns"):
                    out = orig(df, *a, **k)
                sums["negotiate.self_s"] += self.probe("negotiate.out", out).seconds - t_in
                return out
            return w

        def classify(name):
            def make(orig):
                sig = inspect.signature(orig)

                def w(*a, **k):
                    args = sig.bind(*a, **k).arguments
                    with self.span("diff", name):
                        out = orig(*a, **k)
                    p = self.probe("diff.classify", out, changed)
                    sums = self.state.sums
                    sums["diff.classify_s"] += p.seconds - self._cost(args["incoming"])
                    sums["diff.keys_changed"] += p.values["changed"]
                    key = args["key"]
                    if "change_keys" in args:
                        compared = args["change_keys"].select(key).distinct()
                    else:
                        compared = (args["current"].select(key)
                                    .unionByName(args["incoming"].select(key)).distinct())
                    sums["diff.keys_compared"] += self.probe("diff.compared", compared).values["rows"]
                    return out
                return w
            return make

        def apply_changes(orig):
            sig = inspect.signature(orig)

            def w(*a, **k):
                args = sig.bind(*a, **k).arguments
                with self.span("diff", "apply_changes"):
                    out = orig(*a, **k)
                t_out = self.probe("diff.apply", out).seconds
                self.state.sums["diff.apply_s"] += t_out - self._cost(args["actions"])
                return out
            return w

        self._patch(U, "read_crs", read_crs)
        self._patch(U, "negotiate_columns", negotiate)
        self._patch(T, "classify_incremental_changes", classify("classify_incremental_changes"))
        self._patch(T, "full_table_diff", classify("full_table_diff"))
        self._patch(T, "merge_stats", self._spanned("diff", "merge_stats"))
        self._patch(T, "apply_changes", apply_changes)
        self._patch(T, "check_row_tolerance", self._spanned("tolerance", "check_row_tolerance"))
        for m in STAGE_METHODS:
            self._patch(T.ParquetTarget, m, self._spanned("target", m))
        for m in ("commit", "repair"):
            self._patch(T.DatasetManifest, m, self._spanned("target", f"manifest.{m}"))
        for m in META_METHODS:
            self._patch(MetaStore, m, self._spanned("meta", m))
        for f in DISCOVERY_FUNCS:
            self._patch(discovery, f, self._spanned("discovery", f))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- rollup ----------------------------------------------------------------

    def layer_metrics(self, call: int, groups: dict[str | None, GroupStats]) -> dict[str, float]:
        """Per-layer metrics of one traced uploader call. Job, stage and task
        counts are exclusive: a job belongs to the innermost span open when
        it ran, so nested spans never count a job twice."""
        spans = [s for s in self.spans if s.call == call]
        probes = [p for p in self.probes if p.call == call]
        zero = GroupStats()

        def pick(layer, names=None):
            return [s for s in spans if s.layer == layer and (names is None or s.name in names)]

        def own_s(ss):  # outermost spans of the layer only
            return sum(s.own_s for s in ss if s.parent is None or s.parent.layer != s.layer)

        def ev(items, attr):
            return sum(getattr(groups.get(x.group, zero), attr) for x in items)

        crs, stage = pick("crs"), pick("target", STAGE_METHODS)
        merge = pick("diff", ("merge_stats",))
        scans = [p for p in probes if p.label == "crs.scan"]
        classified = [p for p in probes if p.label == "diff.classify"]
        root = next(s for s in spans if s.layer == "uploader")
        sums = self.calls[call].sums
        compared = sums.get("diff.keys_compared", 0.0)
        return {
            "crs.read_s": own_s(crs),
            "crs.read_jobs": ev(crs, "jobs"),
            "crs.scan_s": sum(p.seconds for p in scans),
            "crs.scan_tasks": ev(scans, "tasks"),
            "crs.rows": sum(p.values["rows"] for p in scans),
            "crs.executor_run_s": (ev(crs, "executor_run_ms") + ev(scans, "executor_run_ms")) / 1000,
            "clean.self_s": sums.get("clean.self_s", 0.0),
            "negotiate.self_s": sums.get("negotiate.self_s", 0.0),
            "diff.classify_s": sums.get("diff.classify_s", 0.0),
            "diff.merge_stats_s": own_s(merge),
            "diff.merge_stats_jobs": ev(merge, "jobs"),
            "diff.apply_s": sums.get("diff.apply_s", 0.0),
            "diff.keys_changed": sums.get("diff.keys_changed", 0.0),
            "diff.useful_frac": sums.get("diff.keys_changed", 0.0) / compared if compared else 0.0,
            "diff.shuffle_bytes": ev(classified, "shuffle_write_bytes"),
            "target.stage_s": own_s(stage),
            "target.stage_jobs": ev(stage, "jobs"),
            "target.stage_stages": ev(stage, "stages"),
            "target.stage_tasks": ev(stage, "tasks"),
            "target.commit_s": own_s(pick("target", ("manifest.commit", "manifest.repair"))),
            "target.shuffle_bytes": ev(stage, "shuffle_write_bytes"),
            "target.spill_bytes": ev(stage, "spill_bytes"),
            "target.executor_run_s": ev(stage, "executor_run_ms") / 1000,
            "tolerance.checks": len(pick("tolerance")),
            "meta.s": own_s(pick("meta")),
            "meta.calls": len(pick("meta")),
            "discovery.s": own_s(pick("discovery")),
            "uploader.self_s": root.own_s - sum(s.own_s for s in spans if s.parent is root),
            "uploader.jobs_outside": ev([root], "jobs"),
            "trace.probe_s": root.probe_s,
        }

    def span_counts(self, call: int, groups: dict[str | None, GroupStats]) -> tuple:
        """(layer, name, jobs, stages) per span of a call, in call order:
        identical for two calls that ran the same Spark work."""
        return tuple(
            (s.layer, s.name, groups.get(s.group, GroupStats()).jobs,
             groups.get(s.group, GroupStats()).stages)
            for s in self.spans if s.call == call
        )

    def span_jobs(self, call: int, groups: dict[str | None, GroupStats]) -> int:
        """Jobs of the call's own spans, probes excluded."""
        return sum(groups.get(s.group, GroupStats()).jobs for s in self.spans if s.call == call)
