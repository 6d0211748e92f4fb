"""Extension hooks (reference §2.9): post-load function registry,
TablesAffected DSL, conditional finish SQL, shell event hooks.

The reference exposes five extension points around the load loop, all
driver-side orchestration (no data-plane UDFs exist in the reference).
Four are implemented here; its per-connection SQL statement lists have no
database session to run in:

- **Post-level-0 / post-upload functions** — every schema function named
  ``bde_postlevel0_%`` / ``bde_postupload_%`` with signature
  ``INT f(INT upload_id)`` runs in alphabetical order
  (sql/02-bde_control_functions.sql.in:2595-2676). Here: a registry of
  Python callables ``(ctx) -> int`` keyed by name, discovered by prefix.
- **TablesAffected DSL** — the guard predicate for conditional SQL:
  ``[any|all] [level0|level0_dataset] [loaded|affected]`` over a table
  list, evaluated against upload_stats (:2722-2834).
- **Conditional finish SQL** — ``;``-separated commands, each optionally
  guarded by ``if <test> <tables...> [loaded|affected]? <cmd>``; ``{id}``
  substituted (lib/LINZ/BdeDatabase.pm:597-636).
- **Shell event hooks** — ``start/finish/error/start_dataset/
  finish_dataset`` commands with ``{id},{dataset},{level},{pid}``
  substitution (lib/LINZ/BdeUpload.pm:410-421,1102-1144).
"""

from __future__ import annotations

import re
import subprocess
from collections.abc import Callable
from dataclasses import dataclass, field

from linz_bde_uploader_spark.meta.store import MetaStore

POST_LEVEL0_PREFIX = "bde_postlevel0_"
POST_UPLOAD_PREFIX = "bde_postupload_"


@dataclass
class HookContext:
    """What a post-load function receives (the reference passes only the
    upload id; the Spark build adds the session + store handles)."""

    upload_id: int
    meta: MetaStore
    spark: object | None = None
    dataset: str | None = None
    level: str | None = None


class HookRegistry:
    """Named post-load callables, run in alphabetical name order —
    mirroring _bde_RunBdeFunctions' ``ORDER BY proname`` discovery."""

    def __init__(self) -> None:
        self._fns: dict[str, Callable[[HookContext], int]] = {}

    def register(self, name: str, fn: Callable[[HookContext], int] | None = None):
        """``registry.register("bde_postlevel0_analyze", fn)`` or decorator
        ``@registry.register("bde_postupload_refresh")``."""
        if fn is None:
            def deco(f):
                self._fns[name.lower()] = f
                return f
            return deco
        self._fns[name.lower()] = fn
        return fn

    def run_prefix(self, prefix: str, ctx: HookContext) -> int:
        """Run every registered function whose name starts with ``prefix``,
        alphabetically; a failure aborts with the task name (reference
        RAISE EXCEPTION '%% task %% failed'). Returns #functions run."""
        n = 0
        for name in sorted(self._fns):
            if not name.startswith(prefix):
                continue
            try:
                self._fns[name](ctx)
            except Exception as e:
                raise RuntimeError(f"{prefix} task {name} failed: {e}") from e
            n += 1
        return n

    def run_post_level0(self, ctx: HookContext) -> int:
        return self.run_prefix(POST_LEVEL0_PREFIX, ctx)

    def run_post_upload(self, ctx: HookContext) -> int:
        return self.run_prefix(POST_UPLOAD_PREFIX, ctx)


def tables_affected(
    meta: MetaStore, upl_id: int, tables: list[str], test: str
) -> bool:
    """bde_TablesAffected (:2722-2834), faithfully:

    options (whitespace-separated, later options override earlier):
      ``any``/``all``       — quantifier over the table list (default all)
      ``level0``            — only level-0 stats rows count
      ``level0_dataset``    — ditto, and the upload must itself contain a
                              level-0 load, else False immediately
      ``loaded``/``affected`` — 'loaded' counts any stats row; 'affected'
                              requires ninsert/nupdate/ndelete > 0
    """
    loadedok = False
    l5ok = True
    anyok = False

    stats = meta._read("upload_stats")
    upl_rows = {r["id"]: r for r in meta._read("upload")}
    tbl_rows = meta._read("upload_table")
    schema_name = upl_rows.get(upl_id, {}).get("schema_name")

    for opt in re.split(r"\s+", test.lower().strip()):
        if opt == "all":
            anyok = False
        elif opt == "any":
            anyok = True
        elif opt in ("level0", "level_0"):
            l5ok = False
        elif opt in ("level0_dataset", "level_0_dataset"):
            l5ok = False
            if not any(s["upl_id"] == upl_id and s["type"] == "0" for s in stats):
                return False
        elif opt == "loaded":
            loadedok = True
        elif opt == "affected":
            loadedok = False

    ok = False
    for table in tables:
        tname = table.lower()
        tbl = next(
            (t for t in tbl_rows
             if t["table_name"] == tname and t["schema_name"] == schema_name),
            None,
        )
        if tbl is None:
            ok = False
        else:
            this_upload_datasets = {
                s["dataset"] for s in stats
                if s["upl_id"] == upl_id and s["tbl_id"] == tbl["id"]
            }
            ok = any(
                (s["tbl_id"] == tbl["id"])
                and (s["upl_id"] == upl_id or s["dataset"] in this_upload_datasets)
                and (s["type"] == "0" or l5ok)
                and (loadedok or s["ninsert"] > 0 or s["nupdate"] > 0 or s["ndelete"] > 0)
                for s in stats
            )
        if ok and anyok:
            break
        if not ok and not anyok:
            break
    return ok


#: the reference's guard regex, transliterated from _runFinishSql
#: (lib/LINZ/BdeDatabase.pm:604-621)
_GUARD_RE = re.compile(
    r"""^\s*if\s+
        (
            (?:any\s+|all\s+|)?
            (?:level_?0(?:_dataset)?\s+)?
        )
        (
            \w+(?:\s+\w+)*?
        )
        (
            \s+(?:loaded|affected)
        )?
        \s*\?\s*(.*?)\s*$""",
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)


def run_finish_sql(
    sql_text: str,
    runner: Callable[[str], object],
    meta: MetaStore,
    upl_id: int,
) -> list[str]:
    """Conditional finish SQL: split on ';', evaluate guards via
    ``tables_affected``, substitute ``{id}``, run survivors through
    ``runner`` (e.g. ``spark.sql``). Returns the commands actually run."""
    ran = []
    for cmd in (c for c in sql_text.split(";") if c.strip()):
        m = _GUARD_RE.match(cmd)
        if m:
            test = ((m.group(1) or "") + (m.group(3) or "")).strip()
            test = re.sub(r"\s+", " ", test)
            tables = m.group(2).split()
            cmd = m.group(4)
            if not tables_affected(meta, upl_id, tables, test):
                continue
        cmd = cmd.replace("{id}", str(upl_id))
        try:
            runner(cmd)
        except Exception as e:
            raise RuntimeError(f"Cannot run finishing SQL: {cmd}: {e}") from e
        ran.append(cmd)
    return ran


@dataclass
class EventHooks:
    """Shell commands fired on lifecycle events; ``{id},{dataset},{level},
    {pid}`` substituted. Failures are reported, never fatal (the reference
    logs and continues)."""

    commands: dict[str, str] = field(default_factory=dict)
    timeout_secs: float = 60.0

    EVENTS = ("start", "finish", "error", "start_dataset", "finish_dataset")

    def fire(
        self,
        event: str,
        upload_id: int | None,
        dataset: str = "",
        level: str = "",
    ) -> bool:
        if upload_id is None:  # no job, no events (lib/LINZ/BdeUpload.pm:1106)
            return False
        cmd = self.commands.get(event)
        if not cmd:
            return False
        import os

        cmd = (
            cmd.replace("{id}", str(upload_id))
            .replace("{dataset}", dataset)
            .replace("{level}", level)
            .replace("{pid}", str(os.getpid()))
        )
        try:
            subprocess.run(cmd, shell=True, timeout=self.timeout_secs, check=False)
            return True
        except Exception:
            return False
