"""Seeded BDE repository generator for the uploader benchmark.

Writes a repository in the layout ``BdeUploader`` discovers
(``level_0/<YYYYMMDDhhmmss>/<file>.crs``, ``level_5/...``) holding two
TPC-H-shaped tables, ``orders`` (key ``o_orderkey``) and ``lineitem`` (key
``l_id``, a unique surrogate: ``(l_orderkey, l_linenumber)`` is not unique in
TPC-H data). Every file is pipe-delimited with a header, a few rows of the
wrong field count (inside the error budget) and comments carrying control,
typographic and non-Latin characters for the cleaner.

Besides the files, the generator records what a correct uploader must
produce: the I/U/0/D counters of every table load and the final rows of
every table, already cleaned by this module's own character table (not the
package's), so the check is independent of the code under test.

The same ``(workload, seed, scale)`` always yields byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

A_NAME = "20240101000000"  # level-0 snapshot A
B_NAME = "20240201000000"  # level-0 snapshot B (A plus changes)
L5_NAMES = ["20240102000000"]
CHANGE_FILE = "xaud"
MAX_ERRORS = 5
BAD_ROWS_L0 = 3  # column-count errors per level-0 table file
BAD_ROWS_L5 = 1  # per level-5 table file

TABLES_CONF = f"""\
TABLE l5_change_table files {CHANGE_FILE}
TABLE orders key=o_orderkey row_tol=0.90,0.95 files orders
TABLE lineitem key=l_id row_tol=0.90,0.95 files lineitem
"""

#: BDE header type per column kind
_HEADER_TYPE = {"int": "integer", "dec": "decimal", "date": "date", "str": "varchar"}

#: (column, kind) per table, key first
SCHEMAS = {
    "orders": [
        ("o_orderkey", "int"), ("o_custkey", "int"), ("o_orderstatus", "str"),
        ("o_totalprice", "dec"), ("o_orderdate", "date"),
        ("o_orderpriority", "str"), ("o_clerk", "str"),
        ("o_shippriority", "int"), ("o_comment", "str"),
    ],
    "lineitem": [
        ("l_id", "int"), ("l_orderkey", "int"), ("l_partkey", "int"),
        ("l_suppkey", "int"), ("l_linenumber", "int"), ("l_quantity", "dec"),
        ("l_extendedprice", "dec"), ("l_discount", "dec"), ("l_tax", "dec"),
        ("l_returnflag", "str"), ("l_linestatus", "str"), ("l_shipdate", "date"),
        ("l_commitdate", "date"), ("l_receiptdate", "date"),
        ("l_shipinstruct", "str"), ("l_shipmode", "str"), ("l_comment", "str"),
    ],
}
LINEITEM_PER_ORDER = 4

#: raw fragment -> what the BDE cleaner must turn it into (the reference
#: bde_copy character map: C0/C1 controls and soft hyphen deleted,
#: guillemets to '"', middle dot to '.', NBSP and backslash to space,
#: Latin-1/Latin Extended-A kept, anything else to '?').
DIRTY = [
    ("\x07", ""), ("\x1b", ""), ("\x85", ""), ("\u00ad", ""),
    ("«", '"'), ("»", '"'), ("·", "."), ("\u00a0", " "), ("\\", " "),
    ("東", "?"), ("京", "?"), ("Ω", "?"), ("μ", "?"),
    ("Ō", "Ō"), ("ā", "ā"), ("é", "é"), ("\t", "\t"),
]
_DIRTY_WORDS = [
    "bell\x07ring", "esc\x1b[0m", "nel\x85line", "soft\u00adhyphen",
    "«quoted»", "dot·sep", "nb\u00a0sp", "back\\slash", "東京", "Ωμ",
    "Ōtaki", "Māori", "café", "tab\there",
]
_WORDS = (
    "carefully final deposits detect slyly regular accounts haggle "
    "furiously express requests sleep blithely ironic packages cajole "
    "quickly special pinto beans nag fluffily bold instructions wake "
    "even theodolites boost silent foxes integrate pending courts"
).split()


def clean(raw: str) -> str:
    """The cleaned form of a generated text value (fragments never overlap)."""
    for src, dst in DIRTY:
        raw = raw.replace(src, dst)
    return raw


@dataclass
class TableState:
    """One table's rows as raw ``.crs`` field lists, keyed by the key value."""

    name: str
    rows: dict[int, list[str]]

    def lines(self) -> list[str]:
        return ["|".join(self.rows[k]) + "|" for k in sorted(self.rows)]


@dataclass
class Plan:
    """What one workload's timed uploader call reads and must produce."""

    repo: str
    tables_conf: str
    #: (table, dataset, ninsert, nupdate, nnullupdate, ndelete) per LoadReport,
    #: in report order
    expected_reports: list[tuple] = field(default_factory=list)
    #: table -> final (raw) state after the timed call
    expected_final: dict[str, TableState] = field(default_factory=dict)
    #: ``.crs`` files the timed call reads
    run_files: list[str] = field(default_factory=list)
    #: data lines (good and bad) in ``run_files``
    run_rows: int = 0

    @property
    def run_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.run_files)


class _Gen:
    def __init__(self, seed: int, n_orders: int):
        self.rng = random.Random(seed)
        self.n_orders = n_orders
        r = self.rng
        # A pool of comments, some dirty, some empty (NULL); rows pick from it.
        pool = []
        for i in range(2048):
            words = r.sample(_WORDS, r.randint(2, 5))
            if i % 7 == 0:
                words.insert(r.randrange(len(words) + 1), r.choice(_DIRTY_WORDS))
            pool.append(" ".join(words))
        pool[::97] = [""] * len(pool[::97])
        self.comments = pool
        self.next_key = {"orders": n_orders + 1, "lineitem": n_orders * LINEITEM_PER_ORDER + 1}

    def _date(self, lo_days: int = 0) -> str:
        d = dt.date(1992, 1, 1) + dt.timedelta(days=lo_days + self.rng.randrange(2400))
        return d.isoformat()

    def _money(self, lo: int, hi: int) -> str:
        cents = self.rng.randrange(lo, hi)
        return f"{cents // 100}.{cents % 100:02d}"

    def order(self, key: int) -> list[str]:
        r = self.rng
        return [
            str(key), str(r.randrange(1, 15000)), r.choice("OFP"),
            self._money(90000, 50000000), self._date(),
            r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
            f"Clerk#{r.randrange(1, 1000):09d}", "0", r.choice(self.comments),
        ]

    def lineitem(self, key: int) -> list[str]:
        r = self.rng
        q = r.randrange(1, 51)
        return [
            str(key), str(r.randrange(1, self.n_orders + 1)),
            str(r.randrange(1, 20000)), str(r.randrange(1, 1000)),
            str(r.randrange(1, 8)), f"{q}.00", self._money(90000, 10500000),
            f"0.0{r.randrange(10)}", f"0.0{r.randrange(9)}", r.choice("RAN"),
            r.choice("OF"), self._date(), self._date(30), self._date(60),
            r.choice(["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]),
            r.choice(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]),
            r.choice(self.comments),
        ]

    def row(self, table: str, key: int) -> list[str]:
        return self.order(key) if table == "orders" else self.lineitem(key)

    def snapshot(self, table: str) -> TableState:
        n = self.n_orders * (1 if table == "orders" else LINEITEM_PER_ORDER)
        return TableState(table, {k: self.row(table, k) for k in range(1, n + 1)})

    def changed(self, table: str, old: list[str]) -> list[str]:
        """A copy of ``old`` that differs after cleaning (price and comment)."""
        new = list(old)
        price = 3 if table == "orders" else 6
        while new[price] == old[price]:
            new[price] = self._money(90000, 10500000)
        new[-1] = self.rng.choice(self.comments)
        return new

    def new_key(self, table: str) -> int:
        k = self.next_key[table]
        self.next_key[table] += 1
        return k

    def bad_lines(self, n: int) -> list[str]:
        # wrong field count: dropped by the reader, counted against max_errors
        return [f"{9_000_000 + self.rng.randrange(10**6)}|broken row {i}|" for i in range(n)]


def _header(table: str, start: str, end: str) -> str:
    cols = "".join(
        f"COLUMN\t {c:<30} {_HEADER_TYPE[k]} {'NOT NULL' if i == 0 else 'NULL'}\n"
        for i, (c, k) in enumerate(SCHEMAS.get(table, _CHANGE_SCHEMA))
    )
    return (
        f"HEDR\t 2.0.0\nSOFTWARE uploader_bench V1.0\nSCHEMA\t V1.0\nUSER\t bench\n"
        f"START\t {start}\nEND\t {end}\nSQL\t SELECT * FROM {table}\nTABLE\t{table}\n"
        f"{cols}DESC\nSIZE          0\n{{CRS-DATA}}\n"
    )


_CHANGE_SCHEMA = [
    ("id", "int"), ("tablename", "str"), ("tablekeyvalue", "int"),
    ("action", "str"), ("timestamp", "str"),
]


def _ts(name: str) -> str:
    return f"{name[:4]}-{name[4:6]}-{name[6:8]} 00:00:00"


def _write(path: str, header: str, lines: list[str], bad: list[str], rng: random.Random) -> int:
    """Write a .crs file with ``bad`` lines spliced in at seeded positions;
    returns the number of data lines."""
    body = list(lines)
    for b in bad:
        body.insert(rng.randrange(len(body) + 1), b)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write(header)
        fh.write("\n".join(body))
        fh.write("\n")
    return len(body)


def _pick(rng: random.Random, keys: list[int], frac: float) -> list[int]:
    return rng.sample(keys, max(1, round(len(keys) * frac)))


WORKLOADS = ("l5_merge", "l0_diff")


def generate(root: str, workload: str, seed: int, n_orders: int) -> Plan:
    """Write the repository for ``workload`` under ``root/repo`` and return
    its :class:`Plan`. ``lineitem`` gets ``4 * n_orders`` rows."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    g = _Gen(seed, n_orders)
    repo = os.path.join(root, "repo")
    plan = Plan(repo, TABLES_CONF)
    a = {t: g.snapshot(t) for t in SCHEMAS}

    def write_l0(name: str, states: dict[str, TableState], timed: bool) -> None:
        for t, st in states.items():
            p = os.path.join(repo, "level_0", name, f"{t}.crs")
            n = _write(p, _header(t, _ts(name), _ts(name)), st.lines(),
                       g.bad_lines(BAD_ROWS_L0), g.rng)
            if timed:
                plan.run_files.append(p)
                plan.run_rows += n

    if workload == "l0_diff":
        write_l0(A_NAME, a, timed=False)
        b = {}
        for t, st in a.items():
            rows = dict(st.rows)
            keys = sorted(rows)
            upd = _pick(g.rng, keys, 0.03)
            dele = _pick(g.rng, sorted(set(keys) - set(upd)), 0.01)
            for k in upd:
                rows[k] = g.changed(t, rows[k])
            for k in dele:
                del rows[k]
            ins = [g.new_key(t) for _ in range(max(1, round(len(keys) * 0.01)))]
            for k in ins:
                rows[k] = g.row(t, k)
            b[t] = TableState(t, rows)
            plan.expected_reports.append((t, B_NAME, len(ins), len(upd), 0, len(dele)))
        write_l0(B_NAME, b, timed=True)
        plan.expected_final = b
        return plan

    # l5_merge: A as the pre-state, then one day of keyed changes
    write_l0(A_NAME, a, timed=False)
    cur = {t: TableState(t, dict(st.rows)) for t, st in a.items()}
    prev_end = _ts(A_NAME)
    for day, name in enumerate(L5_NAMES):
        end = _ts(name)
        chg: list[tuple[str, int, str]] = []
        for t in SCHEMAS:
            rows = cur[t].rows
            keys = sorted(rows)
            upd = _pick(g.rng, keys, 0.02)
            rest = sorted(set(keys) - set(upd))
            dele = _pick(g.rng, rest, 0.005)
            nul = _pick(g.rng, sorted(set(rest) - set(dele)), 0.003)
            ins = [g.new_key(t) for _ in range(max(1, round(len(keys) * 0.005)))]
            for k in upd:
                rows[k] = g.changed(t, rows[k])
            for k in dele:
                del rows[k]
            for k in ins:
                rows[k] = g.row(t, k)
            incoming = {k: rows[k] for k in upd + nul + ins}
            st = TableState(t, incoming)
            p = os.path.join(repo, "level_5", name, f"{t}.crs")
            plan.run_rows += _write(p, _header(t, prev_end, end), st.lines(),
                                    g.bad_lines(BAD_ROWS_L5), g.rng)
            plan.run_files.append(p)
            plan.expected_reports.append((t, name, len(ins), len(upd), len(nul), len(dele)))
            # The change table names each key with a declared action (advisory
            # only), in mixed case, some twice; decoys name keys in no table
            # state and rows of a table this config does not load.
            spell = [t, t.upper(), t.capitalize()]
            for k, act in ([(k, "U") for k in upd + nul] + [(k, "D") for k in dele]
                           + [(k, "I") for k in ins]):
                chg.append((g.rng.choice(spell), k, act))
                if g.rng.random() < 0.05:
                    chg.append((g.rng.choice(spell), k, "U"))
            for _ in range(max(1, len(keys) // 500)):
                chg.append((t, 50_000_000 + g.rng.randrange(10**6), "D"))
        for _ in range(len(chg) // 20):
            chg.append(("crs_parcel", g.rng.randrange(1, 10**6), "U"))
        g.rng.shuffle(chg)
        lines = [f"{i}|{tn}|{k}|{act}|{end}|" for i, (tn, k, act) in enumerate(chg, 1)]
        p = os.path.join(repo, "level_5", name, f"{CHANGE_FILE}.crs")
        plan.run_rows += _write(p, _header("l5_change_table", prev_end, end), lines, [], g.rng)
        plan.run_files.append(p)
        prev_end = end
    plan.expected_final = cur
    return plan
