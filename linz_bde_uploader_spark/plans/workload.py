"""Deterministic BDE-merge workload over the synthetic TPC-H-ish tables.

The reference's own e2e tests fabricate an increment by mutating a snapshot
file (t/linz_bde_uploader.t:1062-1075). This module does the same thing at
data scale, with *pure arithmetic* mutations so the identical scenario can
be reproduced in ANSI SQL for the DuckDB oracle:

``orders`` is the current table (key = o_orderkey); the incoming snapshot
- deletes keys divisible by 97,
- updates o_totalprice (+5.0 exactly — FP-exact, engine-independent) on
  keys divisible by 13,
- changes the "alternate unique" column o_custkey (+1,000,000) on keys
  divisible by 19 → classifies as 'X',
- inserts new keys (old key + 30,000,000) for keys divisible by 101.

The change table declares those keys plus null-update decoys (keys
divisible by 11, data unchanged → must classify '0'), with mixed-case
tablenames and rows for other tables (exercises P9 lowercase + P10 filter).

``customer`` hosts the key-swap scenario (J4): keys divisible by 50 get a
new key (+20,000) while the unique c_name stays — the old key must be
pulled into the change set by repair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# scenario constants — mirrored verbatim in the oracle SQL
DELETE_MOD = 97
UPDATE_MOD = 13
UNIQUE_MOD = 19
NULLUPD_MOD = 11
INSERT_MOD = 101
INSERT_KEY_SHIFT = 30_000_000
PRICE_BUMP = 5.0
CUSTKEY_SHIFT = 1_000_000
KEYSWAP_MOD = 50
KEYSWAP_SHIFT = 20_000


#: memoized scan-split estimate per (parquet path, maxPartitionBytes) —
#: file metadata, not query results. Contract: the file set behind a
#: path is immutable for the process lifetime (true for the bench/test
#: sf_dirs); a service that rewrites a table path in place must clear
#: this dict (and _SCHEMAS) or key loads by table version.
_SCAN_SPLITS: dict[tuple[str, int], int] = {}


def _split_conf_bytes(spark: SparkSession | None) -> int:
    """``spark.sql.files.maxPartitionBytes`` from the session conf
    (suffixed forms like '128m' included), defaulting to Spark's
    128 MB. The estimate still approximates: openCostInBytes padding
    and multi-file packing are ignored, which only ever UNDERcounts
    splits for the single-file/row-group layouts this guards."""
    default = 128 * 1024 * 1024
    if spark is None:
        return default
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes",
                             str(default))).strip().lower()
    mult = 1
    for suf, m in (("k", 1024), ("m", 1024**2), ("g", 1024**3),
                   ("t", 1024**4), ("p", 1024**5)):
        if raw.endswith(suf + "b"):
            raw, mult = raw[:-2], m
            break
        if raw.endswith(suf):
            raw, mult = raw[:-1], m
            break
    if raw.endswith("b"):
        raw = raw[:-1]
    try:
        return int(raw) * mult
    except ValueError:
        return default


def _scan_splits(path: str, max_split_bytes: int = 128 * 1024 * 1024) -> int:
    """Estimate how many partitions Spark's scan will produce for a
    parquet file: byte-range splits of ``maxPartitionBytes``, and a
    split without a row-group midpoint yields no rows, so the
    effective parallelism is bounded by the row-group count.
    Read from the footer once per path — the previous implementation
    asked ``df.rdd.getNumPartitions()``, which compiles an RDD
    conversion plan on the DRIVER for every call; at ~140 query
    call-sites that is pure repeated driver work (guide §5: the driver
    should do almost no data work)."""
    memo_key = (path, max_split_bytes)
    if memo_key not in _SCAN_SPLITS:
        import os

        import pyarrow.parquet as pq

        # A "table.parquet" path may be a single FILE (the testdata
        # layout) or a Spark-written DIRECTORY of part files (how the
        # test fixtures materialize); sum bytes and row groups across
        # whichever layout is present.
        if os.path.isdir(path):
            parts = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
        else:
            parts = [path]
        total_bytes = sum(os.path.getsize(p) for p in parts)
        row_groups = sum(
            pq.ParquetFile(p).metadata.num_row_groups for p in parts
        )
        size_splits = max(1, -(-total_bytes // max_split_bytes))
        _SCAN_SPLITS[memo_key] = min(size_splits, max(1, row_groups))
    return _SCAN_SPLITS[memo_key]


#: memoized parquet schema per file path — file metadata, not query
#: results (the file set is immutable for a given sf_dir). A bare
#: ``spark.read.parquet(path)`` runs driver-side schema inference on
#: EVERY call (~210 ms measured vs ~37 ms schema-pinned); across ~200
#: load call-sites per bench lap that is tens of seconds of pure
#: repeated driver work (guide §5/§6 — cache file metadata, keep the
#: driver out of per-query data work). Keyed by path plus the one conf
#: that changes what inference returns for the events layout.
_SCHEMAS: dict[tuple[str, str], object] = {}


def _pinned_reader(spark: SparkSession, path: str):
    conf_key = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    key = (path, conf_key)
    sch = _SCHEMAS.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _SCHEMAS[key] = sch
    return spark.read.schema(sch)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    df = _pinned_reader(spark, path).parquet(path)
    if name in ("documents", "embeddings"):
        # The synthetic documents/embeddings parquet is a single row
        # group, so the scan yields ONE partition and every per-row
        # sketch (minhash/simhash/embedding hash, k-means assignment,
        # pair cosine) runs single-threaded. A row-group can't be
        # split, so fan out explicitly: ~10 MB shuffled once buys
        # full-core parallelism for the expensive per-row work. (On a
        # real corpus the input arrives as many files/row groups and
        # this is a no-op-sized safety net.)
        par = spark.sparkContext.defaultParallelism
        if _scan_splits(path, _split_conf_bytes(spark)) < par:
            df = df.repartition(par)
    return df


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with a layout-independent timestamp contract.

    The synthetic events.parquet has shipped in two physical layouts:
    TIMESTAMP(NANOS) (readable only as raw int64 nanos via
    ``spark.sql.legacy.parquet.nanosAsLong``) and plain TIMESTAMP(MICROS).
    Downstream operators rely on a fixed contract regardless:

    - ``ts``      BIGINT epoch **nanos** (exact integer arithmetic)
    - ``ts_ntz``  µs wall-clock ``timestamp_ntz`` (what a µs-precision
      reader like DuckDB sees)

    so this reader normalizes whichever layout it finds into that shape.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = load(spark, sf_dir, "events")
    ts_type = dict(e.dtypes)["ts"]
    if ts_type == "bigint":  # nanos-as-long layout
        ts_ntz = F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        return e.withColumn("ts_ntz", ts_ntz)
    # native µs timestamp layout: synthesize the raw-nanos column.
    # unix_micros needs TIMESTAMP; the session runs UTC (session.py), so
    # the ntz→ltz cast is epoch-identity.
    ts_ntz = F.col("ts").cast("timestamp_ntz")
    return (
        e.withColumn("ts_ntz", ts_ntz)
        .withColumn("ts", F.unix_micros(ts_ntz.cast("timestamp")) * F.lit(1000))
    )


def orders_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders")


def orders_incoming(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = orders_current(spark, sf_dir)
    k = F.col("o_orderkey")
    survivors = (
        o.filter(k % DELETE_MOD != 0)
        .withColumn(
            "o_totalprice",
            F.when(k % UPDATE_MOD == 0, F.col("o_totalprice") + PRICE_BUMP).otherwise(
                F.col("o_totalprice")
            ),
        )
        .withColumn(
            "o_custkey",
            F.when(k % UNIQUE_MOD == 0, F.col("o_custkey") + CUSTKEY_SHIFT).otherwise(
                F.col("o_custkey")
            ),
        )
    )
    fresh = o.filter(k % INSERT_MOD == 0).withColumn(
        "o_orderkey", k + INSERT_KEY_SHIFT
    )
    return survivors.unionByName(fresh.select(o.columns))


def orders_change_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The l5_change_table analog: (tablename, tablekeyvalue, action) with
    mixed-case names, declared-but-advisory actions, and decoy rows for a
    different table."""
    o = orders_current(spark, sf_dir)
    k = F.col("o_orderkey")
    name = F.when(k % 2 == 0, F.lit("ORDERS")).otherwise(F.lit("Orders"))
    deletes = o.filter(k % DELETE_MOD == 0).select(
        name.alias("tablename"), k.alias("tablekeyvalue"), F.lit("D").alias("action")
    )
    updates = o.filter(
        (k % DELETE_MOD != 0)
        & ((k % UPDATE_MOD == 0) | (k % UNIQUE_MOD == 0) | (k % NULLUPD_MOD == 0))
    ).select(
        name.alias("tablename"), k.alias("tablekeyvalue"), F.lit("U").alias("action")
    )
    inserts = o.filter(k % INSERT_MOD == 0).select(
        name.alias("tablename"),
        (k + INSERT_KEY_SHIFT).alias("tablekeyvalue"),
        F.lit("I").alias("action"),
    )
    decoys = o.filter(k % 500 == 0).select(
        F.lit("other_table").alias("tablename"),
        k.alias("tablekeyvalue"),
        F.lit("U").alias("action"),
    )
    return deletes.unionByName(updates).unionByName(inserts).unionByName(decoys)


def orders_change_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 + P10: lowercase tablename, filter to this table, project distinct
    keys (the reference's _tmp_inc_change projection, sql/...:1686-1717)."""
    chg = orders_change_table(spark, sf_dir)
    return (
        chg.filter(F.lower(F.col("tablename")) == "orders")
        .select(F.col("tablekeyvalue").alias("o_orderkey"))
        .distinct()
    )


def customer_keyswap_incoming(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return c.withColumn(
        "c_custkey", F.when(k % KEYSWAP_MOD == 0, k + KEYSWAP_SHIFT).otherwise(k)
    )


def customer_keyswap_change_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return c.filter(k % KEYSWAP_MOD == 0).select(
        (k + KEYSWAP_SHIFT).alias("c_custkey")
    )
