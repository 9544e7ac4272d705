"""Sources and sinks (SURVEY.md §2.1, S1-S11).

The reference's source surface is: CSV external tables with inferred
schema (S3/S4, reference ``prefect/flows/etl_kaggle_to_big_query.py:65-78,
114-127``; read here with the types the CTAS declares), CTAS
materialization into typed + partitioned + clustered tables (S5/S6,
``:81-111,130-163``), table scans registered as temp views (S7/S9,
``prefect/spark/fifa_spark.py:24-32``), and a table sink (S8,
``fifa_spark.py:102-104``). Here each becomes a thin wrapper over
``spark.read`` / ``DataFrameWriter`` so Catalyst sees a plain
declarative scan/write and can push filters and prune columns/
partitions on its own.

Scale notes (100 TB posture):

- ``read_table`` is a bare parquet scan: predicate pushdown, column
  pruning and partition pruning all happen below it for free.
- ``write_clustered`` reproduces BigQuery ``PARTITION BY ... CLUSTER
  BY ...`` with hive-style directory partitioning plus a sort within
  each output file. Parquet min/max column stats over the sorted
  cluster columns then give scan-time row-group pruning — the OSS
  analogue of BigQuery clustering (SURVEY.md §4).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fifa_data_pipeline_spark.session import max_partition_bytes

#: Tables in the driver testdata (TESTDATA.md).
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _engine_confs(spark: SparkSession) -> None:
    """Right-size runtime-settable knobs for CALLER-PROVIDED sessions
    (the correctness driver builds a vanilla session; sessions from
    ``session.get_spark`` already carry these). Only values still at
    their stock defaults are touched, so an explicit caller config is
    never overridden:

    - ``shuffle.partitions`` 200 → core count: on local[N] a stock
      200-partition exchange is pure scheduling overhead (AQE
      coalesces batch plans, but STREAMING state ops can't — r1's
      vanilla-session streaming queries ran 200 state tasks).
    - ``maxPartitionBytes`` 128m → small splits so the single-file
      local testdata scans parallelize (see session.py discussion;
      at production file counts this knob is left to the cluster).
    """
    try:
        cores = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no SparkContext; leave as-is
        return
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", str(cores))
    if (
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        .rstrip("b")
        == "134217728"
    ):
        spark.conf.set("spark.sql.files.maxPartitionBytes", max_partition_bytes())


#: Per-session cache of analyzed table scans (a DataFrame is an
#: immutable logical plan — reusing it is the same catalog pattern as
#: registering a temp view once). The testdata dirs are read-only
#: (TESTDATA.md), so a cached plan can never go stale; weak keys let
#: stopped sessions release their plans.
_SCAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table (S7 analogue: typed table scan).

    ``events.ts`` is parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it lands as int64 nanos
    and is rebuilt here as a µs TimestampType (truncating ns→µs, the
    same thing DuckDB does reading that file). The conf is set here
    (runtime-settable) so the scan works even in a caller-provided
    vanilla session — without it Spark rejects the file outright
    (PARQUET_TYPE_ILLEGAL).

    The analyzed scan is cached per (session, dir, table): footer/
    schema resolution costs ~0.15 s of py4j+JVM round-trips per call,
    which at 30 bench queries × 2-4 tables each is seconds of pure
    fixed cost. The testdata is immutable, so the cached plan is
    always valid; execution still scans the files each run."""
    per = _SCAN_CACHE.get(spark)
    if per is None:
        per = {}
        _SCAN_CACHE[spark] = per
    df = per.get((sf_dir, name))
    if df is not None:
        return df
    if "confs" not in per:
        _engine_confs(spark)
        per["confs"] = True
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Pin timestamp semantics for caller-provided sessions too:
        # the engine's contract (and the DuckDB oracle's naive-ts
        # reading) is UTC. Runtime-settable, idempotent.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            # TIMESTAMP(NANOS) file read as int64 under nanosAsLong.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(dt, T.TimestampNTZType):
            # TIMESTAMP(MICROS, isAdjustedToUTC=false) file (the
            # driver's round-3 testdata): Spark 4 infers TIMESTAMP_NTZ,
            # which epoch functions (unix_micros/unix_timestamp)
            # reject. With the session tz pinned to UTC the cast keeps
            # the wall-clock values bit-identical to the oracle's
            # naive reading while restoring TimestampType downstream.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    per[(sf_dir, name)] = df
    return df


#: footer probe caches. Keys include a cheap stat() fingerprint of
#: the file(s) — (mtime_ns, size) per part — so a rebuilt dataset at
#: the same path (bench rebuild loops regenerating testdata
#: in-process) re-probes instead of serving stale doc_id bounds to
#: the bucketed machinery or stale byte sizes to the size-adaptive
#: switch (r10 ADVICE). One stat per file, still metadata-cheap.
_FOOTER_MINMAX_CACHE: dict[tuple, tuple | None] = {}


def _path_fingerprint(path: str) -> tuple:
    """(mtime_ns, size) of the file, or of each part-file of a dir —
    a change-detection key for the footer caches. Missing paths map
    to an empty tuple (the probe itself will raise)."""
    import os

    try:
        if os.path.isdir(path):
            return tuple(
                (f, st.st_mtime_ns, st.st_size)
                for f in sorted(os.listdir(path))
                if f.endswith(".parquet")
                for st in (os.stat(os.path.join(path, f)),)
            )
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ()


def clear_footer_caches() -> None:
    """Explicit reset hook for rebuild tooling (the fingerprint keys
    already catch rewritten files; this also drops dead entries)."""
    _FOOTER_MINMAX_CACHE.clear()
    _FOOTER_BYTES_CACHE.clear()


def footer_minmax_int(path: str, col: str) -> tuple | None:
    """Driver-side (MIN, MAX) of a numeric column read from parquet
    footer statistics only (named ``_int`` for its original integer
    callers; the stats read is type-generic and r11 bounds probes
    use it for DOUBLE columns too — parquet writers omit stats for
    NaN-bearing double pages, which surfaces here as ``None`` →
    callers fall back to an aggregate probe)
    — milliseconds and zero Spark jobs, the
    cheap bounds probe plans use for bucketed-machinery bounds and
    for picking between an exactness-sensitive fast path and a safe
    fallback. Returns ``None`` when any row group lacks stats, which
    callers must treat as "unknown → probe with a Spark aggregate or
    take the safe plan". Accepts a single file or a directory of
    part-files (the layouts ``make_sfN.py`` and Spark writers emit).

    Exact only on an UNFILTERED table (footer stats bound the file's
    rows, not a predicate's) — for machinery *bounds* a superset
    range is still correct, just coarser buckets.

    100 TB note: footers are O(row-groups) metadata, read without
    touching data pages; on object stores this is one ranged GET per
    file tail — still metadata-cheap, but for thousand-file tables
    prefer running it once and threading the bound in."""
    key = (path, col, _path_fingerprint(path))
    if key in _FOOTER_MINMAX_CACHE:
        return _FOOTER_MINMAX_CACHE[key]
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    else:
        files = [path]
    mn: int | None = None
    mx: int | None = None
    for f in files:
        md = pq.ParquetFile(f).metadata
        try:
            idx = md.schema.to_arrow_schema().names.index(col)
        except ValueError:
            mn = mx = None
            break
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        if not ok:
            mn = mx = None
            break
    out = None if mx is None else (mn, mx)
    _FOOTER_MINMAX_CACHE[key] = out
    return out


def minmax_bounds(df: DataFrame, path: str, col: str) -> tuple:
    """(MIN, MAX) of ``col`` for the bucketed prefix machinery's
    ``bounds``: the footer statistics of the parquet table at ``path``
    (:func:`footer_minmax_int` — zero Spark jobs), else one aggregate
    over ``df``. ``df`` may be a filtered or projected read of that
    table: the footer range is then a superset, which bucketing
    accepts (coarser buckets, same result)."""
    return footer_minmax_int(path, col) or tuple(
        df.agg(F.min(col), F.max(col)).first()
    )


def footer_minmax_micros(path: str, col: str) -> tuple | None:
    """(MIN, MAX) of a timestamp column as EPOCH MICROSECONDS, from
    parquet footer statistics only (r11) — the zero-job bounds probe
    for time-bucketed machinery (``events.ewma``). Handles the two
    physical layouts the engine reads: TIMESTAMP(MICROS) (pyarrow
    surfaces stats as datetimes — naive ones are the engine's
    UTC-pinned semantics, aware ones are converted) and
    TIMESTAMP(NANOS) read under ``nanosAsLong`` (int64 stats,
    ns→µs with truncation TOWARD ZERO — ``ts div 1000`` — exactly
    like ``read_table``'s rebuild; Python's ``//`` floors, which for
    a pre-epoch MAX would undershoot the true value by 1 µs and
    break the superset-bounds contract, r11 ADVICE).
    Returns ``None`` when stats are absent — callers fall back to
    the aggregate probe. Bounds feed BUCKETING only, so exactness of
    the query never depends on them."""
    import calendar
    import datetime as _dt

    mm = footer_minmax_int(path, col)
    if mm is None:
        return None

    def _mic(v):
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return (
                calendar.timegm(v.timetuple()) * 1_000_000
                + v.microsecond
            )
        v = int(v)  # int64 TIMESTAMP(NANOS) stats
        # Spark's `div` truncates toward zero; mirror it for v < 0.
        return v // 1000 if v >= 0 else -((-v) // 1000)

    return (_mic(mm[0]), _mic(mm[1]))


_FOOTER_BYTES_CACHE: dict[tuple, int] = {}


def footer_uncompressed_bytes(path: str) -> int:
    """Total UNCOMPRESSED byte size of a parquet file/directory from
    footer metadata (sum of row-group ``total_byte_size``) —
    milliseconds, zero Spark jobs. The size proxy size-adaptive
    operators switch on: compressed file size is useless for that
    (synthetic/repetitive text compresses ~100×, so an sf1 corpus
    can be barely larger ON DISK than sf0.1 while being 10× the
    scan/tokenize work)."""
    key = (path, _path_fingerprint(path))
    if key in _FOOTER_BYTES_CACHE:
        return _FOOTER_BYTES_CACHE[key]
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
    else:
        files = [path]
    total = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        total += sum(
            md.row_group(i).total_byte_size
            for i in range(md.num_row_groups)
        )
    _FOOTER_BYTES_CACHE[key] = total
    return total


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register each table as a temp view (S9: ``createOrReplaceTempView``).

    Temp views are plan aliases, not materializations — chains of SQL
    over them fuse into one logical plan, exactly as the reference's
    five chained statements do (SURVEY.md §3.3).
    """
    for name in names or TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread(df: DataFrame, multiple: int = 1) -> DataFrame:
    """Ensure at least ``defaultParallelism × multiple`` partitions
    before CPU-dense per-row work (hashing, cosine scoring).

    A small parquet table arrives as one split, which would serialize
    e.g. MinHash signature computation onto one core; at production
    scale inputs already have >= cores splits and this is a no-op
    (the guard keeps it from ever REDUCING parallelism). On a derived
    plan (a join or aggregate) its partition probe runs jobs."""
    target = df.sparkSession.sparkContext.defaultParallelism * multiple
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def read_csv_typed(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """CSV scan with a DDL ``schema`` that lists every column in file
    order (S3/S4 read with the CTAS's types, reference
    ``etl_kaggle_to_big_query.py:70-78``): one pass, no inference. A
    header that is not that column list, or a value that does not
    parse as its column's type, fails the read."""
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("enforceSchema", False)
        .option("mode", "FAILFAST")
        .csv(path)
    )


def write_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Plain parquet sink (S8: the reference's BigQuery result write,
    ``fifa_spark.py:102-104``). Overwrite semantics match the
    reference's CREATE OR REPLACE idempotency (SURVEY.md §1.3)."""
    df.write.mode(mode).parquet(path)


def write_clustered(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    cluster_by: list[str],
    mode: str = "overwrite",
) -> None:
    """CTAS-equivalent materialization (S5/S6): typed + partitioned +
    clustered write, the engine analogue of

        CREATE OR REPLACE TABLE ... PARTITION BY d CLUSTER BY a,b,c

    (reference ``etl_kaggle_to_big_query.py:86-111,135-163``).

    Implementation: repartition on the partition columns so each hive
    partition is written by as few tasks as possible, sort rows within
    each task on (partition + cluster) columns, then directory-
    partition the files. Parquet per-row-group min/max stats over the
    sorted cluster columns make point/range scans prune row groups —
    the OSS stand-in for BigQuery clustering.

    Scale note: repartitioning by a low-cardinality partition column
    can skew (one task per date); at 100 TB add a salt column to the
    repartition — ``F.spark_partition_id()`` style — or rely on AQE
    skew splitting. We keep the declarative form here.
    """
    (
        df.repartition(*[F.col(c) for c in partition_by])
        .sortWithinPartitions(*(partition_by + cluster_by))
        .write.mode(mode)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV export with header (S2 analogue: the reference lands CSVs
    in object storage, ``etl_kaggle_to_big_query.py:55-62``). Export
    format only — no types, no stats, no pruning; never the analytic
    store."""
    df.write.mode(mode).option("header", True).csv(path)
