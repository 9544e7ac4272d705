"""Sources and sinks (SURVEY.md §2.1, S1-S11).

The reference's source surface is: CSV external tables with inferred
schema (S3/S4, reference ``prefect/flows/etl_kaggle_to_big_query.py:65-78,
114-127``), CTAS materialization into typed + partitioned + clustered
tables (S5/S6, ``:81-111,130-163``), table scans registered as temp
views (S7/S9, ``prefect/spark/fifa_spark.py:24-32``), and a table sink
(S8, ``fifa_spark.py:102-104``). Here each becomes a thin wrapper over
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
    import os

    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", str(cores))
    if (
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        .rstrip("b")
        == "134217728"
    ):
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
        )


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


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_by: list[str],
    num_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) managed table: rows hash-partitioned
    into ``num_buckets`` files by ``bucket_by``, optionally sorted
    within each bucket.

    This is the 100 TB co-location lever the reference's BigQuery
    CLUSTER BY only approximates: two tables bucketed on their join
    key with the same bucket count join with NO shuffle exchange on
    either side (verified by plan assertion in tests) — at scale that
    removes the dominant cost of repeated fact-fact joins. Pair with
    ``sort_by`` on the join key to also skip the sort phase."""
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table_name)


def spread(df: DataFrame, multiple: int = 1) -> DataFrame:
    """Ensure at least ``defaultParallelism × multiple`` partitions
    before CPU-dense per-row work (hashing, cosine scoring).

    A small parquet table arrives as one split, which would serialize
    e.g. MinHash signature computation onto one core; at production
    scale inputs already have >= cores splits and this is a no-op
    (the guard keeps it from ever REDUCING parallelism)."""
    target = df.sparkSession.sparkContext.defaultParallelism * multiple
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def read_csv_inferred(spark: SparkSession, path: str) -> DataFrame:
    """Schema-on-read CSV scan (S3/S4: BigQuery external table with
    inferred schema, reference ``etl_kaggle_to_big_query.py:70-78``).

    Scale note: ``inferSchema`` runs an extra pass over the data; at
    real scale, sample-infer once, then pin the schema with
    ``spark.read.schema(st).csv(path)`` — see ``infer_then_pin``.
    """
    return spark.read.option("header", True).option("inferSchema", True).csv(path)


def infer_then_pin(spark: SparkSession, sample_path: str, full_path: str) -> DataFrame:
    """Infer a schema from a small sample, then scan the full data with
    the pinned schema (single pass — the 100 TB-safe variant of S3/S4).
    """
    schema = read_csv_inferred(spark, sample_path).schema
    return spark.read.option("header", True).schema(schema).csv(full_path)


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


def morton_key(col_a, col_b, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative int columns
    into one sort key: bit i of each input lands at bits 2i / 2i+1.
    Sorting by the interleaved key keeps rows that are close in BOTH
    dimensions close in the file — so parquet row-group min/max stats
    prune selective predicates on EITHER column, where a
    lexicographic ``sortWithinPartitions(a, b)`` only prunes on the
    leading column. This is the OSS stand-in for multi-column
    BigQuery clustering / Delta ZORDER (reference ``CLUSTER BY``,
    ``etl_kaggle_to_big_query.py:90,139``) for two-column predicates.

    Inputs must fit in ``bits`` bits (cap or bucket first — e.g.
    ``F.pmod(F.hash(c), 1 << bits)``); built as one codegen'd
    expression, no UDF."""
    from pyspark.sql import Column

    a = col_a if isinstance(col_a, Column) else F.col(col_a)
    b = col_b if isinstance(col_b, Column) else F.col(col_b)
    acc = F.lit(0).cast("long")
    al, bl = a.cast("long"), b.cast("long")
    for i in range(bits):
        acc = acc + F.shiftleft(F.shiftright(al, i).bitwiseAND(F.lit(1)), 2 * i)
        acc = acc + F.shiftleft(
            F.shiftright(bl, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return acc


def compact_parquet(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target)`` files. Streaming sinks and
    per-batch upserts accumulate tiny files; scans then pay per-file
    open/footer costs and lose row-group-sized reads — at 100 TB,
    scheduled compaction is what keeps scan throughput flat.

    Returns the new file count. Uses ``coalesce`` (no shuffle — it
    only merges read splits) and writes to a temp sibling then swaps,
    so a crash mid-compaction never leaves a half-written table."""
    import math
    import pathlib
    import shutil

    df = spark.read.parquet(path)
    total = sum(
        f.stat().st_size for f in pathlib.Path(path).rglob("*.parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    tmp = path.rstrip("/") + "__compact_tmp"
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    shutil.move(tmp, path)
    return n_files


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the other columnar format Spark supports natively.
    Same pushdown/pruning properties as parquet (stripe-level min/max
    indexes); offered for interop with ORC-based warehouses. Parquet
    stays the default store."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan. Vectorized reader + predicate pushdown are on by
    default (``spark.sql.orc.enableVectorizedReader``,
    ``spark.sql.orc.filterPushdown``)."""
    return spark.read.orc(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV export with header (S2 analogue: the reference lands CSVs
    in object storage, ``etl_kaggle_to_big_query.py:55-62``). Export
    format only — no types, no stats, no pruning; never the analytic
    store."""
    df.write.mode(mode).option("header", True).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Line-delimited JSON sink (interchange format; parquet remains
    the performance path — JSON costs ~5-10x on scan+parse and loses
    column pruning/predicate pushdown, which is why it is an EXPORT
    format here, never the analytic store)."""
    df.write.mode(mode).json(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Line-delimited JSON scan. Pass ``schema`` (DDL string or
    StructType) to skip the inference pass — at scale, always pin:
    inference reads the data twice and infers the union of keys."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def _avro_available(spark: SparkSession) -> bool:
    """True if the external spark-avro module is on the classpath.
    Avro has been an EXTERNAL data source module since Spark 2.4
    (``org.apache.spark:spark-avro_2.13``); this container ships
    without it, so the Avro helpers gate on availability instead of
    failing with an opaque ClassNotFoundException mid-job."""
    try:
        # Ask Spark's own data-source registry (Class.forName is NOT
        # a valid probe: the assembly can carry avro CLASSES without
        # registering the data source; py4j attribute access never
        # fails at all).
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Avro sink (row-oriented interchange format — Kafka/streaming
    ecosystems). Requires the external spark-avro package; raises a
    clear error when absent."""
    if not _avro_available(df.sparkSession):
        raise RuntimeError(
            "spark-avro is not on the classpath; submit with "
            "--packages org.apache.spark:spark-avro_2.13:<spark version>"
        )
    df.write.mode(mode).format("avro").save(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro scan (see :func:`write_avro` for the classpath gate)."""
    if not _avro_available(spark):
        raise RuntimeError(
            "spark-avro is not on the classpath; submit with "
            "--packages org.apache.spark:spark-avro_2.13:<spark version>"
        )
    return spark.read.format("avro").load(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Binary-file scan (``binaryFile`` source): one row per file with
    (path, modificationTime, length, content) — the ingestion step
    for multimodal corpora (images/audio land as files; this turns
    them into the opaque ``binary`` column the multimodal operators
    expect, SURVEY.md §2.6). Supports pathGlobFilter pushdown so
    e.g. ``*.png`` prunes at listing time, before any bytes move."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def write_xml(
    df: DataFrame, path: str, row_tag: str = "row", mode: str = "overwrite"
) -> None:
    """XML sink (built-in since Spark 4.0) — interchange with
    XML-based feeds; export-only posture like CSV (no pushdown)."""
    df.write.mode(mode).format("xml").option("rowTag", row_tag).save(path)


def read_xml(
    spark: SparkSession, path: str, row_tag: str = "row"
) -> DataFrame:
    """XML scan with schema inference (pin schemas in production,
    same policy as ``infer_then_pin`` for CSV)."""
    return spark.read.format("xml").option("rowTag", row_tag).load(path)


def write_with_audit(
    df: DataFrame,
    path: str,
    metrics: dict[str, "F.Column"],
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> dict:
    """Parquet sink with FREE audit metrics: ``df.observe`` attaches
    aggregate expressions (row counts, sums, null counts, min/max)
    that accumulate DURING the write job itself — the at-scale
    data-quality pattern, where a separate audit query would re-scan
    100 TB. Returns the observed metric values after the write.

    Contrast with the audit-query approach (``q_dq_checks``): that
    one expresses arbitrary cross-row constraints (FK checks need
    joins — observe can't), this one gets the single-pass metrics for
    zero extra cost. Production pipelines use both."""
    from pyspark.sql import Observation

    obs = Observation("write_audit")
    observed = df.observe(obs, *[v.alias(k) for k, v in metrics.items()])
    writer = observed.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return obs.get


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Batch backfill with DYNAMIC partition overwrite: only the
    partitions present in ``df`` are replaced; untouched partitions
    survive. The idempotent-backfill primitive (re-run yesterday's
    partition without clobbering the table) — the batch counterpart
    of the streaming ``stream_upsert_partitioned`` sink. The mode is
    set per-write via the writer option, not session-wide, so
    concurrent static-overwrite writes keep their semantics."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_tuned(
    df: DataFrame,
    path: str,
    codec: str = "zstd",
    rowgroup_bytes: int = 128 * 1024 * 1024,
    page_bytes: int = 1024 * 1024,
) -> None:
    """Parquet layout tuning — the three physical levers that matter
    at 100 TB, surfaced as one writer:

    - ``codec``: zstd trades ~10-20% CPU for materially smaller files
      than snappy (scan cost at scale is dominated by bytes moved);
    - ``rowgroup_bytes`` (parquet.block.size): the min/max-stat
      pruning granule AND the minimum read amplification per matching
      row — smaller groups prune finer, larger groups scan faster
      when most data qualifies;
    - ``page_bytes``: the decompression granule within a column chunk.

    Pair with repartition/sortWithinPartitions (see write_clustered)
    so the row-group min/max stats are actually selective."""
    (
        df.write.mode("overwrite")
        .option("compression", codec)
        .option("parquet.block.size", str(rowgroup_bytes))
        .option("parquet.page.size", str(page_bytes))
        .parquet(path)
    )


def write_sharded(
    df: DataFrame,
    path: str,
    records_per_file: int,
    shuffle_col: str | None = None,
) -> None:
    """Training-shard export: bound every output file to
    ``records_per_file`` rows (``maxRecordsPerFile`` splits files at
    write time with no extra shuffle). With ``shuffle_col``, rows are
    first redistributed by ``xxhash64(shuffle_col)`` — a
    deterministic global "shuffle" that breaks source/time locality
    across shards (what a training loader wants) while staying fully
    reproducible, unlike ``repartition()``'s round-robin which
    depends on input split order. Dataloader-sized files matter at
    100 TB: a loader maps shards to workers, so shard-size variance
    IS load imbalance."""
    if shuffle_col is not None:
        df = df.repartition(F.xxhash64(F.col(shuffle_col)))
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", records_per_file)
        .parquet(path)
    )


def publish_atomic(
    dfs: dict[str, "DataFrame"], root: str
) -> int:
    """Transactional multi-table publish on plain object storage: all
    tables land under a fresh ``v{n}/`` prefix, and only after EVERY
    write succeeds does the one-row ``_CURRENT`` pointer advance —
    readers that resolve through :func:`read_published` either see
    the complete old version or the complete new one, never a mix.
    A failure mid-publish leaves a dead ``v{n}`` directory (garbage,
    not corruption) and the pointer untouched.

    This is the poor-man's snapshot-isolation commit that table
    formats (Iceberg/Delta) industrialize; at 100 TB the pointer swap
    is still O(1) — only the changed tables' data is written.
    Returns the published version number."""
    import json
    import os

    cur = os.path.join(root, "_CURRENT")
    version = 0
    if os.path.exists(cur):
        with open(cur) as fh:
            version = json.load(fh)["version"]
    new_v = version + 1
    for name, df in dfs.items():
        df.write.mode("overwrite").parquet(
            os.path.join(root, f"v{new_v}", name)
        )
    tmp = cur + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": new_v, "tables": sorted(dfs)}, fh)
    os.replace(tmp, cur)  # atomic on POSIX; PUT-if-match on S3-likes
    return new_v


def read_published(
    spark: SparkSession, root: str, name: str,
    version: int | None = None,
) -> DataFrame:
    """Resolve a table through the ``_CURRENT`` pointer — the read
    half of :func:`publish_atomic`. Pass ``version`` for time travel
    (the ``VERSION AS OF`` analogue: published versions are immutable
    directories, so any past version remains readable until
    explicitly garbage-collected); default reads the current one."""
    import json
    import os

    if version is None:
        with open(os.path.join(root, "_CURRENT")) as fh:
            version = json.load(fh)["version"]
    return spark.read.parquet(os.path.join(root, f"v{version}", name))


def vacuum_published(root: str, keep_last: int = 2) -> list[int]:
    """Garbage-collect superseded published versions: delete version
    directories older than the newest ``keep_last`` (the _CURRENT
    version is always kept regardless). The deletion order is oldest
    first, and the pointer file is never touched, so a reader that
    resolved _CURRENT before the vacuum can still finish its scan of
    any KEPT version — the retention window is the time-travel
    horizon, exactly like table-format VACUUM. Returns the deleted
    version numbers."""
    import json
    import os
    import re
    import shutil

    if keep_last < 0:
        raise ValueError("keep_last must be >= 0")
    with open(os.path.join(root, "_CURRENT")) as fh:
        current = json.load(fh)["version"]
    versions = sorted(
        int(m.group(1))
        for d in os.listdir(root)
        if (m := re.fullmatch(r"v(\d+)", d)) and
        os.path.isdir(os.path.join(root, d))
    )
    # keep_last=0 means "only the current version": a bare [-0:]
    # slice would silently keep EVERYTHING (ADVICE r4).
    recent = set(versions[-keep_last:]) if keep_last > 0 else set()
    keep = recent | {current}
    deleted = []
    for v in versions:
        if v not in keep:
            shutil.rmtree(os.path.join(root, f"v{v}"))
            deleted.append(v)
    return deleted


def cached_result(
    spark: SparkSession, df: DataFrame, cache_root: str
) -> tuple[DataFrame, bool]:
    """Content-addressed query-result cache: the analyzed plan's
    ``semanticHash`` keys a parquet directory under ``cache_root`` —
    a hit swaps the whole computation for a scan of the cached
    result, a miss computes once and populates. Returns
    ``(result_df, was_hit)``.

    ``semanticHash`` is stable across cosmetically-different but
    semantically-equal plans (alias names, column order in
    commutative ops), so two dashboards issuing the same logical
    query share one cache entry. Invalidation is the caller's
    problem (key the root per input snapshot/version — pair with
    ``publish_atomic``'s version number); a result cache that
    guesses at freshness is worse than none. The write itself is
    atomic-by-rename per partition file plus parquet's _SUCCESS
    marker; concurrent misses of the same key both compute and one
    wins the rename — wasteful, never wrong."""
    import hashlib
    import os

    # semanticHash alone is 32-bit — a collision would silently serve
    # the WRONG cached result. Pair it with a digest of the
    # canonicalized plan (exprIds normalized, so semantically-equal
    # rebuilt plans still agree) for a collision-free key.
    canonical = (
        df._jdf.queryExecution().analyzed().canonicalized().toString()
    )
    digest = hashlib.md5(canonical.encode()).hexdigest()[:16]
    key = f"{df.semanticHash() & 0xFFFFFFFF:08x}-{digest}"
    slot = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(slot, "_SUCCESS")):
        return spark.read.parquet(slot), True
    df.write.mode("overwrite").parquet(slot)
    return spark.read.parquet(slot), False


def with_file_provenance(df: DataFrame) -> DataFrame:
    """Attach file-level provenance from the hidden ``_metadata``
    struct every file-based scan carries (Spark ≥3.4): source file
    path/name/size/modification time and, for parquet, the row's
    ordinal within its file. Zero extra I/O — the values come from
    the scan's own split bookkeeping — which makes this the cheap
    first hop of lineage debugging ("which input file produced this
    bad row") and of file-grain reprocessing (group by
    ``source_file`` to find and re-ingest a bad batch).

    Must be called on a DataFrame that is still a direct file scan:
    ``_metadata`` is resolvable only before projections drop it."""
    return df.select(
        "*",
        F.col("_metadata.file_path").alias("source_file"),
        F.col("_metadata.file_name").alias("source_file_name"),
        F.col("_metadata.file_size").alias("source_file_size"),
        F.col("_metadata.row_index").alias("source_row_index"),
    )
