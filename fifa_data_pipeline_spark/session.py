"""SparkSession factory with a scale-aware default configuration.

The reference delegates all engine configuration to BigQuery and a
3-node Dataproc cluster (reference ``terraform/main.tf:104-127``,
``prefect/spark/fifa_spark.py:15-17``); our engine owns its session
config instead. Defaults are chosen so the same code runs correctly
on ``local[N]`` for tests and would behave sanely on a large cluster:

- AQE on (runtime join-strategy demotion, partition coalescing, skew
  join splitting) — the main lever that keeps a static plan viable at
  100x the data.
- ``spark.sql.shuffle.partitions`` sized to the local core count; on
  a real cluster AQE's coalescing makes a high initial value cheap.
- Session timezone pinned to UTC so timestamp semantics are stable
  and match the DuckDB oracle (naive timestamps).
- Arrow enabled for all Pandas UDF / toPandas exchange.
- Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``)
  holds 8192 classes, not the default 100: the 172-query headline
  compiles about 2,000 distinct classes, and at 100 entries every warm
  repeat re-ran Janino on code it had just evicted. Class names carry
  no codegen stage id, so one pipeline compiles once whatever stage
  number AQE gives it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Core count the driver told us to use (bench contract)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def max_partition_bytes() -> str:
    """The split-size lever (``spark.sql.files.maxPartitionBytes``),
    overridable from the environment; default 8m, which keeps
    genuinely multi-row-group small files parallel across cores.

    NOTE the local testdata files are each ONE row group, which byte
    splits cannot parallelize (a row group is read whole by the split
    holding its midpoint) — a controlled A/B at sf0.1 shows 8m vs 128m
    makes no measurable difference on this data (SCALE.md); scan
    parallelism there comes from layout + spread(). On a real cluster
    with many-file inputs, set it to 128m — at 100 TB the default
    split count is already ≫ cores and smaller splits only add
    scheduling overhead."""
    return os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m")


def get_spark(
    app_name: str = "fifa-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst=true (the default) makes AQE ignore the
        # advisory size and keep ~defaultParallelism partitions even
        # when each holds a few KB — pure task-dispatch overhead on
        # small inputs. false is what the Spark tuning guide
        # recommends on clusters: coalesce to the advisory size, so
        # partition count tracks DATA VOLUME. At 100 TB this is a
        # no-op (post-shuffle partitions already exceed any advisory
        # size; coalescing never splits), while small/intermediate
        # stages stop paying for idle tasks. Measured −12% on the
        # light-query floor at sf0.1. Advisory default 2m suits
        # sub-GB local runs; set SPARK_GRAFT_ADVISORY_PARTITION_BYTES
        # to 64-256m on a real cluster.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "false",
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "2m"),
        )
        # Join-strategy configs deliberately stay DEFAULT (r11): both
        # preferSortMergeJoin=false and the AQE SMJ->SHJ rewrite
        # (maxShuffledHashJoinLocalMapThreshold=advisory) were
        # measured on the 10 SMJ headline queries with order-BALANCED
        # same-session A/Bs — sf0.1 totals 6.04/6.08/6.25 and sf1
        # 12.41 vs 12.32 (a <1% wash; a fixed-order A/B showed a fake
        # -14% from warmup bias, see OPTIMIZATION_r11.md). No
        # demonstrated win, so no plan-affecting global change.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        # The recursive-CTE row guardrail defaults to 1M — three hops
        # of a dense duplicate-fingerprint closure exceed that by
        # sf1 (every replicated doc group contributes O(copies²)
        # edges). Raised engine-wide: the closure queries bound DEPTH
        # structurally (hop guard + DAG edges); the row ceiling is a
        # runaway-recursion net, not a sizing knob.
        .config("spark.sql.cteRecursionRowLimit", "100000000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Static: set when the session is built. The default cache
        # (100 entries, a 4-segment LRU) is smaller than one curation
        # pass (~120 classes) or a cold headline pass (~2,000), so warm
        # passes re-ran Janino on code they had just evicted: 38-119
        # compiles per curation pass at 100, 0-4 at 8192.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # The codegen stage id is inlined in the class name; with it
        # there, a pipeline AQE numbered differently on a repeat missed
        # the cache (6 of ~90 classes on some q_dedup_keep_best passes).
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", max_partition_bytes())
        # Parquet TIMESTAMP(NANOS) (events.ts) is otherwise rejected;
        # read as int64 nanos and rebuild µs timestamps in io.read_table
        # (truncation ns→µs matches DuckDB's read of the same file).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    # Parameterized config hook (r12): ';'-separated k=v pairs, e.g.
    # SPARK_GRAFT_EXTRA_CONF='spark.io.compression.codec=zstd'.
    # Exists so codec/fetch A/Bs (and cluster submits) can vary conf
    # without code edits; defaults above stay the bench posture.
    # Caller-passed extra_conf still wins (applied last).
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if kv.strip():
            if "=" not in kv:
                raise ValueError(
                    f"SPARK_GRAFT_EXTRA_CONF: segment {kv.strip()!r} is"
                    " not a key=value pair"
                )
            k, v = kv.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
