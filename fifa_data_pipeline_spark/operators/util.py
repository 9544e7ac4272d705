"""Shared operator utilities."""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def scratch_dir(prefix: str) -> str:
    """A fresh local directory for a query's intermediate files
    (landed inputs, streaming checkpoints, sinks), removed when the
    process exits. A query's result is often a lazy scan of files in
    it, so it must outlive the query call; every package call site
    that needs a scratch directory goes through here."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def exploded(
    df: DataFrame,
    arr: Column | str,
    alias: str,
    keep: Sequence[str | Column] = (),
    pos_alias: str | None = None,
) -> DataFrame:
    """Explode a COMPUTED array via an outer generate plus a
    null-filter on the generated attribute.

    A plain inner ``explode`` triggers Catalyst's
    ``InferFiltersFromGenerate`` rule, which clones the full generator
    expression into a ``size(e) > 0 AND isnotnull(e)`` pre-filter.
    For cheap arrays that is a win (empty rows die before the
    Generate); for expensive array builders — n-gram ``transform``
    chains, MinHash/SimHash band hashes over a signature fold — the
    clone evaluates the builder two extra times per input row, and
    higher-order expressions run interpreted (outside whole-stage
    codegen). Measured at sf0.1: 12× on 4-gram construction, −39% on
    MinHash band explode, −30% on token explode. Outer generates are
    exempt from the rule, and the null-filter on the generated
    ATTRIBUTE (cheap, codegen'd) restores inner-explode row
    semantics.

    Caveat: an inner explode KEEPS null array elements; this drops
    them. Every engine array builder (tokenizers, gram/shingle
    builders, band hashers) is null-free, so the rewrite is
    value-identical where used. Do not use it on arrays that may
    legitimately hold NULL elements.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in keep]
    if pos_alias is not None:
        gen = F.posexplode_outer(arr).alias(pos_alias, alias)
    else:
        gen = F.explode_outer(arr).alias(alias)
    return df.select(*cols, gen).filter(F.col(alias).isNotNull())


def let1(bound: Column, body) -> Column:
    """Single-evaluation let binding for expensive per-row
    expressions: ``body(x)`` with ``x`` = ``bound`` evaluated exactly
    ONCE per row — ``transform(array(bound), x -> body(x))[0]``.

    Why it exists (r12): higher-order array functions run interpreted
    with NO common-subexpression elimination, and both
    CollapseProject's alias inlining and PushDownPredicates' filter
    substitution happily duplicate a deterministic expression into
    every reference site. An expression referenced N times in one
    projection or filter therefore runs N times per row — measured
    ~5× on ``gopher_rules``'s whitespace split (the 1.69× sf1 fix).
    A HOF's *input argument* is evaluated once and its lambda
    variable is a bound attribute, so routing the expensive
    expression through a 1-element ``transform`` forces one
    evaluation no matter how many times the body references it.
    ``element_at(..., 1)`` also blocks SimplifyExtractValueOps from
    rewriting field extracts back into the duplicated form when
    ``body`` returns a struct."""
    return F.element_at(F.transform(F.array(bound), body), 1)


#: Environment override for :func:`materialize_once` — set to
#: ``table`` on a real cluster so every pin site gains executor-loss
#: durability without code changes.
MATERIALIZE_MODE_ENV = "SPARK_GRAFT_MATERIALIZE"


def materialize_once(
    df: DataFrame,
    *,
    mode: str | None = None,
    eager: bool = False,
    name: str = "pin",
) -> DataFrame:
    """Materialize one evaluation of ``df`` so several consumers (or
    a multi-pass algorithm) read the SAME rows — the shared helper
    behind every pin site (r11; retires the per-site docstring
    caveats):

    - multi-consumer reuse: a narrow derived frame feeding 2–3
      differently-keyed aggregations, where exchange reuse cannot
      serve them from one scan (q_doc_similarity's TF-IDF weights,
      q_heaps_fit's doc/vocab union);
    - layout pinning: the bucketed prefix machinery's
      range-shuffle pin, where the offsets pass and the output pass
      MUST see one evaluation of a nondeterministic layout
      (``monotonically_increasing_id`` / ``spark_partition_id``).

    ``mode``:

    - ``'local'`` (default): ``localCheckpoint``, NOT lazy under AQE
      even with ``eager=False``: the call runs every shuffle stage of
      the plan (a pinned one-shuffle ``distinct`` runs one job), and
      ``eager`` adds the final stage. Free of CacheManager
      plan-substitution leakage (the r5 persist() incident), blocks
      released by the ContextCleaner when the frame goes out of scope.
      Executor-LOCAL blocks: right for the single-JVM bench box, NOT
      durable to executor loss.
    - ``'table'``: write the frame to a short-lived parquet table
      under the warehouse dir and read it back — survives executor
      loss, the cluster-scale choice. Both nondeterministic layout
      columns and derived values are frozen at write time, so the
      pin semantics are identical. :func:`sweep_materialized` is the
      TTL sweep of ``<warehouse>/__graft_mat/`` — run it from a cron
      with ``max_age_sec`` above the longest job lifetime (these are
      scratch tables, not
      outputs).

    Default resolves from ``$SPARK_GRAFT_MATERIALIZE`` when ``mode``
    is None, so a cluster deployment flips every site at once — and
    since r11 EVERY batch-side pin in the engine routes through here
    (directly or via :func:`pin`); only streaming ``foreachBatch``
    pins stay on raw ``localCheckpoint`` (micro-batch replay already
    covers them).
    ``eager`` applies to ``'local'`` only ('table' is always eager —
    the write runs now)."""
    import os

    if mode is None:
        mode = os.environ.get(MATERIALIZE_MODE_ENV, "local")
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode != "table":
        raise ValueError(
            f"materialize_once: unknown mode {mode!r}"
            " (expected 'local' or 'table')"
        )
    import time
    import uuid

    spark = df.sparkSession
    base = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    )
    # Creation time goes IN the directory name: object stores report
    # unreliable (often zero) directory mtimes, so the TTL sweep
    # parses the name and only falls back to FS mtime for dirs that
    # predate this naming.
    path = (
        f"{base}/__graft_mat/"
        f"{name}_{int(time.time())}_{uuid.uuid4().hex}"
    )
    df.write.parquet(path)
    return spark.read.parquet(path)


def pin(
    name: str = "pin",
    *,
    eager: bool = False,
    mode: str | None = None,
):
    """Postfix-chainable form of :func:`materialize_once` for use
    with ``DataFrame.transform``::

        edges = (pairs.select(...).distinct()
                 .transform(pin("cc_edges")))

    is ``materialize_once(..., name="cc_edges")`` without breaking
    the method chain. Every batch-side lineage-truncation /
    multi-consumer pin in the engine routes through this (r11), so
    ``$SPARK_GRAFT_MATERIALIZE=table`` flips the WHOLE engine to the
    executor-loss-durable posture at once — including the per-round
    pins inside iterative algorithms (connected components, PageRank,
    BPE merges), where 'table' mode is the classic reliable-
    checkpoint-per-round cluster posture. Streaming ``foreachBatch``
    pins deliberately stay on raw ``localCheckpoint``: micro-batch
    replay already provides fault tolerance there, so a durable
    scratch write per batch would be pure overhead. Either mode runs
    the plan's shuffle stages inside the call (see
    :func:`materialize_once`), so a pin is a driver round trip."""

    def _pin(df: DataFrame) -> DataFrame:
        return materialize_once(df, mode=mode, eager=eager, name=name)

    return _pin


def sweep_materialized(
    spark: SparkSession,
    *,
    max_age_sec: float = 24 * 3600,
    base: str | None = None,
) -> int:
    """Delete ``materialize_once(mode='table')`` scratch dirs older
    than ``max_age_sec`` under ``<warehouse>/__graft_mat/``; returns
    the number removed. Filesystem-agnostic (local / HDFS / object
    stores) via the Hadoop FileSystem API, so a cluster cron or a
    pipeline epilogue can call it directly. Age comes from the
    timestamp embedded in the dir name (object-store dir mtimes are
    unreliable), falling back to FS modification time for dirs that
    predate the naming. Pick ``max_age_sec`` longer than the longest
    job lifetime — a dir is only safe to delete once no running job
    can still be reading its pin."""
    import time

    if base is None:
        base = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        )
    jpath = spark._jvm.org.apache.hadoop.fs.Path(  # noqa: SLF001
        f"{base}/__graft_mat"
    )
    fs = jpath.getFileSystem(
        spark._jsc.hadoopConfiguration()  # noqa: SLF001
    )
    if not fs.exists(jpath):
        return 0
    cutoff = time.time() - max_age_sec
    removed = 0
    for st in fs.listStatus(jpath):
        dirname = st.getPath().getName()
        parts = dirname.rsplit("_", 2)
        try:
            born = float(parts[-2])
        except (IndexError, ValueError):
            born = st.getModificationTime() / 1000.0
        if born < cutoff:
            fs.delete(st.getPath(), True)
            removed += 1
    return removed
