"""Python UDTF (user-defined table function) surface, and the native
sentence splitter.

A UDTF is the one-to-many extension point: one input row → any number
of output rows, with the output schema declared up front. Rules of
engagement mirror ``pandas_ops``: built-in generators first
(``explode``/``posexplode`` over an array expression cover the
common cases JVM-side, as :func:`split_sentences_native` does); a
UDTF earns its place when the per-row logic needs real Python (a
tokenizer library, a parser, a model) or per-partition state
(:class:`TopKPerPartition`). Row-wise splitting is not such a case:
a Python UDTF splitter lost every A/B wave to the native form at sf0.1
and sf1.

Scale: UDTFs run per-partition in a Python worker (Arrow-batched in
Spark 4) with no shuffle — embarrassingly parallel like any per-row
map; the Python-worker hop is the cost, same as any Python UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.util import exploded
from pyspark.sql.functions import udtf

#: Default segment boundary: sentence punctuation run + whitespace.
#: RE2-compatible (no lookaround) so the DuckDB oracle can use the
#: IDENTICAL pattern with string_split_regex.
SENT_SPLIT = r"[.!?]+\s+"


def split_sentences_native(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    pattern: str = SENT_SPLIT,
) -> DataFrame:
    """One row per text segment (id, 1-based ``sent_idx``, sentence):
    split on ``pattern``, trim and drop empty fragments with
    higher-order functions over the fragment ARRAY, then one
    posexplode — zero shuffle and no Python worker. A NULL text
    yields no rows."""
    arr = F.filter(
        F.transform(F.split(F.col(text_col), pattern), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    return exploded(
        df, arr, "sentence", keep=[id_col], pos_alias="__i"
    ).select(
        id_col,
        (F.col("__i") + 1).cast("int").alias("sent_idx"),
        "sentence",
    )


#: Bounded per-partition state size for TopKPerPartition.
TOPK_K = 2


@udtf(returnType="doc_id bigint, n_chars bigint, rank int")
class TopKPerPartition:
    """Polymorphic UDTF over a TABLE argument: consumes every row of
    its input partition (``eval`` per row), keeps a bounded top-k by
    ``n_chars`` (doc_id tie-break), and emits it in ``terminate`` —
    the aggregate-shaped UDTF tier (Spark ≥3.5 TABLE(...) PARTITION
    BY): the engine shuffles each partition to one worker instance,
    so per-partition Python state replaces a window + filter when the
    per-group logic outgrows SQL. State is O(k) per partition
    regardless of partition size (insertion into a sorted bounded
    list — same contract as Misra–Gries in operators/sketch.py).
    """

    def __init__(self):
        self._top: list[tuple[int, int]] = []  # (-n_chars, doc_id)

    def eval(self, row):  # noqa: D102 (fixed contract)
        import bisect

        bisect.insort(self._top, (-row["n_chars"], row["doc_id"]))
        if len(self._top) > TOPK_K:
            self._top.pop()

    def terminate(self):  # noqa: D102
        for i, (neg, doc_id) in enumerate(self._top, 1):
            yield doc_id, -neg, i


def topk_per_source(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Top-``TOPK_K`` documents per source by length via
    the TABLE-argument UDTF: ``PARTITION BY source`` routes each
    source's rows to one UDTF instance. Equivalent to the
    row_number window (the oracle) — the point is the API surface
    and the bounded-state per-partition contract."""
    spark.udtf.register("topk_docs_udtf", TopKPerPartition)
    docs.select("doc_id", "source", "n_chars").createOrReplaceTempView(
        "__topk_in"
    )
    return spark.sql(
        """
        SELECT t.doc_id, p.source, t.n_chars, t.rank
        FROM topk_docs_udtf(
            TABLE(__topk_in) PARTITION BY source ORDER BY doc_id
        ) t
        JOIN __topk_in p ON t.doc_id = p.doc_id
        """
    )
