"""Vector similarity search over an ``array<float>`` embedding column.

Three tiers, mirroring how production ANN systems are layered:

1. **Exact brute-force top-k** (`knn_bruteforce`) — the correctness
   baseline. Query set broadcast against the corpus; cosine computed
   with higher-order functions (``zip_with`` + ``aggregate``) entirely
   JVM-side; per-query top-k via window rank. At 100 TB this is the
   right tool only for small query batches (cost = |Q| × |corpus|),
   but it parallelizes perfectly: the corpus never shuffles — only
   k rows per query cross the exchange for the final rank.
2. **Hyperplane-LSH ANN** (`knn_lsh`) — sign-random-projection
   buckets (Charikar SRP). Corpus is bucketed once (a narrow column
   + shuffle-free map); queries probe their own bucket plus all
   hamming-1 neighbor buckets. Recall/cost dial = number of planes.
3. **IVF** (`knn_ivf`) — k-means coarse quantizer (pyspark.ml KMeans,
   fixed seed), queries probe the ``nprobe`` nearest centroids. The
   canonical 100 TB path: the per-query candidate set shrinks by
   ~n_clusters/nprobe, and cluster assignment is a broadcast-join
   (centroids are tiny).

Embedding-cosine near-dedup (`embedding_near_dup_pairs`) reuses the
LSH bucketing for candidate pairs, then verifies exact cosine.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.util import exploded, pin
from fifa_data_pipeline_spark.sources.io import spread


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Elementwise dot product via zip_with + aggregate (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns, computed in double
    precision (sequential accumulation → bit-identical to the DuckDB
    oracle's ``list_cosine_similarity`` on DOUBLE[])."""
    ad, bd = _as_double(a), _as_double(b)
    return dot(ad, bd) / (F.sqrt(dot(ad, ad)) * F.sqrt(dot(bd, bd)))


def norm(v: Column) -> Column:
    """L2 norm of an array column (same accumulation order as the
    norm subterms of :func:`cosine`, so hoisting it is value-exact)."""
    vd = _as_double(v)
    return F.sqrt(dot(vd, vd))


def cosine_prenormed(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine with the two norms precomputed per ROW instead of per
    PAIR. In an all-pairs/top-k scan each vector participates in many
    pairs; recomputing ``sqrt(dot(v,v))`` per pair triples the
    per-pair work. Numerator accumulation order matches :func:`cosine`
    exactly, so results are bit-identical."""
    return dot(_as_double(a), _as_double(b)) / (norm_a * norm_b)


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: (qid, vec_id, sim, rank), rank 1..k per
    query. Ranks on ROUNDED similarity (6 dp) with id tie-break so
    ordering is stable across engines and partial-sum orders.

    ``queries`` is broadcast — the corpus-side scan never shuffles;
    only the per-partition top candidates feed the window rank."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("__qvec"),
            norm(F.col(vec_col)).alias("__qn"),
        )
    )
    scored = (
        spread(corpus.select(id_col, vec_col))
        .withColumn("__cn", norm(F.col(vec_col)))
        .join(q, F.col(id_col) != F.col("qid"))
        .withColumn(
            "sim",
            F.round(
                cosine_prenormed(
                    F.col("__qvec"), F.col(vec_col), F.col("__qn"), F.col("__cn")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", id_col, "sim", "rank")
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_blocks: int = 16,
) -> DataFrame:
    """Exact cosine top-k KNN JOIN: both sides stay distributed
    DataFrames — no driver collect and no broadcast requirement — so
    the query set may be as large as the corpus (the contract
    :func:`knn_bruteforce` / :func:`knn_bruteforce_pandas` cannot
    serve: both assume a small query batch).

    Block-partitioned exact join: the corpus is hashed into
    ``n_blocks`` disjoint blocks; each query row is replicated across
    all blocks via an exploded ``sequence`` and equi-joined on the
    block id, so every (query, corpus) pair meets exactly once. Top-k
    is two-level: a per-(query, block) rank first — satisfied by the
    join's existing hash distribution on the block id, so it adds only
    a local sort, no exchange — then a global rank over the surviving
    ``n_blocks × k`` candidates per query.

    Scale shape: shuffle volume is |corpus| + n_blocks × |queries| in
    (narrow rows) plus n_blocks × k × |queries| out; compute is the
    unavoidable exact |Q| × |C| score but spread over blocks with no
    single-task hotspot. ``n_blocks`` dials replication vs
    parallelism: set it ≈ cluster cores / queries-per-core at 100 TB.
    Results are bit-identical to :func:`knn_bruteforce` (same scoring
    expression, same 6-dp rounding + id tie-break)."""
    c = (
        spread(corpus.select(id_col, vec_col))
        .withColumn("__cn", norm(F.col(vec_col)))
        .withColumn(
            "__block",
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int"),
        )
    )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qn"),
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("__block"),
    )
    scored = (
        c.join(q, "__block")
        .filter(F.col(id_col) != F.col("qid"))
        .withColumn(
            "sim",
            F.round(
                cosine_prenormed(
                    F.col("__qvec"), F.col(vec_col), F.col("__qn"), F.col("__cn")
                ),
                6,
            ),
        )
    )
    # Local rank: partitioning by (qid, __block) is satisfied by the
    # join output's hashpartitioning(__block) — sort-only, no shuffle.
    w_local = Window.partitionBy("qid", "__block").orderBy(
        F.desc("sim"), F.asc(id_col)
    )
    candidates = scored.withColumn(
        "__lr", F.row_number().over(w_local)
    ).filter(F.col("__lr") <= k)
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", id_col, "sim", "rank")
    )


def hard_negatives_pandas(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every
    anchor, the ``k`` corpus vectors MOST cosine-similar among those
    with a DIFFERENT label (the near-miss negatives that carry the
    training signal; random negatives are trivially separable). The
    label predicate sits BEFORE the rank — filtering a plain top-k
    afterwards under-delivers whenever same-label neighbors crowd
    the head.

    Scored with one BLAS matrix multiply per Arrow batch, for a
    bounded anchor panel (the same contract as
    :func:`knn_bruteforce_pandas`): the panel is collected to the
    driver and closed over, the corpus streams through executors in
    Arrow batches, each batch scoring ALL anchors in a single
    ``(batch × dim) @ (dim × a)`` product with the same-label mask
    applied as one numpy comparison. A corpus-sized anchor set needs
    a block-partitioned join in the shape of :func:`knn_join`.

    Output ordering rounds sim to 6 dp with an id tie-break; the id
    column keeps the input's type (never coerced through a numpy
    dtype). NULL corpus labels are masked out explicitly: numpy
    ``!=`` would treat None as a distinct label and EMIT null-label
    rows as negatives, while SQL ``<>`` (the DuckDB twin) is NULL and
    drops them. Rounding-mode caveat: sims are rounded with numpy
    (half-to-even) where SQL ``round`` is half-up — an exact
    .xxxxxx5 cosine would differ (measure-zero on real doubles; same
    convention as :func:`knn_bruteforce_pandas`)."""
    import pandas as pd
    from pyspark.sql import types as T

    id_type = corpus.schema[id_col].dataType
    label_type = corpus.schema[label_col].dataType
    arows = anchors.select(id_col, label_col, vec_col).collect()
    aids = np.array([r[0] for r in arows])
    alabels = np.array([r[1] for r in arows])
    am = np.array([list(r[2]) for r in arows], dtype=np.float64)
    am = am / np.linalg.norm(am, axis=1, keepdims=True)

    out_schema = T.StructType(
        [
            T.StructField("qid", id_type),
            T.StructField("anchor_label", label_type),
            T.StructField(id_col, id_type),
            T.StructField("neg_label", label_type),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def score(batches):
        # Batch-local top-k prune: the global top-k is a subset of
        # the union of per-batch top-k (same (sim desc, id asc)
        # ordering as the final rank), so each Arrow batch emits at
        # most |anchors|·k candidate rows instead of its full
        # different-label pair grid — the rank shuffle downstream
        # sees O(batches · anchors · k), never O(|corpus|·|anchors|).
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            labels = pdf[label_col].to_numpy()
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = np.round(m @ am.T, 6)  # (batch, a)
            rows_ix: list[np.ndarray] = []
            a_ix: list[np.ndarray] = []
            notnull = pd.notna(labels)
            for j in range(len(aids)):
                valid = np.nonzero((labels != alabels[j]) & notnull)[0]
                if valid.size == 0:
                    continue
                order = np.lexsort((ids[valid], -sims[valid, j]))[:k]
                sel = valid[order]
                rows_ix.append(sel)
                a_ix.append(np.full(sel.size, j))
            if not rows_ix:
                continue
            ri = np.concatenate(rows_ix)
            ai = np.concatenate(a_ix)
            yield pd.DataFrame(
                {
                    "qid": aids[ai],
                    "anchor_label": alabels[ai],
                    id_col: ids[ri],
                    "neg_label": labels[ri],
                    "sim": sims[ri, ai],
                }
            )

    scored = spread(corpus.select(id_col, label_col, vec_col)).mapInPandas(
        score, out_schema
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "anchor_label", id_col, "neg_label", "sim", "rank")
    )


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.2,
) -> DataFrame:
    """Cosine range search (threshold retrieval): every (qid, vec_id,
    sim) with sim ≥ ``threshold`` — the fixed-radius complement of
    top-k ``knn_bruteforce`` (retrieval pipelines use both: k-NN for
    candidate generation, range search for dedup/recall sweeps).

    Same scale shape as ``knn_bruteforce``: queries broadcast with
    hoisted norms, corpus scanned once with no shuffle at all — the
    threshold filter replaces the window rank, so the output needs no
    exchange either (strictly cheaper than top-k)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("__qvec"),
            norm(F.col(vec_col)).alias("__qn"),
        )
    )
    return (
        spread(corpus.select(id_col, vec_col))
        .withColumn("__cn", norm(F.col(vec_col)))
        .join(q, F.col(id_col) != F.col("qid"))
        .withColumn(
            "sim",
            F.round(
                cosine_prenormed(
                    F.col("__qvec"), F.col(vec_col), F.col("__qn"), F.col("__cn")
                ),
                6,
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("qid", id_col, "sim")
    )


# ---------------------------------------------------------------------------
# Hyperplane LSH
# ---------------------------------------------------------------------------

def random_hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (fixed seed → reproducible
    buckets run-to-run, which the driver's checks require)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def srp_bucket(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id: bit i = sign(v · plane_i).

    Built as ONE SQL expression string (``F.expr``): a Column-tree
    version of the same thing costs hundreds of py4j round-trips —
    measured ~1.4 s of pure Python plan-construction time per call at
    8 planes × 64 dims — while a string is a single call parsed
    JVM-side in milliseconds. Semantics and values are identical
    (double literals via ``D`` suffix, same accumulation order).

    ``vec_col`` must be a COLUMN NAME string (ADVICE r1: the old
    Column branch round-tripped through the private ``_jc`` handle,
    which Spark Connect lacks and whose toString is not guaranteed
    re-parseable SQL). Pre-project expressions to a named column
    before calling."""
    if not isinstance(vec_col, str):
        raise TypeError(
            "srp_bucket requires a column-name string; pre-project "
            "Column expressions to a named column first"
        )
    col = vec_col
    vd = f"transform({col}, x -> CAST(x AS DOUBLE))"
    terms = []
    for i, plane in enumerate(planes):
        arr = ", ".join(f"{float(x)!r}D" for x in plane)
        d = (
            f"aggregate(zip_with({vd}, array({arr}), (x, y) -> x * y), "
            f"0D, (acc, v) -> acc + v)"
        )
        terms.append(
            f"IF({d} >= 0D, CAST({1 << i} AS BIGINT), CAST(0 AS BIGINT))"
        )
    return F.expr(" + ".join(terms))


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probe the query's SRP bucket and all
    hamming-1 neighbor buckets (multi-probe), exact cosine within
    candidates. Join keys on the bucket id → the corpus shuffles on a
    well-spread bigint key instead of cross-joining."""
    planes = random_hyperplanes(n_planes, dim, seed)
    c = spread(corpus).select(
        F.col(id_col),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("__cn"),
        srp_bucket(vec_col, planes).alias("__bkt"),
    )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qn"),
        srp_bucket(vec_col, planes).alias("__qbkt"),
    )
    # multi-probe: own bucket + flip each bit once
    probes = F.array(
        F.col("__qbkt"),
        *[
            F.col("__qbkt").bitwiseXOR(F.lit(1 << i).cast("long"))
            for i in range(n_planes)
        ],
    )
    q_probed = F.broadcast(
        exploded(q, probes, "__bkt", keep=["qid", "__qvec", "__qn"])
    )
    scored = (
        c.join(q_probed, "__bkt")
        .filter(F.col(id_col) != F.col("qid"))
        .withColumn(
            "sim",
            F.round(
                cosine_prenormed(
                    F.col("__qvec"), F.col(vec_col), F.col("__qn"), F.col("__cn")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", id_col, "sim", "rank")
        .distinct()
    )


# ---------------------------------------------------------------------------
# IVF (k-means coarse quantizer)
# ---------------------------------------------------------------------------

def ivf_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
):
    """Fit a k-means coarse quantizer (pyspark.ml, fixed seed) and
    return (assignments DataFrame with ``__cluster``, centroids as a
    python list). Centroids are tiny → downstream joins broadcast."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    feats = df.select(
        F.col(id_col), F.col(vec_col), array_to_vector(F.col(vec_col)).alias("features")
    )
    model = KMeans(k=n_clusters, seed=seed, maxIter=20).fit(feats)
    assigned = model.transform(feats).select(
        id_col, vec_col, F.col("prediction").alias("__cluster")
    )
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF top-k: assign corpus to k-means cells once, probe the
    ``nprobe`` nearest cells per query, exact cosine within them."""
    assigned, centroids = ivf_assign(corpus, id_col, vec_col, n_clusters, seed)
    cent_rows = [(i, c) for i, c in enumerate(centroids)]
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(cent_rows, ["__cluster", "__centroid"])
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    # rank centroids per query, keep nprobe nearest cells
    qc = q.crossJoin(F.broadcast(cent_df)).withColumn(
        "__csim", cosine(F.col("__qvec"), F.col("__centroid"))
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("__csim"), F.asc("__cluster"))
    probes = F.broadcast(
        qc.withColumn("__crank", F.row_number().over(wq))
        .filter(F.col("__crank") <= nprobe)
        .select("qid", "__qvec", "__qn", "__cluster")
    )
    scored = (
        assigned.withColumn("__cn", norm(F.col(vec_col)))
        .join(probes, "__cluster")
        .filter(F.col(id_col) != F.col("qid"))
        .withColumn(
            "sim",
            F.round(
                cosine_prenormed(
                    F.col("__qvec"), F.col(vec_col), F.col("__qn"), F.col("__cn")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", id_col, "sim", "rank")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dedup
# ---------------------------------------------------------------------------

def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold. SRP
    buckets generate candidates (plus hamming-1 multi-probe on one
    side so near-threshold pairs straddling a hyperplane aren't all
    lost), exact cosine verifies.

    SCALE DIAL (r9, found by the sf10 probe): ``n_planes`` sets the
    bucket count (2^n_planes) and therefore the candidate-join
    fan-out — size it so n/2^n_planes stays a per-task-sortable
    bucket (n_planes ≈ log2(n / 10k); the probe hung the 200k-vector
    replica set on the default 4 planes = 16 buckets ≈ 12B candidate
    pairs). The default stays 4 because the pair SET is part of the
    operator's oracle-checked semantics at the gate SF — more planes
    trade recall for fan-out, so the dial belongs to the caller, not
    to a data-dependent heuristic that would make results
    irreproducible across cluster sizes. Recall lost per added plane
    is bounded by the hamming-1 probe ring."""
    planes = random_hyperplanes(n_planes, dim, seed)
    bucketed = spread(df).select(
        F.col(id_col),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("__nrm"),
        srp_bucket(vec_col, planes).alias("__bkt"),
    )
    a = bucketed.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        F.col("__nrm").alias("__na"),
        "__bkt",
    )
    probes = F.array(
        F.col("__bkt"),
        *[F.col("__bkt").bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(n_planes)],
    )
    b = (
        exploded(
            bucketed,
            probes,
            "__probe",
            keep=[
                F.col(id_col).alias("id_b"),
                F.col(vec_col).alias("__vb"),
                F.col("__nrm").alias("__nb"),
            ],
        )
        .withColumnRenamed("__probe", "__bkt")
    )
    return (
        a.join(b, "__bkt")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            F.round(
                cosine_prenormed(
                    F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
                ),
                6,
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Arrow/Pandas vectorized brute force (the documented fast path)
# ---------------------------------------------------------------------------

def knn_bruteforce_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k scored with one BLAS matrix multiply per
    Arrow batch (``mapInPandas``) instead of per-pair higher-order
    functions — the vectorized alternative to :func:`knn_bruteforce`.

    The query set is collected to the driver and closed over (same
    small-query-batch contract as the broadcast in the HOF form); the
    corpus streams through executors in Arrow batches, each batch
    scoring ALL queries in a single ``(batch × dim) @ (dim × q)``
    product. Python cost is O(1) per batch, not O(rows); at 64 dims
    this is the faster path once batches exceed a few thousand rows,
    and the gap widens with dimensionality. Results match the HOF
    form at 6-dp rounding (float64 throughout). Measured as
    q_knn_pandas against q_knn_exact (warm min-of-3, ``local[4]``,
    four order-alternated waves with a control): 0.84–1.02 s against
    0.88–1.00 s at sf0.1, 1.00–1.37 s against 1.14–1.82 s at sf1; it
    won 3 of 4 waves at each scale.

    The id columns keep the INPUT's type in the output schema and are
    never coerced through a numpy dtype (ADVICE r1: pinning
    ``long``/int64 broke or silently narrowed non-int64 ids)."""
    import pandas as pd
    from pyspark.sql import types as T

    id_type = corpus.schema[id_col].dataType
    qrows = queries.select(id_col, vec_col).collect()
    qids = [r[0] for r in qrows]
    qm = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    out_schema = T.StructType(
        [
            T.StructField("qid", id_type),
            T.StructField(id_col, id_type),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            m = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = np.round(m @ qm.T, 6)  # (batch, q)
            for j in range(len(qids)):
                mask = ids != qids[j]
                yield pd.DataFrame(
                    {
                        "qid": qids[j],
                        id_col: ids[mask],
                        "sim": sims[mask, j],
                    }
                )

    scored = spread(corpus.select(id_col, vec_col)).mapInPandas(score, out_schema)
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", id_col, "sim", "rank")
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label embedding centroid, one output row per (label,
    dimension) — the class-prototype computation behind nearest-
    centroid classification, IVF coarse quantizers, and cluster
    drift monitoring.

    Implementation is pure relational: ``posexplode`` the vector and
    hash-aggregate ``avg`` on (label, dim). One shuffle whose width
    is #labels × dim — independent of corpus size — and the partial
    aggregate combines map-side, so 100 TB of embeddings reduce to
    kilobytes before the exchange."""
    return (
        exploded(
            df,
            _as_double(F.col(vec_col)),
            "__v",
            keep=[label_col],
            pos_alias="dim",
        )
        .groupBy(label_col, "dim")
        .agg(
            F.round(F.avg("__v"), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    q_i = round(x_i/scale) ∈ [−127, 127] — the storage/bandwidth
    optimization every large-scale ANN index applies (4× smaller than
    float32, SIMD-friendly dot products). Returns the quantized array
    plus round-trip diagnostics (scale, reconstruction RMSE).

    Arrow-batched numpy kernel over ``mapInPandas`` (r6): with the
    FULL output materialized (noop write — ``count()`` lets Catalyst
    prune the arrays and times nothing), the vectorized matrix form
    wins 0.52 s vs the best JVM higher-order-function form's 0.89 s
    at sf1 — numeric fixed-width arrays are the case where Arrow
    transfer is cheap and numpy's C loops beat interpreted lambda
    evaluation (the OPPOSITE verdict from the text-positional family;
    each family's winner is pinned by measurement, SCALE.md r5/r6).
    Map-only, zero shuffle — at 100 TB bounded by scan + write
    bandwidth.

    Exactness: rounding is round-half-away-from-zero via
    ``floor(|v| + 0.5)·sign(v)`` — equal to Spark's BigDecimal
    HALF_UP on doubles and DuckDB's ROUND (numpy's own ``round``
    half-even would diverge); ``scale``/``rmse`` are rounded
    Spark-side so the 6/9-dp fold stays the engine's own. Verified
    value-identical to the expression form on every sf1 vector.
    Ragged/NULL/empty rows take a per-row fallback with the same
    semantics as the expression form (NULL → NULLs; empty → scale 0,
    empty q_vec, rmse 0; all-zero → zero q_vec)."""
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()

    def kernel(batches):
        for pdf in batches:
            ids = pdf[id_col]
            vecs = pdf[vec_col]
            lens = [len(v) if v is not None else -1 for v in vecs]
            if lens and lens[0] > 0 and all(n == lens[0] for n in lens):
                M = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in vecs]
                )
                scale = np.abs(M).max(axis=1) / 127.0
                safe = np.where(scale == 0.0, 1.0, scale)
                R = M / safe[:, None]
                Q = (np.floor(np.abs(R) + 0.5) * np.sign(R)).astype(
                    np.int32
                )
                zero = scale == 0.0
                if zero.any():
                    Q[zero, :] = 0
                rmse = np.sqrt(((M - Q * safe[:, None]) ** 2).mean(axis=1))
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "scale": scale,
                        "q_vec": list(Q),
                        "rmse": rmse,
                    }
                )
                continue
            rows = []
            for rid, v in zip(ids, vecs):
                if v is None:
                    rows.append((rid, None, None, None))
                    continue
                a = np.asarray(v, dtype=np.float64)
                if a.size == 0:
                    rows.append((rid, 0.0, [], 0.0))
                    continue
                s = float(np.abs(a).max()) / 127.0
                ss = s if s else 1.0
                r = a / ss
                q = (np.floor(np.abs(r) + 0.5) * np.sign(r)).astype(
                    np.int32
                )
                if s == 0.0:
                    q[:] = 0
                rows.append(
                    (rid, s, q, float(np.sqrt(((a - q * ss) ** 2).mean())))
                )
            yield pd.DataFrame(
                rows, columns=[id_col, "scale", "q_vec", "rmse"]
            )

    out = df.select(id_col, vec_col).mapInPandas(
        kernel,
        f"{id_col} {id_type}, scale double, q_vec array<int>, "
        "rmse double",
    )
    return out.select(
        id_col,
        F.round("scale", 9).alias("scale"),
        "q_vec",
        F.round("rmse", 9).alias("rmse"),
    )


def label_moments_arrow(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label embedding moment summary — vector count, centroid
    norm, covariance trace (total within-class variance) — computed
    with ``groupBy().applyInArrow``: each group arrives as a single
    Arrow table, is stacked into one numpy matrix, and reduces with
    BLAS-backed two-pass moments. The Arrow-native twin of the
    ``applyInPandas`` path (no pandas conversion at all — columns map
    straight onto numpy buffers), demonstrating the zero-copy interop
    tier for numerical kernels Spark SQL can't express.

    Scale: one shuffle on the label key; per-group memory is
    n_label × dim doubles, so labels must fit an executor (the same
    contract as any grouped-map op — pre-aggregate or sub-bucket
    million-row classes first). Output width is #labels.
    """
    import pyarrow as pa

    label_type = df.schema[label_col].dataType

    def moments(table: "pa.Table") -> "pa.Table":
        lab = table.column(label_col)
        m = np.array(table.column(vec_col).to_pylist(), dtype=np.float64)
        mu = m.mean(axis=0)
        return pa.table(
            {
                # keep the INPUT label arrow type (int32 labels would
                # otherwise infer as int64 and fail the schema check)
                label_col: pa.array([lab[0].as_py()], type=lab.type),
                "n_vecs": pa.array([m.shape[0]], type=pa.int64()),
                "mean_norm": [round(float(np.sqrt((mu * mu).sum())), 6)],
                "cov_trace": [round(float(((m - mu) ** 2).mean(axis=0).sum()), 6)],
            }
        )

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(label_col, label_type),
            T.StructField("n_vecs", T.LongType()),
            T.StructField("mean_norm", T.DoubleType()),
            T.StructField("cov_trace", T.DoubleType()),
        ]
    )
    return (
        df.select(label_col, vec_col)
        .groupBy(label_col)
        .applyInArrow(moments, out_schema)
    )


def cosine_scores_arrow(
    corpus: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    alias: str = "sim",
) -> DataFrame:
    """Cosine of every corpus vector against ONE query vector via
    ``mapInArrow`` — the iterator-of-RecordBatch interop tier (the
    only UDF form with literally zero row materialization: Arrow
    buffers map straight onto numpy matrices, one BLAS matvec per
    batch). Completes the Python-interop matrix next to pandas
    grouped-map (``grouped_zscore``), pandas grouped-agg
    (``trimmed_mean``), iterator-of-pandas (``knn_bruteforce_pandas``),
    Arrow grouped-map (``label_moments_arrow``) and the UDTF.

    Map-only: no shuffle at any scale — each task scores its own
    batches; 6-dp rounding matches the SQL expression oracle
    exactly (``test_extended4.py``-style equality asserted in
    tests/test_extended10.py)."""
    import pyarrow as pa

    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))
    id_type = corpus.schema[id_col].dataType

    def score(batches):
        for t in batches:
            m = np.array(t.column(vec_col).to_pylist(), dtype=np.float64)
            if m.size == 0:
                sims = np.zeros((0,))
            else:
                norms = np.sqrt((m * m).sum(axis=1))
                with np.errstate(invalid="ignore", divide="ignore"):
                    sims = np.round((m @ q) / (norms * qn), 6)
            yield pa.RecordBatch.from_arrays(
                [t.column(0), pa.array(sims, type=pa.float64())],
                names=[id_col, alias],
            )

    out_schema = f"{id_col} {id_type.simpleString()}, {alias} double"
    return corpus.select(id_col, vec_col).mapInArrow(score, out_schema)


# ---------------------------------------------------------------------------
# Semantic dedup (cluster-then-prune, SemDeDup-style)
# ---------------------------------------------------------------------------

def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.7,
    n_clusters: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Semantic deduplication: cluster embeddings with the IVF
    coarse quantizer, then within each cluster drop every vector
    whose cosine to ANY lower-id vector of the same cluster is ≥
    ``threshold`` (so the lowest id of each near-duplicate
    neighborhood always survives as the exemplar). Returns the kept
    rows as (id, cluster).

    This is the cluster-then-prune semantic-dedup recipe (Abbas et
    al., "SemDeDup", arXiv:2303.09540) re-expressed as DataFrames:
    clustering cuts the pairwise verify from O(n²) to
    O(Σ cluster²) ≈ O(n²/k), and each cluster's pair join
    co-locates on the cluster key — one shuffle, no cross-cluster
    pairs ever materialize. Like all LSH/IVF-family ops here it is
    approximate at the boundary: a pair split across two cells is
    never compared (recall dial = ``n_clusters``; raise for speed,
    lower for recall).

    Keep-lowest-id within a pair (rather than transitive-closure
    components) is the standard greedy SemDeDup policy and keeps the
    op a single join + anti-join — no iteration.
    """
    assigned, _ = ivf_assign(df, id_col, vec_col, n_clusters, seed)
    withn = assigned.withColumn("__n", norm(F.col(vec_col)))
    left = withn.select(
        F.col("__cluster"),
        F.col(id_col).alias("__a"),
        F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"),
    )
    right = withn.select(
        F.col("__cluster"),
        F.col(id_col).alias("__b"),
        F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    dropped = (
        left.join(right, "__cluster")
        .filter(F.col("__a") < F.col("__b"))
        .withColumn(
            "__sim",
            F.round(
                cosine_prenormed(
                    F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
                ),
                6,
            ),
        )
        .filter(F.col("__sim") >= threshold)
        .select(F.col("__b").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dropped, id_col, "left_anti")
        .select(id_col, F.col("__cluster").alias("cluster"))
    )


# ---------------------------------------------------------------------------
# Distributed PCA (map-side Gram reduction + driver eigendecomposition)
# ---------------------------------------------------------------------------

def pca_fit(
    df: DataFrame, vec_col: str = "embedding", k: int = 2
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fit PCA over an ``array<float>`` column with the classic
    two-phase distributed algorithm:

    1. **Map-side sufficient statistics**: ``mapInPandas`` folds each
       Arrow batch into ONE fixed-size row ``(n, Σx, XᵀX)`` — a BLAS
       ``X.T @ X`` per batch, zero row materialization. The reduce is
       a single narrow aggregate over ``1 + d + d²`` exploded cells,
       so the driver receives O(d²) numbers regardless of corpus
       size — the same treeAggregate shape MLlib's PCA/SVD uses.
    2. **Driver eigendecomposition** of the d×d sample covariance
       (``numpy.linalg.eigh``) — d is embedding width (64 here,
       ≤ a few thousand in practice), never data-sized.

    Sign convention: each component's largest-|coefficient| entry is
    made positive, so the fit is deterministic up to FP summation
    order. Returns ``(mean[d], components[k,d], explained_var[k])``.
    """
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [float(len(x))],
                    "s": [x.sum(axis=0)],
                    "g": [(x.T @ x).ravel()],
                }
            )

    part = df.select(vec_col).mapInPandas(
        partials, "n double, s array<double>, g array<double>"
    )
    cells = part.select(
        F.posexplode(
            F.concat(F.array(F.col("n")), F.col("s"), F.col("g"))
        ).alias("idx", "v")
    )
    rows = cells.groupBy("idx").agg(F.sum("v").alias("v")).collect()
    flat = np.zeros(max(r["idx"] for r in rows) + 1)
    for r in rows:
        flat[r["idx"]] = r["v"]
    n = flat[0]
    d = int(round((len(flat) - 1 + 0.25) ** 0.5 - 0.5))  # 1 + d + d²
    s, g = flat[1 : 1 + d], flat[1 + d :].reshape(d, d)
    mean = s / n
    cov = (g - n * np.outer(mean, mean)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T
    for i in range(len(comps)):
        if comps[i][np.argmax(np.abs(comps[i]))] < 0:
            comps[i] = -comps[i]
    return mean, comps, evals[order]


def pca_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 2,
    round_to: int = 4,
) -> DataFrame:
    """Project every vector onto the top-k principal components
    (centered scores). The fit ships O(d²) numbers to the driver
    (:func:`pca_fit`); the projection is a map-only pass — each
    component becomes one JVM-side fold expression with the component
    vector inlined as literals (same string-built expression trick as
    :func:`srp_bucket`: one parse instead of hundreds of py4j calls),
    so the scoring scan never shuffles at any scale."""
    mean, comps, _ = pca_fit(df, vec_col, k)
    vd = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    cols = [id_col]
    for i, comp in enumerate(comps):
        lits = ", ".join(f"{float(c)!r}D" for c in comp)
        offset = float(mean @ comp)
        cols.append(
            f"round(aggregate(zip_with({vd}, array({lits}), "
            f"(x, y) -> x * y), 0D, (a, x) -> a + x) - {offset!r}D, "
            f"{round_to}) AS pc{i + 1}"
        )
    return df.selectExpr(*cols)


def mips_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact maximum-inner-product top-k (MIPS): (qid, vec_id, score,
    rank). The retrieval objective for embedding models trained with
    a dot-product head (where cosine's norm division is WRONG —
    magnitude carries learned information); the un-normalized sibling
    of :func:`knn_bruteforce`, sharing its plan shape: broadcast
    queries, zero-shuffle corpus scan, per-partition candidates into
    one rank window. Scores round to 6 dp with id tie-break so the
    ranking is stable across engines and partial-sum orders."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("qid"),
            _as_double(F.col(vec_col)).alias("__qvec"),
        )
    )
    scored = (
        spread(corpus.select(id_col, vec_col))
        .join(q, F.col(id_col) != F.col("qid"))
        .withColumn(
            "score",
            F.round(dot(F.col("__qvec"), _as_double(F.col(vec_col))), 6),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", id_col, "score", "rank")
    )


def kmeans_micro(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    n_iter: int = 3,
    scale: int = 10**6,
) -> DataFrame:
    """Engine-exact Lloyd's k-means: embeddings quantized to integer
    micro-units, distances and centroid updates in exact BIGINT
    arithmetic, argmin tie-broken by centroid id, centroid division
    truncated toward zero via an explicit sign split (Spark ``div``
    truncates, DuckDB ``//`` floors — they differ on negatives, so
    the recurrence spells out ``sign·(|s| div n)``). With
    deterministic init (the k smallest ids), every iteration is a
    pure function of the input — the same integerization that makes
    :func:`graph.pagerank_micro` oracle-able, applied to clustering
    (pyspark.ml's KMeans is rows-only for exactly this reason:
    float centroids + seeded init are engine-private).

    Returns ``(cluster_id, n_vecs, dim, centroid_q)`` — one row per
    centroid dimension (flat integers hash cleanly cross-engine).

    Scale shape: per iteration one broadcast of k quantized
    centroids, one narrow argmin over the corpus (no shuffle), and
    one (cluster, dim) hash aggregate — the canonical distributed
    Lloyd step; corpus rows never shuffle."""
    # promote float32 to double BEFORE the scale multiply: bare
    # float*int stays float32 in one engine and double in the other,
    # shifting quantized values by one unit near .5 boundaries
    qv = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * scale, 0).cast("bigint"),
    )
    emb = df.select(F.col(id_col).alias("vid"), qv.alias("qv")).transform(pin("vector"))
    cents = (
        emb.orderBy("vid")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("vid")) - 1).alias("cid"),
            F.col("qv").alias("cv"),
        )
        .transform(pin("vector"))
    )
    dist = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    assigned = None
    for _ in range(n_iter):
        assigned = (
            emb.crossJoin(F.broadcast(cents))
            .select("vid", "qv", F.struct(dist.alias("d"), "cid").alias("__s"))
            .groupBy("vid")
            .agg(F.min("__s").alias("__m"), F.first("qv").alias("qv"))
            .select("vid", "qv", F.col("__m.cid").alias("cid"))
        )
        sums = (
            assigned.select("cid", F.posexplode("qv").alias("dim", "val"))
            .groupBy("cid", "dim")
            .agg(F.sum("val").alias("sm"), F.count(F.lit(1)).alias("n"))
            .withColumn(
                "cq",
                F.expr(
                    "CASE WHEN sm >= 0 THEN sm div n "
                    "ELSE -((-sm) div n) END"
                ),
            )
        )
        new_c = sums.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cq"))),
                lambda s: s["cq"],
            ).alias("cv")
        )
        cents = (
            cents.select("cid", F.col("cv").alias("__old"))
            .join(new_c, "cid", "left")
            .select("cid", F.coalesce("cv", "__old").alias("cv"))
            .transform(pin("vector"))
        )
    counts = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        cents.join(counts, "cid", "left")
        .select(
            F.col("cid").cast("bigint").alias("cluster_id"),
            F.coalesce("n_vecs", F.lit(0)).cast("bigint").alias("n_vecs"),
            F.posexplode("cv").alias("dim", "centroid_q"),
        )
        .select(
            "cluster_id", "n_vecs",
            F.col("dim").cast("bigint").alias("dim"),
            "centroid_q",
        )
    )
