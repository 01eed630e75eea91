"""Similarity search over embedding columns — exact baseline + LSH scale path.

- ``brute_force_topk``: exact cosine top-k via broadcast of the (small) query
  set against the full corpus — the correctness baseline.  One pass, no
  shuffle on the corpus side; ranking via per-query window.
- ``ivf_assign`` / ``ivf_topk``: IVF (inverted-list) ANN — vectors are
  assigned to their best inner-product centroid (a small broadcast dim);
  queries probe only their ``nprobe`` best lists.  nprobe = K reproduces
  the exact brute-force answer.
- ``ann_topk``: LSH-bucketed approximate search: corpus and queries are
  hashed to hyperplane sign-bit buckets; each query probes its own bucket
  plus every bucket at Hamming distance ≤ ``probes`` (multiprobe), and only
  those candidates are scored.  At 10^9+ vectors the bucket join touches
  ~(candidates/2^planes · probes) of the corpus instead of all of it, and the
  bucketed corpus can be written once and reused (the IVF analogue: buckets
  are the inverted lists).

Determinism: hyperplanes are caller-supplied literals (seeded offline), so
results are reproducible and oracle-checkable.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..functions.vectors import (
    dot,
    l2_norm,
    seq_dot_np,
    seq_norm_np,
)


def _stack_f64(series):
    """Column of ARRAY<FLOAT/DOUBLE> (pandas Series of np arrays) → (n, d)
    float64 matrix.  float32→float64 widening is exact, matching the
    per-element cast in the Column fold and ``embedding::DOUBLE[]`` in the
    DuckDB twins."""
    import numpy as np

    return np.stack(series.to_numpy()).astype(np.float64, copy=False)


def _with_seq_dot(df: DataFrame, a_col: str, b_col: str, out_col: str) -> DataFrame:
    """Append the RAW sequential-fold dot(a, b) as *out_col* via an
    Arrow-batched NumPy kernel (mapInPandas).

    Bit-identical to ``functions.vectors.dot`` (cumsum is a strict
    left-to-right accumulation) but compile-free: the 64-dim unrolled Column
    expression generates a ~192-op method that exceeds the JVM JIT threshold
    and runs interpreted on cold sessions (24 s on the driver's cold bench vs
    <1 s here).  Authoritative rounding stays in Spark (F.round downstream),
    so engine round semantics are unchanged."""
    schema = StructType(df.schema.fields + [StructField(out_col, DoubleType())])

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf[out_col] = seq_dot_np(_stack_f64(pdf[a_col]), _stack_f64(pdf[b_col]))
            yield pdf

    return df.mapInPandas(score, schema)


def _with_pair_scores(
    df: DataFrame, a_col: str, b_col: str, dot_col: str, na_col: str, nb_col: str
) -> DataFrame:
    """Append raw dot(a,b) plus the two L2 norms in ONE Arrow pass — the
    candidate-scoring kernel shared by the IVF/LSH top-k operators."""
    schema = StructType(
        df.schema.fields
        + [
            StructField(dot_col, DoubleType()),
            StructField(na_col, DoubleType()),
            StructField(nb_col, DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = _stack_f64(pdf[a_col])
            b = _stack_f64(pdf[b_col])
            pdf[dot_col] = seq_dot_np(a, b)
            pdf[na_col] = seq_norm_np(a)
            pdf[nb_col] = seq_norm_np(b)
            yield pdf

    return df.mapInPandas(score, schema)


def _scored_cosine(d: "F.Column", na: "F.Column", nb: "F.Column") -> "F.Column":
    """dot/(na*nb) with the same zero-guard and op order as functions.cosine,
    but over precomputed norm columns — the norms are computed once per
    vector instead of once per pair, and each expression stays small enough
    for the JIT (a fully-unrolled cosine is ~256 element_at terms, whose
    generated method exceeds the JIT threshold and runs interpreted)."""
    denom = na * nb
    return F.when(denom == 0, F.lit(0.0)).otherwise(d / denom)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus (query set small).

    Pass *dim* when the embedding width is known: the scorer unrolls to a
    flat codegen expression instead of the interpreted fold (same bits).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col), dim).alias("_nq"),
    )
    c = corpus.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col), dim).alias("_nc")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                _scored_cosine(
                    dot(F.col("qvec"), F.col(vec_col), dim), F.col("_nq"), F.col("_nc")
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def brute_force_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    score_col: str = "score",
) -> DataFrame:
    """Exact cosine top-k, Arrow-batched NumPy scorer (the cold-fast twin of
    ``brute_force_topk`` — same bits, no giant codegen classes).

    The query set is collected to the driver (same smallness premise as the
    broadcast in ``brute_force_topk``) and closed over by a mapInPandas
    kernel that scores each corpus batch against every query and emits only
    the candidates that could still place in the batch's top k — the
    map-side partial top-k that keeps the final per-query window over
    O(batches·k) rows instead of the whole corpus.  Pruning is a RAW-score
    threshold with a one-rounding-step margin: every candidate whose raw
    score is within 10^-round_to of the batch's k-th largest raw score is
    kept, which provably covers every candidate whose ROUNDED score (under
    Spark's BigDecimal rounding, or any monotone rounding) can tie or beat
    the k-th — correctness does not depend on NumPy and Spark agreeing on
    boundary-value rounding.  The emitted score is RAW and the
    authoritative F.round happens in Spark, so the output bits match
    ``brute_force_topk`` exactly.
    """
    import numpy as np
    import pandas as pd

    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        # empty query set → empty result with the contract schema
        return corpus.sparkSession.createDataFrame(
            [], f"query_id long, rank int, neighbor_id long, {score_col} double"
        )
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qnorm = seq_norm_np(qmat)
    # If round_spark(x) >= round_spark(y) then x >= y - 10^-round_to for any
    # rounding with error <= 0.5*10^-round_to on each side; the tiny relative
    # bump guards the float64 subtraction itself.
    margin = (10.0 ** -round_to) * (1.0 + 1e-9)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            e = _stack_f64(pdf[vec_col])
            nc = seq_norm_np(e)
            out_q, out_n, out_s = [], [], []
            for j in range(len(qids)):
                d = seq_dot_np(e, np.broadcast_to(qmat[j], e.shape))
                denom = qnorm[j] * nc
                cos = np.where(denom == 0, 0.0, d / np.where(denom == 0, 1.0, denom))
                mask = ids != qids[j]
                cand_ids, cand_cos = ids[mask], cos[mask]
                if len(cand_cos) > k:
                    kth_raw = np.partition(cand_cos, len(cand_cos) - k)[
                        len(cand_cos) - k
                    ]
                    keep_mask = cand_cos >= kth_raw - margin
                    cand_ids, cand_cos = cand_ids[keep_mask], cand_cos[keep_mask]
                out_q.append(np.full(len(cand_ids), qids[j], dtype=np.int64))
                out_n.append(cand_ids)
                out_s.append(cand_cos)
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "_raw": np.concatenate(out_s),
                }
            )

    partial = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, _raw double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc(score_col), F.asc("neighbor_id"))
    return (
        partial.select(
            "query_id", "neighbor_id", F.round(F.col("_raw"), round_to).alias(score_col)
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", score_col)
    )


def _probe_buckets(bucket_col, n_planes: int, probes: int):
    """Array of bucket ids within Hamming distance <= probes of bucket_col."""
    variants = [bucket_col]
    bits = list(range(n_planes))
    for r in range(1, probes + 1):
        for flip in combinations(bits, r):
            mask = 0
            for b in flip:
                mask |= 1 << b
            variants.append(bucket_col.bitwiseXOR(F.lit(mask)))
    return F.array(*variants)


def bucketize(
    df: DataFrame, planes: list[list[float]], id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Attach the hyperplane sign-bit bucket (the writable 'inverted list' key).

    Arrow path: the per-plane dots are cumsum-sequential NumPy folds, bitwise
    identical to the left-associative Column ``dot`` fold (a Column sign-bit
    expression unrolls 64 terms per plane and paid seconds of cold compile
    per distinct query); the sign-bit packing is integer arithmetic.

    The bucket is a 64-bit LONG: the sizing rule (``planes_for_corpus``)
    steers 10^9+ corpora toward 20–30+ planes, and ``1 << i`` on int32
    overflows to negative/undefined bucket ids at plane 31 — capped at 62
    planes so the packed id stays a positive int64."""
    import numpy as np

    if len(planes) > 62:
        raise ValueError(
            f"{len(planes)} planes exceed the 62-bit bucket-id budget — "
            "shard the plane set into multiple independent LSH tables instead"
        )
    pmat = np.array(planes, dtype=np.float64)
    schema = StructType(df.schema.fields + [StructField("bucket", LongType())])

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = _stack_f64(pdf[vec_col])
            bucket = np.zeros(len(pdf), dtype=np.int64)
            for i in range(pmat.shape[0]):
                d = seq_dot_np(v, np.broadcast_to(pmat[i], v.shape))
                bucket |= (d >= 0).astype(np.int64) << np.int64(i)
            pdf["bucket"] = bucket
            yield pdf

    return df.mapInPandas(run, schema)


def expected_bucket_occupancy(n_vectors: int, n_planes: int) -> float:
    """Expected vectors per hyperplane bucket: N / 2**planes (uniform model).

    The inverse sizing rule: ``planes_for(N, target) = ceil(log2(N/target))``.
    """
    return n_vectors / float(2**n_planes)


def planes_for_corpus(n_vectors: int, target_bucket: int = 1000) -> int:
    """Plane count that keeps expected bucket occupancy ≤ *target_bucket*."""
    import math

    return max(1, math.ceil(math.log2(max(1.0, n_vectors / target_bucket))))


def embedding_near_dupe_pairs(
    corpus: DataFrame,
    planes: list[list[float]],
    min_cosine: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_vectors: int | None = None,
    max_expected_bucket: int = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via bucketed self-comparison.

    Vectors are compared only within their hyperplane bucket (near-identical
    embeddings share all sign bits with overwhelming probability), so the
    work is sum-of-squares of bucket sizes, not corpus².  Returns
    (id_a < id_b, cos) pairs with cosine >= min_cosine.

    SIZING RULE (do not scale the plane count naively): expected bucket
    occupancy is N / 2**len(planes), and per-bucket compare cost is
    occupancy², so pick ``len(planes) ≈ log2(N / target_bucket)`` with
    target_bucket in the 10²–10³ range — e.g. 10⁹ vectors want ~20–27 planes,
    NOT the 4-plane/16-bucket default that fits the 10³-row test corpus.
    ``expected_bucket_occupancy`` computes the estimate; the constructor
    refuses plane sets whose expected occupancy exceeds ``max_expected_bucket``
    so an under-planed call fails loudly instead of going quadratic.
    """
    if n_vectors is not None:
        occ = expected_bucket_occupancy(n_vectors, len(planes))
        if occ > max_expected_bucket:
            raise ValueError(
                f"{len(planes)} planes give expected bucket occupancy "
                f"{occ:.0f} > {max_expected_bucket} for {n_vectors} vectors — "
                f"use >= {planes_for_corpus(n_vectors, max_expected_bucket)} "
                f"planes (see sizing rule in the docstring)"
            )
    b = bucketize(corpus, planes, id_col, vec_col)
    a = b.select(F.col("bucket"), F.col(id_col).alias("id_a"),
                 F.col(vec_col).alias("va"))
    c = b.select(F.col("bucket"), F.col(id_col).alias("id_b"),
                 F.col(vec_col).alias("vb"))
    cand = a.join(c, "bucket").filter(F.col("id_a") < F.col("id_b"))
    return (
        _with_pair_scores(cand, "va", "vb", "_rawdot", "_na", "_nb")
        .select(
            "id_a",
            "id_b",
            F.round(
                _scored_cosine(F.col("_rawdot"), F.col("_na"), F.col("_nb")), 4
            ).alias("cos"),
        )
        .filter(F.col("cos") >= min_cosine)
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    metric_round: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """IVF list assignment: each vector joins its best (inner-product) centroid.

    The Faiss-IVF analogue on DataFrames: *centroids* is a small dim table
    (K ≈ √N lists at scale) broadcast against the corpus; the affinity is the
    sequential-fold dot product (rounded to ``metric_round`` so the DuckDB
    twin agrees on near-ties), and the argmax is a per-vector window with
    centroid-id
    tie-break — fully deterministic, no iterative k-means state.

    At 10^9+ vectors this is one broadcast join plus a narrow window keyed by
    the vector id; the assigned corpus is written once, bucketed by
    ``centroid_id``, and every probe query then touches only its lists.

    Returns (id, vec, centroid_id, affinity).
    """
    c = centroids.select(
        F.col(id_col).alias(centroid_id_col), F.col(vec_col).alias("cvec")
    )
    # raw dot via the Arrow NumPy kernel (bit-identical to the unrolled fold,
    # compile-free — see _with_seq_dot); authoritative rounding stays F.round
    scored = _with_seq_dot(
        corpus.select(id_col, vec_col).crossJoin(F.broadcast(c)),
        vec_col,
        "cvec",
        "_rawdot",
    ).select(
        id_col,
        vec_col,
        centroid_id_col,
        F.round(F.col("_rawdot"), metric_round).alias("affinity"),
    )
    # argmax as max_by over a unique (affinity, -centroid_id) key: a hash
    # aggregation with map-side partials instead of a sort-based window over
    # the full (vectors x K) cross product — same deterministic winner
    # (affinity desc, centroid_id asc), one less sort+shuffle of K copies
    best = F.max_by(
        F.struct(
            F.col(centroid_id_col), F.col("affinity"), F.col(vec_col).alias("_v")
        ),
        F.struct(F.col("affinity"), (-F.col(centroid_id_col)).alias("_neg")),
    ).alias("_b")
    return scored.groupBy(id_col).agg(best).select(
        id_col,
        F.col(f"_b._v").alias(vec_col),
        F.col(f"_b.{centroid_id_col}").alias(centroid_id_col),
        F.col("_b.affinity").alias("affinity"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric_round: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` best lists per query.

    Same output schema as ``brute_force_topk``; with nprobe = K (all lists)
    the result is *exactly* the brute-force answer — the standard IVF
    recall/latency dial.  Queries are ranked against the centroid dim, then
    joined to the assigned corpus on ``centroid_id``, so the scored candidate
    set is the union of the probed inverted lists instead of the whole corpus.
    """
    assigned = ivf_assign(corpus, centroids, id_col, vec_col, metric_round=metric_round, dim=dim)
    return _ivf_probe_score(
        assigned, queries, centroids, k, nprobe, id_col, vec_col, metric_round
    )


def write_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric_round: int = 6,
    n_files: int | None = None,
) -> None:
    """Persist the ASSIGNED corpus once as a Hive-bucketed table keyed by
    ``centroid_id`` — the materialized IVF inverted lists (the T38
    write-once/probe-many contract applied to IVF).  ``ivf_topk`` recomputes
    the full corpus→centroid assignment (a corpus-wide broadcast join +
    argmax agg) on EVERY query batch; at 10^9+ vectors that assignment is
    the dominant cost and it only changes when the centroids do.  Probes
    against the persisted lists (``ivf_topk_indexed``) scan pre-bucketed
    files and join with zero corpus-side Exchange."""
    from .skew import write_bucketed

    assigned = ivf_assign(
        corpus, centroids, id_col, vec_col, metric_round=metric_round
    )
    write_bucketed(
        assigned, table, n_files or 32, "centroid_id", sort_col="centroid_id"
    )


def ivf_topk_indexed(
    indexed_assigned: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric_round: int = 6,
) -> DataFrame:
    """IVF top-k over a persisted index (``spark.table`` of
    ``write_ivf_index``) — identical results to ``ivf_topk`` with the same
    centroids (asserted in tests), no per-query corpus assignment."""
    return _ivf_probe_score(
        indexed_assigned, queries, centroids, k, nprobe, id_col, vec_col,
        metric_round,
    )


def _ivf_probe_score(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    metric_round: int,
) -> DataFrame:
    """Rank queries against the centroid dim, join their nprobe best lists
    from the assigned corpus, score candidates in one Arrow pass."""
    c = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")
    )
    qw = Window.partitionBy("query_id").orderBy(
        F.desc("q_affinity"), F.asc("centroid_id")
    )
    probes = (
        _with_seq_dot(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
            ).crossJoin(F.broadcast(c)),
            "qvec",
            "cvec",
            "_rawq",
        )
        .select(
            "query_id",
            "qvec",
            "centroid_id",
            F.round(F.col("_rawq"), metric_round).alias("q_affinity"),
        )
        .withColumn("_rn", F.row_number().over(qw))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "qvec", "centroid_id")
    )
    cand = assigned.join(probes, "centroid_id").filter(
        F.col(id_col) != F.col("query_id")
    )
    # one Arrow pass computes the raw dot and both norms for every candidate
    scored = _with_pair_scores(cand, "qvec", vec_col, "_rawdot", "_nq", "_nc").select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            _scored_cosine(F.col("_rawdot"), F.col("_nq"), F.col("_nc")),
            metric_round,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def write_ann_index(
    corpus: DataFrame,
    planes: list[list[float]],
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_files: int | None = None,
) -> None:
    """Persist the LSH-bucketed corpus ONCE as a Hive-bucketed table keyed by
    the sign-bit bucket — the materialized inverted-list index.

    Every later probe query (``ann_topk_indexed``) scans pre-hashed bucket
    files and joins on ``bucket`` with NO corpus-side Exchange: at 10^9+
    vectors this is the difference between re-shuffling the corpus per query
    batch and never shuffling it again (the write-once/probe-many contract
    of a vector index).  Bucket-file count = 2**len(planes) (one per list).
    """
    from .skew import write_bucketed

    b = bucketize(corpus, planes, id_col, vec_col)
    write_bucketed(b, table, n_files or 2 ** len(planes), "bucket")


def ann_topk_indexed(
    indexed_corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric_round: int = 6,
) -> DataFrame:
    """Multiprobe top-k over a persisted index (``spark.table`` of
    ``write_ann_index``) — identical results to ``ann_topk``, zero
    corpus-side shuffle (asserted in tests)."""
    return _ann_score_bucketed(
        indexed_corpus, queries, planes, k, probes, id_col, vec_col, metric_round
    )


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric_round: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """LSH multiprobe approximate top-k (same output schema as brute force)."""
    c = bucketize(corpus, planes, id_col, vec_col)
    return _ann_score_bucketed(
        c, queries, planes, k, probes, id_col, vec_col, metric_round
    )


def _ann_score_bucketed(
    c: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int,
    probes: int,
    id_col: str,
    vec_col: str,
    metric_round: int,
) -> DataFrame:
    """Probe + score a bucket-keyed corpus (fresh or persisted)."""
    n_planes = len(planes)
    q = bucketize(queries, planes, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(_probe_buckets(F.col("bucket"), n_planes, probes)).alias("bucket"),
    )
    cand = c.join(q, "bucket").filter(F.col(id_col) != F.col("query_id"))
    scored = _with_pair_scores(cand, "qvec", vec_col, "_rawdot", "_nq", "_nc").select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            _scored_cosine(F.col("_rawdot"), F.col("_nq"), F.col("_nc")),
            metric_round,
        ).alias("score"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def ivf_refine_once(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    mean_round: int = 4,
) -> DataFrame:
    """One Lloyd (k-means) iteration over the IVF lists, fully relational.

    assign → per-(centroid, position) mean via posexplode + avg (map-side
    partial aggregation; the classic MapReduce k-means step) → rebuild the
    refined centroid vectors → reassign.  Means are rounded to *mean_round*
    so the distributed float sum (whose addition order is partition-
    dependent at ~1e-13 relative) collapses to one deterministic value on
    every engine — which is what makes a *fixed number* of Lloyd iterations
    oracle-checkable, unlike run-to-convergence.

    Returns (centroid_id, n_initial, n_refined): list occupancy before and
    after the refinement step.  At 10^9+ vectors each iteration is one
    broadcast join + one narrow explode/agg — the standard scalable k-means.
    """
    a0 = ivf_assign(corpus, centroids, id_col, vec_col, metric_round=mean_round, dim=dim)
    means = (
        a0.select("centroid_id", F.posexplode(F.col(vec_col)).alias("_pos", "_v"))
        .groupBy("centroid_id", "_pos")
        .agg(F.round(F.avg(F.col("_v").cast("double")), mean_round).alias("_m"))
    )
    refined = means.groupBy("centroid_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("_pos", "_m"))), lambda s: s["_m"]
        ).alias("cvec")
    )
    a1 = ivf_assign(
        corpus,
        refined.select(F.col("centroid_id").alias(id_col), F.col("cvec").alias(vec_col)),
        id_col,
        vec_col,
        metric_round=mean_round,
        dim=dim,
    )
    n0 = a0.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n_initial"))
    n1 = a1.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n_refined"))
    return (
        n0.join(n1, "centroid_id", "full")
        .select(
            "centroid_id",
            F.coalesce(F.col("n_initial"), F.lit(0)).alias("n_initial"),
            F.coalesce(F.col("n_refined"), F.lit(0)).alias("n_refined"),
        )
    )


def ivf_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mean_round: int = 4,
) -> tuple[DataFrame, list[dict]]:
    """Multi-iteration Lloyd refinement — the canonical ITERATIVE Spark
    algorithm shape: per iteration one distributed assign + one distributed
    mean-aggregate, with only the K centroid vectors (a dim table) pulled to
    the driver and re-broadcast — never the corpus.  Lineage stays flat
    (each iteration plans against the original corpus plus fresh centroid
    literals), so n_iters=50 does not accumulate a 50-deep plan.

    Mean rounding (``mean_round``) collapses the partition-order-dependent
    float sum to one deterministic value per position, which makes a FIXED
    iteration count reproducible across reruns and engines (tested) —
    run-to-convergence is not, and is deliberately not offered.

    The per-iteration movement stat is computed DISTRIBUTIVELY: iteration
    t's (id, centroid_id) assignment joins iteration t-1's on the id and a
    single aggregate counts the mismatches, so only two scalars (n_moved,
    n_vectors) cross the driver per iteration — never the per-vector
    assignment (a multi-GB collect at 10^9 vectors).

    Returns (final assignment DataFrame, per-iteration stats:
    {iter, n_moved, n_vectors}).
    """
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")

    stats: list[dict] = []
    prev = None  # previous iteration's (id, centroid_id) DataFrame
    cents = centroids
    for it in range(n_iters):
        assigned = ivf_assign(
            corpus, cents, id_col, vec_col, metric_round=mean_round
        )
        cur = assigned.select(id_col, "centroid_id")
        if prev is None:
            n_vectors = cur.count()
            n_moved = n_vectors
        else:
            # one distributed agg over the id-equijoin; only scalars return
            row = (
                cur.join(
                    prev.withColumnRenamed("centroid_id", "_prev_cid"),
                    id_col,
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.when(
                            F.col("centroid_id") != F.col("_prev_cid"), 1
                        ).otherwise(0)
                    ).alias("moved"),
                )
                .collect()[0]
            )
            n_vectors, n_moved = int(row["n"]), int(row["moved"] or 0)
        stats.append({"iter": it, "n_moved": n_moved, "n_vectors": n_vectors})
        prev = cur
        if it == n_iters - 1:
            return assigned, stats
        means = (
            assigned.select(
                "centroid_id", F.posexplode(F.col(vec_col)).alias("_pos", "_v")
            )
            .groupBy("centroid_id", "_pos")
            .agg(F.round(F.avg(F.col("_v").cast("double")), mean_round).alias("_m"))
        )
        rebuilt = means.groupBy("centroid_id").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_pos", "_m"))),
                lambda s: s["_m"],
            ).alias("cvec")
        )
        # only K rows cross the driver: centroids become fresh literals,
        # keeping every iteration's plan shallow
        rows = rebuilt.collect()
        spark = corpus.sparkSession
        cents = spark.createDataFrame(
            [(r["centroid_id"], [float(x) for x in r["cvec"]]) for r in rows],
            f"{id_col} long, {vec_col} array<double>",
        )
    return assigned, stats


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    eps: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric_round: int = 4,
    dim: int | None = None,
    n_vectors: int | None = None,
    max_expected_list: int = 10_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space semantic dedup —
    cluster the corpus with k-means lists, compare pairs ONLY within a
    cluster, and drop the centroid-CLOSER member of every pair with
    cosine >= eps (the paper keeps the lowest-centroid-similarity exemplar
    of each duplicate group: prototypical near-copies go, the outlier
    stays).  Ties on affinity keep the lower id — a total order, so the
    result is deterministic under any partitioning.

    Survivor invariant (tested): each cluster's (affinity, id)-minimal
    member of every eps-group wins all its pairs and always survives, and
    NO eps-pair survives whole — every within-cluster pair at >= eps loses
    exactly one member.

    Scale: the only corpus-sized moves are the ivf_assign broadcast argmax
    and one self-join bucketed by centroid_id, so compare cost is
    sum-of-squares of LIST sizes — pick K ≈ N/target per the IVF sizing
    rule (SemDeDup itself runs ~100k clusters at LAION scale).  Like
    embedding_near_dupe_pairs, the call refuses expected list occupancy
    beyond ``max_expected_list`` instead of going quadratic.

    Returns surviving (id, centroid_id, affinity) rows.
    """
    if not (0.0 < eps <= 1.0):
        raise ValueError(f"eps must be in (0, 1], got {eps}")
    if n_vectors is not None:
        k = centroids.count()
        occ = n_vectors / max(k, 1)
        if occ > max_expected_list:
            raise ValueError(
                f"{k} centroids give expected list occupancy {occ:.0f} > "
                f"{max_expected_list} for {n_vectors} vectors — raise K "
                f"(target N/K in the 10^2-10^3 range)"
            )
    assigned = ivf_assign(
        corpus, centroids, id_col, vec_col, metric_round=metric_round, dim=dim
    )
    # score each list's pairs inside ONE Arrow group task: the corpus-side
    # transfer is list×dim (vectors once each), and only pair SCALARS come
    # back — vs a pair self-join shipping both 64-dim vectors per candidate
    # pair (≈dim× more Arrow traffic; measured 4-5× faster in-bench).  The
    # dots are the same seq_dot_np cumsum fold, so every cosine is bitwise
    # the one the join formulation produced (and the DuckDB oracle computes).
    pair_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("aff_a", DoubleType()),
            StructField("aff_b", DoubleType()),
            StructField("_rawdot", DoubleType()),
            StructField("_na", DoubleType()),
            StructField("_nb", DoubleType()),
        ]
    )

    def list_pairs(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {
                    "id_a": np.array([], dtype=np.int64),
                    "id_b": np.array([], dtype=np.int64),
                    "aff_a": np.array([], dtype=np.float64),
                    "aff_b": np.array([], dtype=np.float64),
                    "_rawdot": np.array([], dtype=np.float64),
                    "_na": np.array([], dtype=np.float64),
                    "_nb": np.array([], dtype=np.float64),
                }
            )
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        ids = pdf[id_col].to_numpy()
        affs = pdf["affinity"].to_numpy(dtype=np.float64)
        v = _stack_f64(pdf[vec_col])
        norms = seq_norm_np(v)
        ii, jj = np.triu_indices(n, k=1)  # sorted ids ⇒ i<j == id_a<id_b
        chunks = []
        step = 200_000  # bound peak pair-matrix memory per task
        for s in range(0, len(ii), step):
            i, j = ii[s : s + step], jj[s : s + step]
            chunks.append(
                pd.DataFrame(
                    {
                        "id_a": ids[i],
                        "id_b": ids[j],
                        "aff_a": affs[i],
                        "aff_b": affs[j],
                        "_rawdot": seq_dot_np(v[i], v[j]),
                        "_na": norms[i],
                        "_nb": norms[j],
                    }
                )
            )
        return pd.concat(chunks, ignore_index=True)

    pairs = (
        assigned.groupBy("centroid_id")
        .applyInPandas(list_pairs, pair_schema)
        .select(
            "id_a",
            "id_b",
            "aff_a",
            "aff_b",
            F.round(
                _scored_cosine(F.col("_rawdot"), F.col("_na"), F.col("_nb")),
                metric_round,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= eps)
    )
    # pair loser = the centroid-closer member (higher affinity); on an
    # affinity tie the larger id (id_a < id_b by construction) — so the
    # pair winner is the (affinity, id)-lexicographic minimum
    losers = pairs.select(
        F.when(F.col("aff_a") > F.col("aff_b"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias(id_col)
    ).distinct()
    return assigned.join(losers, id_col, "left_anti").select(
        id_col, "centroid_id", "affinity"
    )


def contrastive_pairs(
    corpus: DataFrame,
    centroids: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    metric_round: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for each
    anchor, the nearest SAME-label neighbor (the positive) and the nearest
    DIFFERENT-label neighbor (the hard negative) among the anchor's own
    k-means list — the standard in-batch-hard-negatives recipe made
    corpus-scale by bounding candidates to the IVF cell (candidates near
    in embedding space are exactly where hard negatives live).

    One broadcast argmax assignment (T10), one anchors×list join (anchor
    set small by construction), pair cosines via the Arrow seq-fold
    kernel, and BOTH selections are min_by hash aggregates over
    (-cos, candidate id) — no window sort, deterministic total order.
    Anchors missing either a positive or a negative in their list drop
    out (documented; raise nprobe/K upstream if coverage matters).

    Returns (anchor_id, label, pos_id, pos_cos, neg_id, neg_cos).
    """
    assigned = ivf_assign(
        corpus, centroids, id_col, vec_col, metric_round=metric_round, dim=dim
    ).join(corpus.select(id_col, label_col), id_col)
    a = (
        assigned.join(anchors.select(id_col), id_col, "left_semi")
        .select(
            "centroid_id",
            F.col(id_col).alias("anchor_id"),
            F.col(vec_col).alias("va"),
            F.col(label_col).alias("a_label"),
        )
    )
    c = assigned.select(
        "centroid_id",
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("vc"),
        F.col(label_col).alias("c_label"),
    )
    cand = a.join(c, "centroid_id").filter(
        F.col("anchor_id") != F.col("cand_id")
    )
    scored = _with_pair_scores(cand, "va", "vc", "_d", "_na", "_nb").select(
        "anchor_id",
        "a_label",
        "cand_id",
        "c_label",
        F.round(
            _scored_cosine(F.col("_d"), F.col("_na"), F.col("_nb")),
            metric_round,
        ).alias("cos"),
    )
    best = F.min_by(
        F.struct(F.col("cand_id"), F.col("cos")),
        F.struct((-F.col("cos")).alias("nc"), F.col("cand_id")),
    )
    pos = (
        scored.filter(F.col("c_label") == F.col("a_label"))
        .groupBy("anchor_id", "a_label")
        .agg(best.alias("p"))
        .select(
            "anchor_id",
            F.col("a_label").alias("label"),
            F.col("p.cand_id").alias("pos_id"),
            F.col("p.cos").alias("pos_cos"),
        )
    )
    neg = (
        scored.filter(F.col("c_label") != F.col("a_label"))
        .groupBy("anchor_id")
        .agg(best.alias("n"))
        .select(
            "anchor_id",
            F.col("n.cand_id").alias("neg_id"),
            F.col("n.cos").alias("neg_cos"),
        )
    )
    return pos.join(neg, "anchor_id")


def group_centroid_cosines(
    df: DataFrame,
    vec_col: str,
    group_col: str,
    dim: int,
    scale_bits: int = 20,
) -> DataFrame:
    """Semantic-redundancy matrix between groups (sources, languages,
    snapshots): cosine similarity between each pair of GROUP CENTROIDS in
    embedding space — the release-card view 'which sources say the same
    thing' that T97's duplication matrix gives for verbatim copies.

    Exactness/scale shape: cosine is scale-invariant, so the centroid
    division by n is skipped entirely and the cosine is taken between the
    per-group per-dimension SUM vectors — sums of quantized int64
    (``floor(e·2^scale_bits + 0.5)``, IEEE-exact) so the corpus-touching
    aggregation is exact integers that no shuffle order can perturb.  The
    explode is map-side-combined to groups × dim rows; the final cross
    join is groups²-bounded (a dim frame), where the int sums (< 2^53 for
    ~1e10 docs/group at the default scale) cast losslessly to double and
    fold sequentially (the repo's bitwise-stable dot), replaying exactly
    as DuckDB's ``list_dot_product``.  A group whose sum vector is exactly
    zero yields NULL cosine (nullif-guarded 0/0 — surfaced, not
    hidden, and ANSI-mode safe).

    Returns ``(group_a, group_b, n_a, n_b, cos_centroid)`` for group_a <
    group_b with cos rounded to 6 places.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    sc = repr(float(1 << scale_bits))
    g = group_col
    q = df.select(
        F.col(g).alias("_g"), F.posexplode(F.col(vec_col)).alias("d", "_e")
    ).select(
        "_g",
        "d",
        F.expr(f"CAST(floor(CAST(_e AS DOUBLE) * {sc} + 0.5) AS BIGINT)").alias(
            "_q"
        ),
    )
    sums = q.groupBy("_g", "d").agg(F.sum("_q").cast("bigint").alias("_s"))
    cnt = df.groupBy(F.col(g).alias("_g")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    vecs = (
        sums.groupBy("_g")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("d", "_s"))),
                lambda x: x["_s"].cast("double"),
            ).alias("_v")
        )
        .join(cnt, "_g")
    )

    def _dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    a = vecs.select(
        F.col("_g").alias("group_a"), F.col("_v").alias("_va"), F.col("_n").alias("n_a")
    )
    b = vecs.select(
        F.col("_g").alias("group_b"), F.col("_v").alias("_vb"), F.col("_n").alias("n_b")
    )
    pairs = a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
    va, vb = F.col("_va"), F.col("_vb")
    return pairs.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        F.round(
            _dot(va, vb)
            / F.nullif(F.sqrt(_dot(va, va)) * F.sqrt(_dot(vb, vb)), F.lit(0.0)),
            6,
        ).alias("cos_centroid"),
    )


def mutual_top1_alignment(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Bitext-style alignment mining (the CCMatrix/LASER recipe made
    engine-shaped): a (left, right) pair is kept only when each side is the
    other's cosine TOP-1 — forward/backward agreement kills the hub
    vectors that one-directional nearest-neighbor mining floods on — and
    each kept pair carries ``margin = cos(top1) - cos(top2)`` as the
    confidence signal (absolute-margin variant of Artetxe & Schwenk 2019).

    Shape: the right side broadcasts (query-set smallness premise, same as
    ``brute_force_topk``); scoring is one Arrow pass (``_with_pair_scores``
    — no giant unrolled codegen), cosines are rounded FIRST so both rank
    windows order identical values in any engine, and the two windows +
    self-join replay verbatim in SQL.  At corpus scale, bound candidates
    to IVF cells first (T96 ``contrastive_pairs``' bound) and feed the
    cell-joined frame here.

    Returns ``(src_id, tgt_id, cos, margin)``; margin is NULL when the
    right side has a single row (no top-2 to compare).
    """
    l = left.select(F.col(id_col).alias("src_id"), F.col(vec_col).alias("_va"))
    r = right.select(F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("_vb"))
    scored = _with_pair_scores(
        l.crossJoin(F.broadcast(r)), "_va", "_vb", "_d", "_na", "_nb"
    ).select(
        "src_id",
        "tgt_id",
        F.round(
            _scored_cosine(F.col("_d"), F.col("_na"), F.col("_nb")), round_to
        ).alias("_c"),
    )
    wf = Window.partitionBy("src_id").orderBy(F.desc("_c"), F.asc("tgt_id"))
    wb = Window.partitionBy("tgt_id").orderBy(F.desc("_c"), F.asc("src_id"))
    fwd = scored.withColumn("_rn", F.row_number().over(wf)).filter(
        F.col("_rn") <= 2
    )
    f1 = fwd.filter(F.col("_rn") == 1).select(
        "src_id", "tgt_id", F.col("_c").alias("_c1")
    )
    f2 = fwd.filter(F.col("_rn") == 2).select("src_id", F.col("_c").alias("_c2"))
    bwd = (
        scored.withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_rn") == 1)
        .select("tgt_id", F.col("src_id").alias("_best_src"))
    )
    return (
        f1.join(f2, "src_id", "left")
        .join(bwd, "tgt_id")
        .filter(F.col("_best_src") == F.col("src_id"))
        .select(
            "src_id",
            "tgt_id",
            F.col("_c1").alias("cos"),
            F.round(F.col("_c1") - F.col("_c2"), round_to).alias("margin"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    min_cosine: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-level benchmark decontamination: flag corpus vectors whose
    cosine against ANY benchmark vector reaches *min_cosine* — the
    semantic complement to the exact/n-gram/phrase decontamination family
    (T30/T51/T106/T116), catching paraphrased or lightly-reworded eval
    items that share no verbatim n-grams with the benchmark text.

    Scale shape: the benchmark is dimension-sized (eval suites are
    thousands of items, the corpus is billions), so it collects to the
    driver ONCE and rides into a single narrow mapInPandas over the
    corpus — no pair materialization, no shuffle at all; each Arrow batch
    scores against the in-memory benchmark matrix and emits only its
    flagged rows.  Every per-bench dot is the strict cumsum fold
    (seq_dot_np), so each cosine is bitwise identical to DuckDB's
    list_dot_product replay; the argmax keeps the smallest benchmark id
    on exact ties (ascending scan, strict improvement).

    Returns (vec_id, bench_id, cosine) — one row per contaminated corpus
    vector, cosine rounded to 6 for output (the filter runs on raw bits).
    """
    import numpy as np

    bench_rows = sorted(
        benchmark.select(id_col, vec_col).collect(), key=lambda r: r[0]
    )
    if not bench_rows:
        raise ValueError("benchmark set is empty")
    b_ids = [r[0] for r in bench_rows]
    b_mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in bench_rows])
    b_norms = seq_norm_np(b_mat)

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("bench_id", LongType()),
            StructField("_cos", DoubleType()),
        ]
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            c = _stack_f64(pdf[vec_col])
            nc = seq_norm_np(c)
            best = np.full(len(pdf), -np.inf)
            best_id = np.zeros(len(pdf), dtype=np.int64)
            for j, bid in enumerate(b_ids):
                d = seq_dot_np(c, np.broadcast_to(b_mat[j], c.shape))
                denom = nc * b_norms[j]
                cos = np.where(denom == 0, 0.0, d / np.where(denom == 0, 1.0, denom))
                better = cos > best
                best = np.where(better, cos, best)
                best_id = np.where(better, bid, best_id)
            keep = best >= min_cosine
            if keep.any():
                yield pd.DataFrame(
                    {
                        "vec_id": pdf[id_col].to_numpy()[keep],
                        "bench_id": best_id[keep],
                        "_cos": best[keep],
                    }
                )

    flagged = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        score, schema
    )
    return flagged.select(
        "vec_id", "bench_id", F.round(F.col("_cos"), 6).alias("cosine")
    )
