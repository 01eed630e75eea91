"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction slice over sf0.001 documents.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 (reference ops A6/A13-A17/A20/A37/A40/M4/M5 relational variants)
plus the training-data-pipeline family (dedup, similarity, text analysis).
Column names are aliased identically on both sides; float-valued results are
either rounded or computed with exact-integer "cents" arithmetic so the
order-insensitive value-hash comparison is deterministic across engines.
"""

from __future__ import annotations

import functools as _functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# deterministic constants shared between the Spark plans and the oracle SQL
# ---------------------------------------------------------------------------

# source → dpi dimension (broadcast-join fixture, A40 analog)
SOURCE_DIM = [(f"src{i}", 72 + (i * 97) % 1329) for i in range(20)]

# 4 seeded hyperplanes over the 64-dim embedding space (LSH-ANN fixture);
# literal-friendly 4-decimal components, generated once with a fixed LCG.
def _planes(n_planes: int = 4, dim: int = 64) -> list[list[float]]:
    state = 20250816
    out = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % 2**64
            row.append(round((state / 2**64) * 2 - 1, 4))
        out.append(row)
    return out


PLANES = _planes()

BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _us(col) -> F.Column:
    """Epoch micros of a (possibly NTZ) timestamp — matches DuckDB epoch_us
    under the session's UTC timezone."""
    return F.unix_micros(col.cast("timestamp"))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: main-content extraction over the documents table.

    Wraps each document's text into a templated HTML payload column, then runs
    the real extraction operator (Arrow-batched mapInPandas over the shared
    kernel) — the sf0.001 variant of the pages-table pipeline.
    """
    from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS
    from pdf_drawing_ocr_recognition_spark.operators.extract import extract_pages

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    pages = docs.select(
        F.format_string("doc://%d", F.col("doc_id")).alias("url"),
        F.encode(
            F.format_string(
                "<html><body><nav><a href='/'>home</a></nav><p>%s</p>"
                "<footer>footer</footer></body></html>",
                F.col("text"),
            ),
            "utf-8",
        ).alias("html"),
        F.col("lang"),
    )
    return extract_pages(pages, PATTERNS)


# ---------------------------------------------------------------------------
# queries — reference operators (SQL-checkable variants)
# ---------------------------------------------------------------------------


def q_crop_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: truncating pct→pixel crop bounds with clamping (ref pdor/pdor_unit.py:199-202)."""
    from pdf_drawing_ocr_recognition_spark.functions.croppct import crop_bounds

    li = _t(spark, sf_dir, "lineitem")
    h = F.floor(F.col("l_extendedprice"))
    top = F.col("l_discount") * 1000.0
    bottom = F.col("l_tax") * 1000.0 + top
    y1 = crop_bounds(h, top)
    y2 = crop_bounds(h, bottom)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        y1.alias("y1"),
        y2.alias("y2"),
        (y2 - y1).alias("crop_height"),
    )


def q_brace_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: brace-balance gate via length/replace (ref pdor/pdor_utils.py:94-96)."""
    from pdf_drawing_ocr_recognition_spark.functions.strings import (
        brace_balanced,
        count_char,
    )

    ev = _t(spark, sf_dir, "events")
    s = F.when(F.col("event_id") % 7 == 0, F.concat(F.col("props"), F.lit("{"))).otherwise(
        F.col("props")
    )
    return ev.select(
        "event_id",
        count_char(s, "{").alias("n_open"),
        count_char(s, "}").alias("n_close"),
        brace_balanced(s).alias("balanced"),
    )


def q_brace_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: first-'{' .. last-'}' span, NULL when invalid (ref pdor/pdor_utils.py:98-104)."""
    from pdf_drawing_ocr_recognition_spark.functions.strings import brace_span

    ev = _t(spark, sf_dir, "events")
    s = F.when(
        F.col("event_id") % 5 == 0, F.replace(F.col("props"), F.lit("}"), F.lit(""))
    ).otherwise(F.concat(F.lit("x"), F.col("props"), F.lit("y")))
    return ev.select("event_id", brace_span(s).alias("span"))


def q_error_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: drop 'Error:'-prefixed results (ref pdor/pdor_unit.py:238-241)."""
    from pdf_drawing_ocr_recognition_spark.functions.strings import (
        is_error_prefixed,
    )

    ev = _t(spark, sf_dir, "events")
    raw = F.when(
        F.col("event_type") == "error", F.concat(F.lit("Error: "), F.col("props"))
    ).otherwise(F.col("props"))
    return (
        ev.select("event_id", "event_type", raw.alias("raw"))
        .filter(~is_error_prefixed(F.col("raw")))
        .select("event_id", "raw")
    )


def q_first_success_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: first-success-per-key via row_number (ref pdor/pdor_unit.py:249)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("first_event_id"),
            _us(F.col("ts")).alias("first_ts_us"),
        )
    )


def q_broadcast_pattern_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A40: small-dimension broadcast equi-join (ref pattern registry,
    pdor/pdor_pattern.py:168-187) — documents ⋈ source→dpi dim."""
    docs = _t(spark, sf_dir, "documents")
    # inline VALUES instead of createDataFrame: no Python→RDD conversion
    # machinery on the session's first use (~3s cold-start saved)
    dim = spark.sql(
        "SELECT source, CAST(dpi AS INT) AS dpi FROM (VALUES "
        + _dim_values_sql()
        + ") AS t(source, dpi)"
    )
    return (
        docs.join(F.broadcast(dim), "source", "inner")
        .groupBy("dpi")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def q_last_wins_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 relational variant: last value per key under explicit event-time
    order — the distributed twin of the merge fold's last-wins overwrite
    (ref pdor/pdor_unit.py:270-283)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("value").alias("last_value"))
    )


def q_merge_collect_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 grouped-collect variant: per-key ordered assembly via
    sort_array(collect_list(struct(...))) — the shuffle-side ordering recovery
    (SURVEY.md §7 hard-part 2).  Joined to a string so the comparison is exact."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(_us(F.col("ts")).alias("us"), "event_id"))
                    ),
                    lambda s: s["event_id"].cast("string"),
                ),
            ).alias("event_chain")
        )
    )


def q_rollup_doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metrics rollup (SURVEY.md Table B grouping-sets row): lang × source."""
    docs = _t(spark, sf_dir, "documents")
    return docs.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5: positional explode (page/region iteration analog)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word")
    )


def q_anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: resume delta — inputs minus completed manifest via left-anti join
    (parse-once guard generalized, ref pdor/pdor_unit.py:303-306)."""
    docs = _t(spark, sf_dir, "documents")
    manifest = docs.filter(F.col("doc_id") % 10 < 3).select("doc_id")
    return (
        docs.join(F.broadcast(manifest), "doc_id", "left_anti")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_pending"))
    )


def q_sub_key_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 key prefixing: format_string('sub_%d_%s', idx, key) (ref :282)."""
    from pdf_drawing_ocr_recognition_spark.functions.strings import sub_key

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        sub_key((F.col("event_id") % 5).cast("int"), F.col("event_type")).alias(
            "merged_key"
        ),
    )


def q_flatten_dotted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A37: nested → dotted keys (fixed depth via json path, ref pdor/pdor_out.py:214-231)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.concat_ws(".", F.lit("props"), F.lit("k")).alias("flat_key"),
        F.get_json_object("props", "$.k").alias("flat_value"),
    )


def q_cell_row_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 relational variant: row-major cell ordering via Window.orderBy(y, x)
    + row_number — the SQL-checkable twin of kernel assemble_cells."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey", "l_suppkey")
    return li.select(
        F.col("l_orderkey").alias("doc"),
        F.col("l_linenumber").alias("cell_y"),
        F.col("l_partkey").alias("cell_x"),
        F.row_number().over(w).alias("cell_rank"),
    )


# ---------------------------------------------------------------------------
# queries — training-data pipeline operators
# ---------------------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 digest groups with representative = min(doc_id)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.encode(F.col("text"), "utf-8")).alias("digest"))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution (agg-of-agg)."""
    return (
        q_exact_dedup(spark, sf_dir)
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


def _shingles(col, k: int = 5):
    from pdf_drawing_ocr_recognition_spark.functions.dedup import shingles

    return shingles(col, k)


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 salted md5 min-hashes over word-trigram shingles)."""
    from pdf_drawing_ocr_recognition_spark.functions.dedup import (
        minhash_signature,
        word_shingles,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sig = minhash_signature(word_shingles(F.col("text"), 3), n_hashes=16)
    return docs.select("doc_id", F.concat_ws(",", sig).alias("sig"))


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: band-key equi-join (4 bands × 4 rows)."""
    from pdf_drawing_ocr_recognition_spark.functions.dedup import lsh_band_keys
    from pdf_drawing_ocr_recognition_spark.operators.dedup import minhash_signatures

    docs = _t(spark, sf_dir, "documents")
    # Scale path: Arrow shingle kernel — each doc's full 16-window signature
    # is computed inside one narrow mapInPandas batch (no per-key window
    # sort of the tokens, no signature shuffle; see
    # operators/dedup.minhash_signatures).  The only exchange in the whole
    # query is the band_key groupBy below.
    sigs = minhash_signatures(docs)
    banded = sigs.select(
        "doc_id", F.explode(lsh_band_keys(F.col("sig"), 4, 4)).alias("band_key")
    )
    # pairs-within-bucket via grouped collect + in-array combination generation:
    # one scan of the signatures and ONE shuffle (on band_key), instead of a
    # self-join that would re-execute the md5-heavy subtree for both branches.
    buckets = banded.groupBy("band_key").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ids")
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("ids"), i + 2, F.greatest(F.size(F.col("ids")) - i - 1, F.lit(0))
                        ),
                        lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select(F.col("p.doc_a"), F.col("p.doc_b")).distinct()


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over whitespace tokens (Charikar'02)."""
    from pdf_drawing_ocr_recognition_spark.functions.dedup import simhash16

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return docs.select(
        "doc_id", simhash16(F.split(F.lower(F.col("text")), " ")).alias("simhash")
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLED-CONFIRM stage only — n-gram Jaccard over a deterministic 1/25
    sample via an all-pairs nested-loop join.  This shape is O(sample²) BY
    CONSTRUCTION and must never run unsampled: the scale path computes the
    same `functions.dedup.jaccard` over PRE-BANDED LSH candidates
    (operators/dedup.near_dupe_pairs(min_jaccard=...), which joins on band
    keys and is the operator a pipeline should call)."""
    from pdf_drawing_ocr_recognition_spark.functions.dedup import jaccard

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", _shingles(F.col("text"), 3).alias("grams"))
    )
    a = docs.alias("a")
    b = docs.alias("b")
    j = jaccard(F.col("a.grams"), F.col("b.grams"))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(j, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.12)
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors (vec_id < 5) — Arrow-batched
    NumPy scorer with map-side partial top-k (bit-identical to the Column
    fold; the 64-dim unrolled codegen twin exceeded the JIT method-size
    threshold and cost ~24 s cold on the driver bench)."""
    from pdf_drawing_ocr_recognition_spark.operators.similarity import (
        brute_force_topk_arrow,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk_arrow(
        emb,
        emb.filter(F.col("vec_id") < 5),
        k=10,
        round_to=4,
        score_col="cos",
    )


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN scale path: hyperplane sign-bit buckets + occupancy
    (Arrow bucketizer: sequential-fold dots bitwise equal to the Column
    ``dot``, sign bits packed into a LONG)."""
    from pdf_drawing_ocr_recognition_spark.operators.similarity import bucketize

    emb = _t(spark, sf_dir, "embeddings")
    bucketed = bucketize(emb.select("vec_id", "embedding"), PLANES).select(
        "vec_id", "bucket"
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id")
    )


def q_ivf_assign_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF list assignment + occupancy: centroids = embeddings with vec_id < 16,
    every vector assigned to its best inner-product centroid (argmax with
    centroid-id tie-break) — the buildable inverted-file index."""
    from pdf_drawing_ocr_recognition_spark.operators.similarity import ivf_assign

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 16)
    assigned = ivf_assign(emb, cents, metric_round=4, dim=64)
    return assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("vec_id").alias("min_vec_id"),
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 (nprobe=4 of 16 lists) for query vectors vec_id < 5."""
    from pdf_drawing_ocr_recognition_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 16)
    q = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(emb, q, cents, k=10, nprobe=4, metric_round=4, dim=64)


def q_ivf_refined_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One relational Lloyd (k-means) iteration over the IVF lists: assign →
    per-(centroid, position) rounded mean → reassign; list occupancy before
    and after.  Fixed-iteration-count keeps the float means deterministic
    enough (round 4) to oracle-check an *iterative* algorithm."""
    from pdf_drawing_ocr_recognition_spark.operators.similarity import ivf_refine_once

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 16)
    return ivf_refine_once(emb, cents, dim=64)


def q_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH multiprobe ANN top-10: each query (vec_id < 5) probes its own
    hyperplane bucket plus every bucket at Hamming distance <= 2 (11 of 16
    buckets), scoring only those candidates — the full SQL-checkable twin of
    operators/similarity.ann_topk."""
    from pdf_drawing_ocr_recognition_spark.operators.similarity import ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return ann_topk(emb, q, PLANES, k=10, probes=2, metric_round=4, dim=64)


def q_embedding_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within hyperplane buckets (cos >= 0.3)."""
    from pdf_drawing_ocr_recognition_spark.operators.similarity import (
        embedding_near_dupe_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dupe_pairs(emb, PLANES, min_cosine=0.3, dim=64)


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace words + BPE-ish regex pieces."""
    from pdf_drawing_ocr_recognition_spark.functions.text import (
        token_count_bpe,
        word_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        word_count(F.col("text")).alias("n_words"),
        token_count_bpe(F.col("text")).alias("n_bpe_tokens"),
    )


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punct/stopword features + composite score."""
    from pdf_drawing_ocr_recognition_spark.functions.text import (
        punct_ratio,
        quality_score,
        stopword_ratio,
        word_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        word_count(F.col("text")).alias("n_words"),
        F.round(punct_ratio(F.col("text")), 4).alias("punct_ratio"),
        F.round(stopword_ratio(F.col("text")), 4).alias("stopword_ratio"),
        quality_score(F.col("text")).alias("quality"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language stopword-marker hit counts."""
    from pdf_drawing_ocr_recognition_spark.functions.text import lang_guess

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.col("lang").alias("labeled"), lang_guess(F.col("text")).alias("guessed")
    )


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercased text."""
    from pdf_drawing_ocr_recognition_spark.functions.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS rolling-hash scheme, SIGMOD'03): k-gram
    md5s → sliding-window minima → distinct set, exploded to (doc_id, fp)
    rows.  Hash stage materialized behind an exchange so the window minima
    reuse it instead of recomputing per window."""
    from pdf_drawing_ocr_recognition_spark.functions.text import (
        kgram_hashes,
        winnow_minima,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    par = spark.sparkContext.defaultParallelism
    hashed = (
        docs.repartition(par)
        .select("doc_id", kgram_hashes(F.col("text"), 8).alias("gh"))
        .repartition(par, "doc_id")
    )
    return hashed.select(
        "doc_id", F.explode(winnow_minima(F.col("gh"), 6)).alias("fp")
    )


def q_host_skew_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: two-phase salted aggregation under key skew (same result as a
    plain GROUP BY — the salt is an execution detail, which is the point)."""
    docs = _t(spark, sf_dir, "documents")
    salted = docs.select("source", (F.xxhash64("doc_id") % 16).alias("_salt"), "n_chars")
    partial = salted.groupBy("source", "_salt").agg(
        F.count(F.lit(1)).alias("_c"), F.sum("n_chars").alias("_s")
    )
    return partial.groupBy("source").agg(
        F.sum("_c").alias("n_docs"), F.sum("_s").alias("total_chars")
    )


def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 join form: large-side 50%-one-key skewed join defused by salting
    (operators/skew.py:salted_dim_join) — the dim is replicated over 16
    salts, the large side salts uniformly on the row-unique doc_id, and the
    hot host's rows spread over 16 reducers instead of one straggler.  The
    salt is pure execution detail: the oracle is the plain unsalted join.
    (The AQE skew-split twin of this plan is evidenced in
    tests/test_skew_join.py and bench.py §skew — it needs session confs a
    shared driver session must not inherit.)"""
    from pdf_drawing_ocr_recognition_spark.operators.skew import salted_dim_join

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        "n_chars",
        F.when(F.col("doc_id") % 2 == 0, F.lit("heavy.example.com"))
        .otherwise(
            F.concat(
                F.lit("h"),
                (F.col("doc_id") % 97).cast("string"),
                F.lit(".example.com"),
            )
        )
        .alias("host"),
    )
    hosts = ["heavy.example.com"] + [f"h{i}.example.com" for i in range(97)]
    dim = spark.createDataFrame(
        [(h, len(h)) for h in hosts], "host string, prio int"
    )
    j = salted_dim_join(pages, dim, "host", "doc_id", salt_buckets=16)
    return j.groupBy((F.col("doc_id") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("n_chars") + F.col("prio")).cast("bigint").alias(
            "total_weight"
        ),
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary with exact-integer cents arithmetic."""
    li = _t(spark, sf_dir, "lineitem")
    price_cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_e4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.count(F.lit(1)).alias("count_order"),
            F.sum(price_cents).alias("sum_base_cents"),
            F.sum(disc_e4).alias("sum_disc_e4"),
        )
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join: customer ⋈ orders ⋈ lineitem with
    segment/date predicates, grouped revenue (exact e4 integer), top-10.
    The customer side is broadcast (small after the segment filter); the
    orders⋈lineitem join shuffles on orderkey — the natural key at scale."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    disc_e4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc_e4).alias("revenue_e4"))
        .select(
            "l_orderkey",
            "revenue_e4",
            _us(F.col("o_orderdate")).alias("orderdate_us"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue_e4"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way join (region⋈nation⋈customer⋈orders⋈lineitem⋈
    supplier, customer and supplier in the same nation) → revenue per nation.
    Dims (region/nation/supplier) broadcast; the fact-side joins shuffle on
    their keys and AQE handles any skew."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    disc_e4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        cust.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.sum(disc_e4).alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def q_cube_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over lang × source (rollup's sibling, Table B)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def q_percentile_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of n_chars per lang (Spark `percentile`
    == DuckDB `quantile_cont`: both (1-g)·a[k] + g·a[k+1] on sorted values).

    SCALE NOTE: exact percentile buffers every group value on one reducer —
    fine for the gate, a memory wall at 10^12 rows with 5 lang groups.  The
    scale path is ``q_approx_percentile_chars`` (GK sketch, mergeable
    partials, bounded error — tested against this exact query)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.round(F.percentile("n_chars", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("n_chars", F.lit(0.75)), 4).alias("p75"),
        F.max("n_chars").alias("p100"),
    )


def q_approx_percentile_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path percentiles: Greenwald-Khanna sketch (`percentile_approx`),
    whose partials merge map-side — constant memory per group regardless of
    corpus size.  No SQL oracle by contract (sketch internals differ across
    engines); tests bound its error against the exact query instead."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.percentile_approx("n_chars", F.lit(0.25), F.lit(10000)).alias("p25"),
        F.percentile_approx("n_chars", F.lit(0.5), F.lit(10000)).alias("p50"),
        F.percentile_approx("n_chars", F.lit(0.75), F.lit(10000)).alias("p75"),
        F.max("n_chars").alias("p100"),
    )


def q_window_tumbling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event rollup (batch twin of the streaming variant)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            _us(F.date_trunc("day", F.col("ts"))).alias("day_us"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase, the user's most recent prior click
    (union-window composition — operators/asof.py; oracle = DuckDB ASOF JOIN)."""
    from pdf_drawing_ocr_recognition_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("event_id").alias("click_event_id"))
        .withColumn("click_ts_us", _us(F.col("ts")))
    )
    joined = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=["click_event_id", "click_ts_us"],
    )
    return joined.select(
        "event_id",
        F.col("asof_click_event_id").alias("click_id"),
        F.col("asof_click_ts_us").alias("click_ts"),
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (Table B hash/sort-merge/RANGE/as-of row): lineitems shipped
    within 30 days of their order's date — an equi-join on the key carrying a
    non-equi date-range predicate (plans as SMJ/BHJ with the range as a
    post-join condition; at scale the equi key keeps it shuffle-bounded)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = li.join(
        orders,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (
            F.col("l_shipdate")
            < F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        ),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_shipped_30d"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents_30d"),
    )


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (built-in session_window; 12h gap) — the
    batch twin of the streaming sessionizer (streaming/sessionize.py)."""
    from pdf_drawing_ocr_recognition_spark.streaming.sessionize import session_windows

    return session_windows(_t(spark, sf_dir, "events"), "12 hours")


def q_near_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: drop the greater member of every LSH candidate
    pair (keep cluster minima); survivor counts per lang."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import near_dedupe

    docs = _t(spark, sf_dir, "documents")
    return (
        near_dedupe(docs, text_col="text", key_col="doc_id")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_survivors"))
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T44: corpus-delta dedup — the daily-ingest shape.  The accumulated
    corpus (doc_id < 400) is persisted ONCE as a (digest, band_key) index;
    the new batch (doc_id >= 400) dedupes against corpus + itself purely via
    semi/anti joins on the index — the corpus text is never rescanned.
    Equivalent (oracle-pinned) to a full near_dedupe+exact rerun on the
    union restricted to the batch, since corpus keys precede batch keys."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import (
        incremental_dedupe,
        write_dedup_index,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    batch = docs.filter(F.col("doc_id") >= 400)
    base = "/tmp/pdor_spark_incr_idx"
    write_dedup_index(corpus, base)
    surv = incremental_dedupe(
        batch,
        spark.read.parquet(f"{base}/digests"),
        spark.read.parquet(f"{base}/bands"),
    )
    return surv.select("doc_id", "lang")


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T45: transitive near-dup closure — large-star/small-star connected
    components over the LSH candidate pairs; each node labeled with its
    cluster representative (minimum reachable doc_id)."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import (
        connected_components,
    )

    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    comp = connected_components(pairs, "doc_a", "doc_b")
    return comp.select(F.col("node").alias("doc_id"), "component")


def q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T45 production policy: per near-dup cluster keep the BEST member
    (max n_chars, min doc_id on ties) via max_by hash-agg over the
    connected-component labels — not whichever got the smallest id."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import (
        component_representatives,
        connected_components,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    comp = connected_components(pairs, "doc_a", "doc_b").withColumnRenamed(
        "node", "doc_id"
    )
    return component_representatives(
        comp.select(F.col("doc_id").alias("node"), "component"),
        docs,
        "doc_id",
        "n_chars",
    )


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T47: corpus-wide paragraph-level exact dedup (the CCNet/RefinedWeb
    boilerplate-removal shape) — every paragraph occurrence is dropped
    unless it is the corpus-wide FIRST occurrence of its bytes, then each
    document is reassembled in original order.  The flat corpus text has no
    paragraph breaks, so a paragraph-structured twin is derived
    deterministically first (3-word chunks joined by blank lines) —
    identical derivation in the DuckDB oracle; the tiny vocabulary plus the
    corpus's duplicate documents give real cross-document collisions.
    The derivation HOFs (transform/slice) are one-shot here, not a bench
    hot path."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import (
        paragraph_dedupe,
    )

    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    k_max = F.floor((F.size(words) - 1) / F.lit(3)).cast("int")
    para_arr = F.transform(
        F.sequence(F.lit(0), k_max),
        lambda k: F.concat_ws(" ", F.slice(words, k * 3 + 1, 3)),
    )
    structured = docs.select(
        "doc_id", F.concat_ws("\n\n", para_arr).alias("text")
    )
    out = paragraph_dedupe(structured, "text", "doc_id")
    return out.select(
        "doc_id",
        F.col("text").alias("dedup_text"),
        "n_paras_kept",
        "n_paras_dropped",
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T48: URL-level dedup — canonicalize (lowercase scheme://host, strip
    default ports / fragments / tracking params, sort surviving params,
    strip trailing slashes; functions/urls.py) then keep the best fetch per
    canonical URL via one max_by hash-agg.  The corpus has no URL column,
    so a fetch-log twin is derived deterministically from (doc_id, source)
    with every canonicalization rule exercised (case, :443, utm_ params,
    fragments, trailing slash) — identical derivation in the DuckDB
    oracle."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import url_dedupe

    docs = _t(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 50).cast("string")
    hostbase = F.concat(F.col("source"), F.lit(".example.com"))
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 2 == 0, F.upper(hostbase)).otherwise(hostbase),
        F.when(F.col("doc_id") % 11 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/page/"),
        k,
        F.when(F.col("doc_id") % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.lit("?utm_source=feed&id="), k)
        )
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("?id="), k))
        .otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("#section-"), F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
    )
    fetches = docs.select("doc_id", "n_chars", url.alias("url"))
    return url_dedupe(fetches, "url", "doc_id", "n_chars")


PSL_SUBSET = ["com", "org", "net", "io", "co.uk", "github.io"]


def q_registered_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T133: registered-domain (PLD) extraction (operators/filtering.py:
    registered_domains) — the public-suffix-list algorithm (exact-rule
    subset): longest matching suffix + one label, suffix-only hosts → NULL,
    unmatched hosts → implicit-* last-two-labels fallback.  Same zero-
    corpus-shuffle broadcast ancestor-join discipline as T56.  Five host
    shapes exercise multi-label suffixes (co.uk), nested rules (io vs
    github.io — longest wins), deep subdomains, and the suffix-as-host
    NULL case; the oracle replays the EXPECTED pld per rule, so the match
    proves the algorithm meets its spec, not just itself."""
    from pdf_drawing_ocr_recognition_spark.operators.filtering import (
        registered_domains,
    )

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    host = (
        F.when(m == 0, F.concat(F.lit("www."), F.col("source"), F.lit(".co.uk")))
        .when(m == 1, F.concat(F.col("source"), F.lit(".com")))
        .when(m == 2, F.concat(F.lit("a.b."), F.col("source"), F.lit(".org")))
        .when(
            m == 3,
            F.concat(F.lit("cdn."), F.col("source"), F.lit(".github.io")),
        )
        .otherwise(F.lit("co.uk"))
    )
    psl = spark.createDataFrame([(s,) for s in PSL_SUBSET], ["suffix"])
    hosts = docs.select(host.alias("host"))
    return (
        registered_domains(hosts, "host", psl)
        .groupBy("host", "pld")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


# T140 fixed merge list (inference is what's under test — training is
# oracled by bpe_pair_counts and pinned by the kernel-identity pytest).
# Both the Spark query and the DuckDB replay are built from THIS constant.
BPE_ENCODE_MERGES = [
    ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w"),
    ("w", "</w>"), ("n", "e"), ("ne", "w"), ("new", "est</w>"),
    ("w", "i"), ("wi", "d"), ("e", "r"), ("er", "</w>"),
]
BPE_ENCODE_WORDS = ["lowest", "newest", "widest", "lower", "low", "wilder"]


def _bpe_encode_sql_expr(merges=None) -> str:
    """DuckDB replay of kernel.bpe.encode_word for a fixed merge list, one
    replace() per merge in training order.  Symbols are joined by a DOUBLE
    separator ('~~'); each pattern '~a~~b~' consumes ONE '~' from each
    side and the replacement '~ab~' restores them — so the double-
    separator invariant holds after every merge AND consecutive pattern
    occurrences (runs like 'aaaa'+(a,a), alternations like 'abab'+(a,b))
    chain exactly like apply_merge's leftmost-nonoverlapping symbol scan,
    where a single-separator scheme desynchronizes because left-to-right
    replace() cannot reuse a consumed boundary.  Single separators would
    also be boundary-unsafe for multi-char symbols; the double form keeps
    every match anchored to true symbol edges."""
    expr = "'~~' || regexp_replace(word, '(.)', '\\1~~', 'g') || '</w>~~'"
    for a, b in merges if merges is not None else BPE_ENCODE_MERGES:
        expr = f"replace({expr}, '~{a}~~{b}~', '~{a}{b}~')"
    return expr


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T140: BPE tokenizer INFERENCE (operators/bpe.py:encode_words) —
    closes the T90 loop: T90 trains the merge list, this applies one.
    Words encode once on the distinct word dim (one Arrow batch of the
    same kernel function the pure twin uses), never per occurrence;
    corpus counts join back as a broadcast.  The oracle replays
    encode_word's training-order, leftmost-nonoverlapping merge scans as
    a chain of separator-guarded replace() calls built from the SAME
    constant — so merge order, non-overlap semantics, and the terminal
    </w> handling all hash-match, not just token counts."""
    from pdf_drawing_ocr_recognition_spark.operators.bpe import encode_words

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % len(BPE_ENCODE_WORDS)
    word = F.when(m == 0, BPE_ENCODE_WORDS[0])
    for i, w in enumerate(BPE_ENCODE_WORDS[1:-1], start=1):
        word = word.when(m == i, w)
    word = word.otherwise(BPE_ENCODE_WORDS[-1])
    words = docs.select(word.alias("word"))
    counts = words.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    enc = encode_words(words, BPE_ENCODE_MERGES)
    return enc.join(F.broadcast(counts), "word").select(
        "word",
        F.concat_ws("|", "tokens").alias("token_str"),
        "n_pieces",
        "n_docs",
    )


def q_host_lang_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T143: host language-mixture Gini (operators/filtering.py:
    language_mixture) — the MT-farm signal: a host serving one template in
    14 languages is machine translation, not 14 communities.  Gini
    impurity of the per-host language histogram as exact floor-ppm (pure
    integer arithmetic inside one double expression — engine-identical).
    Half the synthetic hosts are single-language by construction (gini
    exactly 0), half pool the corpus's real lang column (gini > 0), so
    the cut separates BY DESIGN.  Two stacked map-combinable aggs; the
    shuffle carries (host, lang) rows, never documents."""
    from pdf_drawing_ocr_recognition_spark.operators.filtering import (
        language_mixture,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    host = F.when(
        did % 2 == 0, F.concat(F.lit("pure-"), F.col("lang"))
    ).otherwise(F.concat(F.lit("mixed-"), (did % 7).cast("string")))
    rows = docs.select(host.alias("host"), "lang")
    return language_mixture(rows, "host")


def q_pii_by_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T142: PII-density compliance rollup by registered domain — the
    per-registrant exposure report a release audit (GDPR/DSA takedown
    routing) actually files: which DOMAINS contribute the PII, not which
    rows.  Composition contract: T32's codegen regex counters over
    deterministically salted text (one email per doc_id%3==0, one long
    number per doc_id%4==0 — so densities VARY by doc and the rollup
    arithmetic is load-bearing) × T133's PSL extraction, rolled up per pld
    with an exact floor-ppm density per kchar.  Broadcast PSL joins, one
    map-side-combined agg; the suffix-only NULL-pld bucket is reported,
    not dropped (unattributable PII is a finding, not noise)."""
    from pdf_drawing_ocr_recognition_spark.operators.filtering import (
        registered_domains,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    m5 = did % 5
    host = (
        F.when(m5 == 0, F.concat(F.lit("www."), F.col("source"), F.lit(".co.uk")))
        .when(m5 == 1, F.concat(F.col("source"), F.lit(".com")))
        .when(m5 == 2, F.concat(F.lit("a.b."), F.col("source"), F.lit(".org")))
        .when(m5 == 3, F.concat(F.lit("cdn."), F.col("source"), F.lit(".github.io")))
        .otherwise(F.lit("co.uk"))
    )
    salted = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(F.lit(" ref "), (did % 10000 + 1000000).cast("string")),
        ).otherwise(F.lit("")),
    )
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    num_re = r"[0-9]{7,}"
    rows = docs.select(host.alias("host"), salted.alias("t"))
    psl = spark.createDataFrame([(s,) for s in PSL_SUBSET], ["suffix"])
    with_pld = registered_domains(rows, "host", psl)
    return (
        with_pld.select(
            "pld",
            F.length("t").alias("_n"),
            F.regexp_count(F.col("t"), F.lit(email_re)).cast("long").alias("_e"),
            F.regexp_count(F.col("t"), F.lit(num_re)).cast("long").alias("_d"),
        )
        .groupBy("pld")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_e").cast("bigint").alias("n_emails"),
            F.sum("_d").cast("bigint").alias("n_numbers"),
            F.floor(
                F.lit(1000000.0)
                * (F.sum("_e") + F.sum("_d"))
                / F.sum("_n")
            ).alias("pii_density_ppm"),
        )
    )


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T141: tokenizer fertility audit — pieces-per-word and chars-per-piece
    by language for a FIXED merge list over the REAL corpus text; the
    pre-training sanity check that a tokenizer isn't shattering some
    language into characters (fertility spikes are how vocab gaps show
    up).  Composition contract (the T93 discipline): T140's encode dim —
    built ONCE over the distinct corpus vocabulary, joined back broadcast
    — feeds a per-language rollup; the oracle replays the whole chain
    (tokenization → chained-replace encode → join → rollup), so the stage
    boundary arithmetic is what hash-matches.  Exchanges: token counts are
    map-side combined; the encode dim is vocabulary-bounded."""
    from pdf_drawing_ocr_recognition_spark.operators.bpe import encode_words

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("word")
    )
    dim = encode_words(toks.select("word"), BPE_ENCODE_MERGES)
    return (
        toks.join(F.broadcast(dim.select("word", "n_pieces")), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_pieces_total"),
        )
        .select(
            "lang",
            "n_words",
            "n_pieces_total",
            F.floor(
                F.lit(1000000.0) * F.col("n_pieces_total") / F.col("n_words")
            ).alias("fertility_ppm"),
        )
    )


def q_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T156: metronome (bot) detection (operators/politeness.py:
    bot_regularity) — squared CV of inter-event gaps as exact integer ppm
    over the REAL events table: automated clients fire at near-constant
    intervals (cv²≈0), organic traffic is bursty.  The timing-side bot
    signal next to T63/T64's declared politeness.  One bounded per-actor
    lag() window + one map-combined aggregate; gaps quantized to minutes
    so every product stays in int64; actors with <4 gaps dropped by
    documented contract.  The oracle replays the lag, the minute
    quantization, and both integer divisions."""
    from pdf_drawing_ocr_recognition_spark.operators.politeness import (
        bot_regularity,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", _us(F.col("ts")).alias("ts_us")
    )
    return bot_regularity(ev)


LSH_RECALL_THRESHOLDS = [600000, 750000, 850000, 950000]
# absolute sample size for the recall eval: the modulus max(1, n // 200)
# keeps the deliberate O(sample²) truth join at ~2e4 pairs at ANY corpus
# scale (at sf0.1's 5000 docs this is the same 1/25 sample as round 4,
# so bench numbers stay comparable)
LSH_RECALL_SAMPLE_DOCS = 200


def q_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T155: empirical LSH recall — the measured S-curve: on a
    deterministic ABSOLUTE-SIZE sample (the T6 all-pairs discipline:
    O(sample²) BY CONSTRUCTION with the sample pinned to ~200 docs —
    modulus ``max(1, n_docs // 200)`` over the dense doc_id space, so the
    cartesian stays ~2·10⁴ pairs at ANY corpus scale; round 4's fractional
    1/25 sample grew the truth join with corpus², 10,000× the work at
    100× data), compute every pair's TRUE shingle-set Jaccard, mark which
    pairs the T3 banding actually surfaces, and report recall per
    threshold.  The number the sweep (T145) can't see: T145 counts what
    the candidates contain, THIS counts what banding MISSES (near-dups
    that never meet in a bucket).  The sample has no organic near-dups
    (max pair jaccard 3%), so positives are PLANTED: each sampled doc
    gets a twin with 1+doc_id%12 unique words prepended — true jaccard
    spans ~0.77–0.99 around the banding S-curve by construction.  One
    theta join against the thresholds dim; the oracle replays the
    modulus derivation, the signature banding AND the all-pairs truth
    from the same fragments as the T3/T112 oracles.  The count feeding
    the modulus is one column-pruned scan (driver-side scalar — the
    same dim-bounded collect discipline as the sketch operators)."""
    from pdf_drawing_ocr_recognition_spark.functions.dedup import word_shingles
    from pdf_drawing_ocr_recognition_spark.operators.dedup import (
        near_dupe_pairs,
    )

    n_docs = _t(spark, sf_dir, "documents").count()
    modulus = max(1, n_docs // LSH_RECALL_SAMPLE_DOCS)
    orig = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % modulus == 0)
    did = F.col("doc_id")
    prefix = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), (did % 12) + 1),
            lambda j: F.concat(
                F.lit("zz"), did.cast("string"), F.lit("x"), j.cast("string")
            ),
        ),
    )
    # two-step select: Spark's lateral-column-alias rule would otherwise
    # resolve `prefix`'s doc_id against the shifted alias, not the input
    twins = orig.select(
        "doc_id", F.concat(prefix, F.lit(" "), F.col("text")).alias("text")
    ).select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    docs = orig.select("doc_id", "text").unionByName(twins)
    cands = (
        near_dupe_pairs(docs)
        .select(F.col("key_a").alias("doc_a"), F.col("key_b").alias("doc_b"))
        .withColumn("_c", F.lit(1))
    )
    grams = docs.select(
        "doc_id", F.array_distinct(word_shingles(F.col("text"), 3)).alias("g")
    )
    a = grams.select(
        F.col("doc_id").alias("doc_a"),
        F.col("g").alias("ga"),
        F.size("g").alias("na"),
    )
    b = grams.select(
        F.col("doc_id").alias("doc_b"),
        F.col("g").alias("gb"),
        F.size("g").alias("nb"),
    )
    # |a∪b| = |a|+|b|−|a∩b| (ga/gb are array_distinct by construction):
    # one set operation per pair instead of two, and the union array is
    # never materialized — value-identical to size(array_union(...)).
    truth = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "na",
            "nb",
            F.size(F.array_intersect("ga", "gb")).cast("bigint").alias("_i"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.when(
                F.col("na") + F.col("nb") - F.col("_i") == 0,
                F.lit(0).cast("bigint"),
            )
            .otherwise(
                F.expr("CAST((1000000 * _i) DIV (na + nb - _i) AS BIGINT)")
            )
            .alias("true_ppm"),
        )
        .join(cands, ["doc_a", "doc_b"], "left")
    )
    thr = spark.createDataFrame(
        [(t,) for t in LSH_RECALL_THRESHOLDS], "threshold_ppm long"
    )
    return (
        truth.join(F.broadcast(thr), F.col("true_ppm") >= F.col("threshold_ppm"))
        .groupBy("threshold_ppm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true"),
            F.sum(F.coalesce("_c", F.lit(0))).cast("bigint").alias("n_found"),
        )
        .select(
            "threshold_ppm",
            "n_true",
            "n_found",
            F.floor(
                F.lit(1000000.0) * F.col("n_found") / F.col("n_true")
            ).alias("recall_ppm"),
        )
    )


def q_policy_at_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T153: point-in-time dimension lookup — join every fetch against the
    T151 SCD2 history to recover "what was the host's policy WHEN this
    page was fetched" (the question the history exists to answer; naive
    joins against current policy silently rewrite the past).  Equi-join on
    host + half-open interval predicate [valid_from, valid_to); fetches on
    day 4 (after the last snapshot) hit the OPEN row, day-1 fetches the
    first interval — both edges load-bearing.  Scale: the join
    co-partitions on host; intervals per host are few (dim-sized).  The
    oracle composes the T151 gaps-and-islands oracle as a CTE and
    replays the interval lookup."""
    hist = q_scd2_history(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    fetches = docs.select(
        F.concat(F.lit("h"), (did % 10).cast("string")).alias("fhost"),
        (F.lit(1) + did % 4).cast("bigint").alias("fetch_day"),
    )
    j = fetches.join(
        hist,
        (F.col("fhost") == F.col("host"))
        & (F.col("valid_from") <= F.col("fetch_day"))
        & (F.col("valid_to").isNull() | (F.col("fetch_day") < F.col("valid_to"))),
    )
    return j.groupBy("fetch_day", "policy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fetches")
    )


MATRYOSHKA_DIMS = [16, 32]


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T152: Matryoshka truncation recall (Kusupati et al. 2022) — top-10
    cosine overlap between the full 64-dim embedding and its first-16/32
    prefix: the audit run BEFORE committing to truncated embeddings for
    the ANN store (an 8× memory cut is free only if prefix recall holds).
    Both rankings come from the SAME oracled exact scorer (T8's Arrow
    kernel, round-to-4 rank discipline); overlap via one (query, neighbor)
    equi-join per truncation dim, recall as exact floor-ppm.  The oracle
    replays both rankings with DuckDB list slices and the identical
    tie-break, so the overlap COUNTS — not just score values — must
    agree."""
    from pdf_drawing_ocr_recognition_spark.operators.similarity import (
        brute_force_topk_arrow,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    full = brute_force_topk_arrow(emb, queries, k=10, round_to=4).select(
        "query_id", "neighbor_id"
    )
    outs = []
    for d in MATRYOSHKA_DIMS:
        trunc = emb.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        tq = trunc.filter(F.col("vec_id") < 8)
        t = brute_force_topk_arrow(trunc, tq, k=10, round_to=4).select(
            "query_id", "neighbor_id"
        )
        ov = (
            full.join(t, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
            .select(
                "query_id",
                F.lit(d).cast("int").alias("trunc_dim"),
                "n_overlap",
                F.floor(F.lit(1000000.0) * F.col("n_overlap") / 10).alias(
                    "recall_ppm"
                ),
            )
        )
        outs.append(ov)
    return outs[0].unionByName(outs[1])


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T151: SCD Type-2 dimension history (operators/cdc.py:scd2_merge) —
    fold three daily host-policy snapshots into validity intervals; the
    structure point-in-time joins (T18) read to answer "what was the
    robots policy when this page was fetched".  Even hosts change policy
    every day (3 intervals), odd hosts never (1 open row) — both branches
    and the close/insert timestamps are load-bearing.  THE ORACLE USES A
    DIFFERENT ALGORITHM: gaps-and-islands (lag + change-point running
    sum) over the unioned snapshots — two independent constructions of
    the same history hash-matching is much stronger evidence than a
    replay of the merge.  Per merge: one equi-join of OPEN rows vs batch
    (the closed majority never shuffles again at 10^12 rows)."""
    from pdf_drawing_ocr_recognition_spark.operators.cdc import scd2_merge

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id") % 10
    hist = None
    for d in (1, 2, 3):
        policy = F.when(
            k % 2 == 0, F.concat(F.lit("pol"), ((k + d) % 4).cast("string"))
        ).otherwise(F.concat(F.lit("pol"), (k % 4).cast("string")))
        batch = docs.select(
            F.concat(F.lit("h"), k.cast("string")).alias("host"),
            policy.alias("policy"),
            F.lit(d).cast("bigint").alias("as_of"),
        ).distinct()
        hist = scd2_merge(hist, batch, "host", ["policy"])
    return hist


def q_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T150: sitemap-vs-crawl coverage audit (operators/politeness.py:
    sitemap_coverage) — per host: declared URLs fetched (raise budget when
    low) vs fetched URLs never declared (crawl-trap budget leak; cross-
    check T119).  One full-outer join of two distinct URL sets, one
    rollup.  Declared paths {0..19} vs crawled paths {5..24} per host make
    coverage exactly 750000 ppm and the undeclared share exactly 250000
    ppm BY CONSTRUCTION — both gap directions load-bearing."""
    from pdf_drawing_ocr_recognition_spark.operators.politeness import (
        sitemap_coverage,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    declared = docs.select(
        F.format_string(
            "http://h%d.example.com/p/%d", did % 6, did % 20
        ).alias("url")
    )
    crawled = docs.select(
        F.format_string(
            "http://h%d.example.com/p/%d", did % 6, did % 20 + 5
        ).alias("url")
    )
    return sitemap_coverage(declared, crawled)


def q_link_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T149: between-crawl link churn (operators/cdc.py:link_churn) — the
    graph-side CDC signal: T55 diffs content, this diffs STRUCTURE (high
    churn + stable content = link rotation / sold links; near-zero churn
    feeds the T120 refresh dial).  One composite-key full-outer join over
    two distinct edge sets, one map-combined rollup.  Each synthetic host
    keeps 5 out-links, drops 4 ('old*') and gains 4 ('new*') between the
    crawls, so every status branch and the exact churn ppm
    floor(10⁶·8/13) are load-bearing in the match."""
    from pdf_drawing_ocr_recognition_spark.operators.cdc import link_churn

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    host = F.concat(F.lit("h"), (did % 8).cast("string"))

    def tgt(prefix, mod):
        return F.concat(F.lit(prefix), (did % mod).cast("string"))

    stable = docs.select(host.alias("src_host"), tgt("kept", 5).alias("dst_host"))
    removed = docs.select(host.alias("src_host"), tgt("old", 4).alias("dst_host"))
    added = docs.select(host.alias("src_host"), tgt("new", 4).alias("dst_host"))
    return link_churn(stable.union(removed), stable.union(added))


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T148: HITS hub/authority (operators/links.py:hits_scores) — the
    mutual-reinforcement pair PageRank doesn't give: aggregators score as
    hubs, canonical sources as authorities (originality prior vs
    boilerplate-aggregator prior for curation).  Exact-integer variant:
    every half-step L∞-normalizes by floor(x·10⁶ DIV max) — integer sums,
    fixed division order, so the oracle's chained-CTE replay of two full
    iterations hash-matches BIT-FOR-BIT (no float tolerance anywhere).
    The synthetic graph wires two hubs onto disjoint authority sets plus
    a noise chain, so hub/authority separation is structural."""
    from pdf_drawing_ocr_recognition_spark.operators.links import hits_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    m = did % 10
    src = (
        F.when(m < 5, F.concat(F.lit("hub"), (did % 2).cast("string")))
        .when(m.isin(5, 6, 7), F.concat(F.lit("n"), (did % 11).cast("string")))
        .otherwise(F.concat(F.lit("hub"), (did % 2).cast("string")))
    )
    dst = (
        F.when(m < 5, F.concat(F.lit("auth"), (did % 5).cast("string")))
        .when(
            m.isin(5, 6, 7),
            F.concat(F.lit("n"), (did % 11 + 1).cast("string")),
        )
        .otherwise(F.concat(F.lit("n"), (did % 11).cast("string")))
    )
    edges = docs.select(src.alias("src_host"), dst.alias("dst_host"))
    return hits_scores(edges, n_iters=2)


def q_link_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T147: link-exchange detection (operators/links.py:link_reciprocity)
    — fraction of a host's out-neighbors that link back, exact ppm; the
    direct-trade twin of T139's shared-backlink signal.  One left-semi
    join of the distinct edge set against its own reversal (composite-key
    equi-join, co-partitioned, no fan-out) + two map-combined counts.
    The synthetic graph builds a 4-host exchange ring (reciprocity exactly
    10⁶ ppm via ±1 alternating edges), a 7-host one-way chain (exactly 0),
    and a partial hub (exactly 500000) — all three regimes load-bearing
    in the hash match."""
    from pdf_drawing_ocr_recognition_spark.operators.links import (
        link_reciprocity,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    m = did % 10
    k4 = did % 4
    step = F.when(did % 2 == 0, F.lit(1)).otherwise(F.lit(3))
    src = (
        F.when(m < 4, F.concat(F.lit("x"), k4.cast("string")))
        .when(m.isin(4, 5, 6), F.concat(F.lit("c"), (did % 6).cast("string")))
        .when(m.isin(7, 8), F.lit("p0"))
        .otherwise(F.lit("p1"))
    )
    dst = (
        F.when(m < 4, F.concat(F.lit("x"), ((k4 + step) % 4).cast("string")))
        .when(
            m.isin(4, 5, 6),
            F.concat(F.lit("c"), (did % 6 + 1).cast("string")),
        )
        .when(m.isin(7, 8), F.concat(F.lit("p"), (did % 2 + 1).cast("string")))
        .otherwise(F.lit("p0"))
    )
    edges = docs.select(src.alias("src_host"), dst.alias("dst_host"))
    return link_reciprocity(edges)


def q_first_seen_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T146: first-published provenance (operators/dedup.py:
    first_seen_attribution) — per duplicated content digest, WHO published
    first (earliest fetch ts, doc_id tiebreak) and how widely it spread:
    the scraper-demotion signal (CC's WARC-Date makes this real at 10^12
    pages).  One min_by/count hash agg keyed by digest, no window.  The
    synthetic fetch log dedups on each document's 3-word LEDE (scrapers
    copy ledes; the tiny vocabulary guarantees cross-host collisions at
    every scale), hosts and timestamps derived
    from doc_id with only 16 distinct ts values (DELIBERATE collisions) so
    the deterministic doc_id tiebreak — not just the min — is load-bearing in the
    hash match."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import (
        first_seen_attribution,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    lede = F.concat_ws(" ", F.slice(F.split(F.lower("text"), " "), 1, 3))
    fetches = docs.select(
        "doc_id",
        lede.alias("text"),
        F.concat(F.lit("h"), (did % 13).cast("string")).alias("host"),
        (F.lit(1700000000) + (did * 37) % 16).cast("bigint").alias("fetch_ts"),
    )
    return first_seen_attribution(fetches)


DEDUP_SWEEP_THRESHOLDS = [200000, 400000, 600000, 800000, 950000]


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T145: near-dedup operating curve — for each candidate threshold,
    how many LSH-confirmed pairs pass and how many documents get flagged:
    the table you read BEFORE committing the single most consequential
    knob in corpus dedup (too low: deletes legitimate reposts; too high:
    ships near-duplicates into training).  Reuses T112's candidate-scored
    pairs (true shingle-set Jaccard as exact ppm over T3's banded
    candidates — never all-pairs), theta-joined against a 5-row broadcast
    thresholds dim; both rollups map-side-combined.  The oracle composes
    the T112 oracle as a CTE — the sweep and its input share one source
    of truth."""
    scored = q_minhash_calibration(spark, sf_dir).select(
        "doc_a", "doc_b", "true_ppm"
    )
    thr = spark.createDataFrame(
        [(t,) for t in DEDUP_SWEEP_THRESHOLDS], "threshold_ppm long"
    )
    passing = scored.join(
        F.broadcast(thr), F.col("true_ppm") >= F.col("threshold_ppm")
    )
    # ONE aggregation over ONE evaluation of the calibration feed: the pair
    # count is recovered from the exploded grain (each pair contributes
    # exactly two doc rows, so count DIV 2 is exact) — the previous
    # two-branch form re-executed the whole T112 subtree for each rollup.
    return (
        passing.select(
            "threshold_ppm",
            F.explode(F.array("doc_a", "doc_b")).alias("d"),
        )
        .groupBy("threshold_ppm")
        .agg(
            F.expr("CAST(count(1) DIV 2 AS BIGINT)").alias("n_pairs"),
            F.countDistinct("d").cast("bigint").alias("n_docs_flagged"),
        )
    )


def q_cocitation_farms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T139: co-citation link-farm detection (operators/links.py:
    cocitation_pairs) — hosts sharing their in-linking sources belong to
    one backlink ring; content-blind, so it catches farms that rewrite
    text past every content dedup (complements T114 TrustRank, T119 URL
    farms, T122 mirrors).  Capped per-source out-link lists, in-array pair
    expansion, broadcast in-degree dims — the T3 one-shuffle shape.  The
    synthetic graph wires 9 sources to ALL 5 farm hosts (pairwise jaccard
    1.0 by construction) while each of 17 normal hosts draws from only TWO
    sources ({k%9, (k+3)%9}) — farm-farm pairs pass, farm-noise pairs sit
    at 2/9 ≈ 222k ppm below threshold, and the rare noise pair with an
    identical 2-source set (k, k+9) passes, exercising the cut both ways;
    the oracle replays the distinct-edge self-join, so the cap, the pair
    counts and the exact ppm all hash-match."""
    from pdf_drawing_ocr_recognition_spark.operators.links import (
        cocitation_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    m = did % 10
    k = did % 17
    src = F.when(m < 5, F.concat(F.lit("s"), (did % 9).cast("string"))).otherwise(
        F.concat(
            F.lit("s"),
            F.when(did % 2 == 0, k % 9).otherwise((k + 3) % 9).cast("string"),
        )
    )
    dst = F.when(
        m < 5, F.concat(F.lit("farm"), (did % 5).cast("string"))
    ).otherwise(F.concat(F.lit("n"), k.cast("string")))
    edges = docs.select(src.alias("src_host"), dst.alias("dst_host"))
    return cocitation_pairs(edges, min_jaccard_ppm=400000)


def q_kn_continuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T138: Kneser–Ney continuation counts (operators/lm.py:
    kn_continuation) — N1+(·w) distinct-left-context counts and
    P_cont(w) as exact floor-ppm, the proper backoff leaf the LM stack
    (T94 Stupid Backoff, T121 Good–Turing) was missing and a
    vocabulary-versatility signal for curation ("francisco" is frequent
    but follows only "san").  Bigrams via codegen lead() windows, ONE
    distinct over bigram types, word-keyed counts — exchanges carry types,
    never tokens.  Filtered to words seen ≥5 times so the result is the
    head of the distribution; the oracle replays tokenization, the
    distinct, and the ppm division."""
    from pdf_drawing_ocr_recognition_spark.operators.lm import kn_continuation

    docs = _t(spark, sf_dir, "documents")
    return kn_continuation(docs).filter(F.col("n_tokens") >= 5)


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T137: shard export manifest (operators/packing.py:shard_manifest) —
    the integrity record a data loader checks before training: per-shard
    doc count, char volume, key range, and an ORDER-INSENSITIVE bit_xor
    fingerprint of per-doc 60-bit digests, so a re-export or a
    cross-datacenter copy verifies without sorting the shard.  One
    map-side-combinable aggregate; the shuffle carries one row per shard.
    The oracle replays the md5→hex→bigint digest and DuckDB's own bit_xor
    — two engines computing the same multiset fingerprint independently."""
    from pdf_drawing_ocr_recognition_spark.operators.packing import (
        shard_manifest,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "shard", (F.col("doc_id") % 8).cast("int")
    )
    return shard_manifest(docs)


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T136: asymmetric containment pairs (operators/dedup.py:
    containment_pairs) — Broder containment |S(A)∩S(B)|/|S(A)| over word
    3-shingle sets catches the doc-in-doc duplicates Jaccard scores near
    zero (a short article quoted whole inside a long aggregator page).
    T3's one-shuffle discipline: capped per-shingle doc lists, in-array
    pair expansion, broadcast size dims.  The synthetic corpus builds
    token-stream windows in groups of four — one 60-token page and three
    12-token excerpts fully inside it — so true containments are exactly
    10^6 ppm BY CONSTRUCTION while excerpt-excerpt overlaps stay below
    threshold; the oracle replays shingling, the cap, and both ppm
    directions."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import (
        containment_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    m = did % 4
    base = F.floor(did / 4) * 100
    start = base + F.when(m == 0, F.lit(0)).otherwise(m * 10)
    length = F.when(m == 0, F.lit(60)).otherwise(F.lit(12))
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(start, start + length - 1),
            lambda j: F.concat(F.lit("w"), j.cast("string")),
        ),
    )
    synth = docs.select("doc_id", text.alias("text"))
    return containment_pairs(synth, min_containment_ppm=600000)


def q_domain_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T135: leakage-safe domain-level split (operators/sampling.py:
    domain_split) — train/val/test assigned by md5 of the REGISTERED
    domain (T133's PSL extraction), so every page of one registrant lands
    in one split.  Doc-level hash splits (T16) leak near-duplicate
    templates of one site across train and test; domain-level cuts are
    the C4/FineWeb discipline.  Pure codegen after the broadcast PSL
    ancestor joins — zero corpus shuffle before the final count;
    suffix-only hosts (NULL pld, no registrant identity) fall back to
    train by contract.  The oracle replays pld-per-rule AND the md5
    nibble-bucket arithmetic, so the split assignment itself — not just
    the counts — is what hash-matches."""
    from pdf_drawing_ocr_recognition_spark.operators.filtering import (
        registered_domains,
    )
    from pdf_drawing_ocr_recognition_spark.operators.sampling import (
        domain_split,
    )

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    lbl = F.concat(
        F.col("source"), F.lit("-x"), (F.col("doc_id") % 40).cast("string")
    )
    host = (
        F.when(m == 0, F.concat(F.lit("www."), lbl, F.lit(".co.uk")))
        .when(m == 1, F.concat(lbl, F.lit(".com")))
        .when(m == 2, F.concat(F.lit("a.b."), lbl, F.lit(".org")))
        .when(m == 3, F.concat(F.lit("cdn."), lbl, F.lit(".github.io")))
        .otherwise(F.lit("co.uk"))
    )
    psl = spark.createDataFrame([(s,) for s in PSL_SUBSET], ["suffix"])
    hosts = docs.select("doc_id", "lang", host.alias("host"))
    out = domain_split(registered_domains(hosts, "host", psl), "pld")
    return out.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("pld").cast("bigint").alias("n_plds"),
    )


# T134 fixture strings — module-level so the Spark query and the DuckDB
# oracle are built from the SAME constants and cannot drift.  Three byte
# forms of one logical string (composed / fully decomposed / mixed) plus a
# Hangul-jamo string that composes to a different logical text.
NFC_COMPOSED = "Caf\u00e9 d\u00e9j\u00e0 vu \u2116"
NFC_DECOMPOSED = "Cafe\u0301 de\u0301ja\u0300 vu \u2116"
NFC_MIXED = "Caf\u00e9 de\u0301ja\u0300 vu \u2116"
NFC_JAMO = "\u1112\u1161\u11ab\u1100\u116d"


def q_unicode_nfc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T134: Unicode NFC canonicalization dedup (functions/normalize.py:
    nfc_text) — byte-hash dedup misses "café" (U+00E9) vs "café"
    (e + combining acute): same rendered text, different md5.  UAX #15 NFC
    before hashing is the standard fix; Spark has no built-in normalizer,
    so the kernel is an Arrow-batched pandas_udf over unicodedata, and the
    oracle is DuckDB's utf8proc ``nfc_normalize`` — two independent
    implementations of the normative algorithm hash-matching byte-for-byte.
    Four raw shapes per doc_id%4 (composed / NFD / mixed / Hangul jamo);
    the first three collapse to ONE canonical group per key (n_forms=3),
    the jamo shape composes into its own group — so composition, reorder,
    and Hangul LV/LVT arithmetic are all load-bearing in the match.
    One narrow Arrow stage + one hash-agg exchange on the canonical form;
    at 10^12 pages the shuffle carries canonical digests, not raw bytes."""
    from pdf_drawing_ocr_recognition_spark.functions.normalize import nfc_text

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 4
    k = F.concat(F.lit(" #"), (F.col("doc_id") % 25).cast("string"))
    raw = (
        F.when(m == 0, F.concat(F.lit(NFC_COMPOSED), k))
        .when(m == 1, F.concat(F.lit(NFC_DECOMPOSED), k))
        .when(m == 2, F.concat(F.lit(NFC_MIXED), k))
        .otherwise(F.concat(F.lit(NFC_JAMO), k))
    )
    canon = docs.select(
        "doc_id", raw.alias("raw_text")
    ).withColumn("nfc_text", nfc_text("raw_text"))
    return canon.groupBy("nfc_text").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("raw_text").cast("bigint").alias("n_forms"),
        F.min("doc_id").alias("rep_doc_id"),
        F.sum(F.when(F.col("raw_text") != F.col("nfc_text"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_changed"),
    )


def q_redirect_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T132: redirect-chain resolution (operators/links.py:
    resolve_redirects) — collapse fetch-log redirects to final targets
    before URL dedup: bounded hop joins (max_hops=4, the HTTP-client
    discipline — never an unbounded loop), loops and over-long chains
    flagged unresolved.  The synthetic fetch log exercises 1/2/3-hop
    chains, a self-redirect, and a 2-cycle; the oracle replays the SAME
    bounded iteration as chained CTEs, so hop counts and the unresolved
    flags — not just finals — hash-match."""
    from pdf_drawing_ocr_recognition_spark.operators.links import (
        resolve_redirects,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")

    def u(expr):
        return F.format_string(
            "http://h%d.example.com/p/%d", expr % _LINK_HOSTS, expr
        )

    m = did % 10
    edges = (
        docs.filter(m.isin(1, 2, 3, 7, 8, 9))
        .select(
            u(did).alias("src_url"),
            F.when(m.isin(1, 2, 3, 8), u(did - 1))
            .when(m == 9, u(did))
            .otherwise(u(did + 1))  # m == 7
            .alias("dst_url"),
        )
    )
    return resolve_redirects(edges, max_hops=4)


def q_charset_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T131: charset sniffing (kernel/charset.py via the shared tokenizer;
    WHATWG order: BOM → bounded meta scan → HTML5 default) — the decode
    decision made per page BEFORE text exists, on the raw binary column.
    Four page shapes by doc_id%4: UTF-8 BOM, <meta charset=ISO-8859-1>,
    http-equiv Content-Type (charset=windows-1252, quoted, mixed case),
    and no declaration; a decoy non-Content-Type http-equiv meta precedes
    the real one so the scan's filtering — not just presence — is what
    hash-matches."""
    from pdf_drawing_ocr_recognition_spark.operators.metadata import (
        sniff_page_charsets,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    url = F.format_string("http://h%d.example.com/p/%d", did % _LINK_HOSTS, did)
    body = F.lit('<meta http-equiv="refresh" content="30"><p>b</p>')
    html = (
        F.when(
            did % 4 == 0,
            F.concat(F.lit("﻿<html><head>"), body, F.lit("</head></html>")),
        )
        .when(
            did % 4 == 1,
            F.concat(
                F.lit("<html><head>"),
                body,
                F.lit('<meta charset="ISO-8859-1"></head></html>'),
            ),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.lit("<html><head>"),
                body,
                F.lit(
                    '<meta http-equiv="Content-Type" '
                    'content="text/html; Charset=Windows-1252"></head></html>'
                ),
            ),
        )
        .otherwise(
            F.concat(F.lit("<html><head>"), body, F.lit("</head></html>"))
        )
    )
    pages = docs.select(
        url.alias("url"), F.encode(html, "utf-8").alias("html")
    )
    return sniff_page_charsets(pages)


def q_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T130: production-width (56-bit) SimHash per document — one
    map-side-combinable 56-counter hash agg over the token stream
    (operators/dedup.py:simhash_wide); integer counters make the sign bits
    and therefore the packed BIGINT engine-exact (DuckDB replays every
    counter from the same md5 nibbles)."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import simhash_wide

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return simhash_wide(docs)


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T130 (pairs): Manku/Jain/Sarma WWW'07 web dedup end to end — 56-bit
    SimHash + the SAME pigeonhole Hamming index as the image dHash (T117):
    4 disjoint 14-bit bands for distance ≤ 3, band-equality join, codegen
    bit_count(xor) confirm; recall structural.  One machinery, two
    modalities (text here, rasters in T117)."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import simhash_wide
    from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
        hamming_near_dupe_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    hashes = simhash_wide(docs)
    return hamming_near_dupe_pairs(
        hashes, n_bits=56, max_distance=3, hash_col="simhash"
    )


def q_feed_harvest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T129: RSS/Atom feed harvesting (kernel/feed.py via the shared linear
    tokenizer; sources/feeds.py) — the freshness frontier: one REAL RSS 2.0
    feed per source (titles with entities, element-text links, pubDate,
    guid) plus one Atom feed (ATTRIBUTE links with a rel=self decoy the
    parser must skip, updated, urn ids), exploded to scheduler rows.  Every
    field hash-proved against a DuckDB replay from (doc_id, source)
    arithmetic."""
    from pdf_drawing_ocr_recognition_spark.sources.feeds import harvest_feeds

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    did = F.col("doc_id")
    day = F.lpad((did % 28 + 1).cast("string"), 2, "0")
    rss_item = F.concat(
        F.lit("<item><title>Doc "),
        did.cast("string"),
        F.lit(" &amp; more</title><link>http://"),
        F.col("source"),
        F.lit(".example.com/p/"),
        did.cast("string"),
        F.lit("</link><pubDate>2024-03-"),
        day,
        F.lit("</pubDate><guid>tag:"),
        F.col("source"),
        F.lit(":"),
        did.cast("string"),
        F.lit("</guid></item>"),
    )
    rss = (
        docs.select(
            "source", F.struct(did.alias("i"), rss_item.alias("e")).alias("s")
        )
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("s")).alias("es"))
        .select(
            F.concat(
                F.lit("http://"), F.col("source"), F.lit(".example.com/feed.xml")
            ).alias("feed_url"),
            F.concat(
                F.lit('<rss version="2.0"><channel><title>ch</title>'),
                F.concat_ws("", F.transform(F.col("es"), lambda s: s["e"])),
                F.lit("</channel></rss>"),
            ).alias("content"),
        )
    )
    atom_entry = F.concat(
        F.lit("<entry><title>A"),
        did.cast("string"),
        F.lit('</title><link rel="self" href="http://atom.example.com/self"/>'),
        F.lit('<link href="http://atom.example.com/a/'),
        did.cast("string"),
        F.lit('" rel="alternate"/><updated>2024-04-'),
        day,
        F.lit("</updated><id>urn:"),
        did.cast("string"),
        F.lit("</id></entry>"),
    )
    atom = (
        docs.filter(did < 40)
        .select(F.struct(did.alias("i"), atom_entry.alias("e")).alias("s"))
        .groupBy()
        .agg(F.sort_array(F.collect_list("s")).alias("es"))
        .select(
            F.lit("http://atom.example.com/feed.atom").alias("feed_url"),
            F.concat(
                F.lit('<feed xmlns="http://www.w3.org/2005/Atom">'),
                F.concat_ws("", F.transform(F.col("es"), lambda s: s["e"])),
                F.lit("</feed>"),
            ).alias("content"),
        )
    )
    blobs = rss.unionAll(atom).select(
        "feed_url", F.encode(F.col("content"), "utf-8").alias("content")
    )
    return harvest_feeds(blobs)


def q_hreflang_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T128: hreflang translation groups — pages of the same content in
    different languages, clustered from their own ``<link rel=alternate
    hreflang=…>`` head declarations (Google's hreflang protocol; the
    multilingual sampling unit that seeds T102 bitext mining and T77
    language quotas).  Synthesized groups of five language variants each
    declare the full reciprocal set; the REAL head kernel extracts the
    edges, and clustering is one map-side min + hash agg (reciprocal sets
    need no connected components).  Replayed in DuckDB from doc_id
    arithmetic."""
    from pdf_drawing_ocr_recognition_spark.operators.metadata import (
        extract_hreflang,
        hreflang_clusters,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    langs5 = ["en", "de", "fr", "es", "zh"]
    gs = F.expr("doc_id div 5").cast("string")
    my_lang = F.element_at(
        F.array(*[F.lit(x) for x in langs5]),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    url = F.concat(
        F.lit("http://site.example.com/"), my_lang, F.lit("/g/"), gs
    )
    links = F.concat(
        *[
            F.concat(
                F.lit(
                    f'<link rel="alternate" hreflang="{lng}" '
                    f'href="http://site.example.com/{lng}/g/'
                ),
                gs,
                F.lit('">'),
            )
            for lng in langs5
        ]
    )
    html = F.concat(
        F.lit("<html><head>"), links, F.lit("</head><body>b</body></html>")
    )
    pages = docs.select(
        url.alias("url"), F.encode(html, "utf-8").alias("html")
    )
    return hreflang_clusters(extract_hreflang(pages))


def q_sitemap_harvest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T127: sitemap harvesting (kernel/sitemap.py via the shared linear
    tokenizer; sources/sitemaps.py) — the frontier-seeding read: one REAL
    urlset XML per source (entries assembled in doc_id order, locs with
    &amp;-escaped query URLs — the protocol-mandated case the parser must
    unescape) plus one sitemapindex shard list, exploded to scheduler rows
    (loc, lastmod, changefreq, priority).  Every field hash-proved against
    a DuckDB replay from (doc_id, source) arithmetic.  One narrow Arrow
    stage; the protocol's 50k-URL file cap makes files the parallelism
    unit — no skew by construction."""
    from pdf_drawing_ocr_recognition_spark.sources.sitemaps import (
        harvest_sitemaps,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    did = F.col("doc_id")
    entry = F.concat(
        F.lit("<url>\n  <loc>http://"),
        F.col("source"),
        F.lit(".example.com/p/"),
        did.cast("string"),
        F.lit("?a=1&amp;b=2</loc><lastmod>2024-03-"),
        F.lpad((did % 28 + 1).cast("string"), 2, "0"),
        F.lit("</lastmod><changefreq>"),
        F.when(did % 3 == 0, F.lit("daily")).otherwise(F.lit("weekly")),
        F.lit("</changefreq><priority>0."),
        (did % 10).cast("string"),
        F.lit("</priority></url>"),
    )
    urlsets = (
        docs.select("source", F.struct(did.alias("i"), entry.alias("e")).alias("s"))
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("s")).alias("es"))
        .select(
            F.concat(
                F.lit("http://"), F.col("source"), F.lit(".example.com/sitemap.xml")
            ).alias("sitemap_url"),
            F.concat(
                F.lit('<?xml version="1.0" encoding="UTF-8"?><urlset>'),
                F.concat_ws("", F.transform(F.col("es"), lambda s: s["e"])),
                F.lit("</urlset>"),
            ).alias("content"),
        )
    )
    index = (
        docs.select("source")
        .groupBy()
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .select(
            F.lit("http://index.example.com/sitemap_index.xml").alias(
                "sitemap_url"
            ),
            F.concat(
                F.lit("<sitemapindex>"),
                F.concat_ws(
                    "",
                    F.transform(
                        F.col("ss"),
                        lambda s: F.concat(
                            F.lit("<sitemap><loc>http://"),
                            s,
                            F.lit(
                                ".example.com/sitemap.xml</loc>"
                                "<lastmod>2024-04-01</lastmod></sitemap>"
                            ),
                        ),
                    ),
                ),
                F.lit("</sitemapindex>"),
            ).alias("content"),
        )
    )
    blobs = urlsets.unionAll(index).select(
        "sitemap_url", F.encode(F.col("content"), "utf-8").alias("content")
    )
    return harvest_sitemaps(blobs)


def _meta_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic page corpus with <head> metadata: doc i lives at
    ``http://h{i%23}.example.com/p/{i}``, carries a title with an HTML
    entity (unescape exercised), a Description meta (case-folded key), an
    OpenGraph property meta, a robots meta (noindex every 5th), and — for
    odd i — a rel=canonical declaring the even sibling i−1 as the true
    copy.  The DuckDB twins recompute every field from doc_id arithmetic,
    so a hash match proves the real head-parsing kernel is exact."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    did = F.col("doc_id")
    url = F.format_string("http://h%d.example.com/p/%d", did % _LINK_HOSTS, did)
    partner = F.format_string(
        "http://h%d.example.com/p/%d", (did - 1) % _LINK_HOSTS, did - 1
    )
    link = F.when(
        did % 2 == 1,
        F.format_string("<link rel=\"canonical\" href=\"%s\">", partner),
    ).otherwise(F.lit(""))
    robots = F.when(did % 5 == 0, F.lit("noindex")).otherwise(
        F.lit("index,follow")
    )
    html = F.concat(
        F.lit("<html><head><title> Doc "),
        did.cast("string"),
        F.lit(" &amp;\n "),
        F.col("source"),
        F.lit("</title><meta name=\"Description\" content=\"lang="),
        F.col("lang"),
        F.lit(" len="),
        F.col("n_chars").cast("string"),
        F.lit("\"><meta property=\"og:type\" content=\"article\">"),
        F.lit("<meta name=\"robots\" content=\""),
        robots,
        F.lit("\">"),
        link,
        F.lit("</head><body><p>body</p></body></html>"),
    )
    return docs.select(url.alias("url"), F.encode(html, "utf-8").alias("html"))


def q_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T124: HTML <head> metadata extraction (kernel/meta.py via the shared
    linear tokenizer; operators/metadata.py:extract_page_meta) — title
    (entity-unescaped, whitespace-collapsed), meta description/robots
    (name= and property= forms, first-wins, key case-folded), and the
    rel=canonical resolved against the page URL.  One narrow Arrow stage;
    every field hash-proved against a DuckDB replay from doc_id
    arithmetic."""
    from pdf_drawing_ocr_recognition_spark.operators.metadata import (
        extract_page_meta,
    )

    return extract_page_meta(_meta_pages(spark, sf_dir))


def q_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T125: rel=canonical dedup groups (RFC 6596) — pages collapse onto
    their publisher-declared canonical target (odd docs declare their even
    sibling), undeclared pages stand for themselves; one map-side-
    combinable hash agg keyed by the canonical URL.  The declared-intent
    twin of T48's rule-based URL dedup, fed by the REAL head-parsing
    kernel end to end."""
    from pdf_drawing_ocr_recognition_spark.operators.metadata import (
        canonical_groups,
        extract_page_meta,
    )

    return canonical_groups(extract_page_meta(_meta_pages(spark, sf_dir)))


def q_host_mirrors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T122: mirror-site detection (operators/dedup.py:host_mirror_pairs) —
    host pairs by content-SET Jaccard (Bharat & Broder WWW 1999): per-digest
    host lists expanded to unordered pairs in-array (the T3 one-shuffle
    combination shape), Jaccard exact floor-ppm over distinct-content
    counts.  The fetch log synthesizes a full mirror (every even doc) and a
    partial CDN copy (every 4th doc) per source host — identical derivation
    in the oracle (which, below the 100-host digest cap, is exactly the
    relational self-join the in-array expansion replaces)."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import (
        host_mirror_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    primary = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"), "text"
    )
    mirror = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.concat(F.lit("mirror-"), F.col("source"), F.lit(".example.net")).alias(
            "host"
        ),
        "text",
    )
    cdn = docs.filter(F.col("doc_id") % 4 == 0).select(
        F.concat(F.lit("cdn-"), F.col("source"), F.lit(".example.org")).alias(
            "host"
        ),
        "text",
    )
    pages = primary.unionAll(mirror).unionAll(cdn)
    return host_mirror_pairs(pages, "host", "text", min_jaccard_ppm=100000)


def q_recrawl_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T120: recrawl scheduling tiers (operators/cdc.py:recrawl_tiers) —
    Cho & Garcia-Molina refresh policy from two crawl snapshots: per-host
    changed fraction over common keys as exact ppm → daily/weekly/monthly/
    quarterly tier (plus 'new' for hosts with only churn).  Snapshots
    derived exactly as T55's (yesterday drops doc_id%10==0, today drops
    %10==1 and revises every %7==0 body), host from source — identical
    derivation in the oracle.  Rides the T55 digest diff (map-side digests,
    one keyed full-outer join); the host rollup ships only counters."""
    from pdf_drawing_ocr_recognition_spark.operators.cdc import recrawl_tiers

    docs = _t(spark, sf_dir, "documents")
    host = F.concat(F.col("source"), F.lit(".example.com")).alias("host")
    old_snap = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", "text", host
    )
    new_snap = docs.filter(F.col("doc_id") % 10 != 1).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
        host,
    )
    return recrawl_tiers(old_snap, new_snap, "doc_id", ["text"], "host")


def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T121: frequency-of-frequencies table with Good-Turing smoothed
    counts (Gale & Sampson 1995, simple GT): N_r = how many distinct terms
    occur exactly r times, and r* = (r+1)·N_{r+1}/N_r as exact floor-ppm —
    the table behind unseen-mass estimation (P0 = N_1/N) and every
    count-smoothing LM; for a corpus datasheet it is the Zipf-tail health
    check (a natural corpus has a long N_1 tail; a template farm doesn't).
    Two map-side-combinable aggs: term counts (the one vocabulary-sized
    exchange, same contract as T76's vocab build) then the ≤~100-row
    counts-of-counts dim; the r+1 lookup is a self-join on that dim, not a
    window (no single-partition sort)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    )
    tc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("r"))
    fof = tc.groupBy("r").agg(F.count(F.lit(1)).cast("bigint").alias("n_r"))
    nxt = fof.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("_nn"))
    return (
        fof.join(nxt, "r", "left")
        .select(
            "r",
            "n_r",
            F.coalesce(F.col("_nn"), F.lit(0)).cast("bigint").alias("n_r_next"),
            F.floor(
                F.lit(1000000.0)
                * (F.col("r") + 1)
                * F.coalesce(F.col("_nn"), F.lit(0))
                / F.col("n_r")
            ).alias("rstar_ppm"),
        )
    )


def q_url_template_farms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T119: URL-template farm detection (operators/filtering.py:
    url_template_farms) — fetches grouped by (host, structural URL template:
    hex runs ≥8 → <h> first, then digit runs → <n>) with the distinct-content
    ratio per template: many pages + few distinct bodies = a page generator,
    caught at the crawl frontier before more of the farm is fetched.  The
    corpus has no URL column, so a fetch log is derived deterministically
    from (doc_id, source, lang) with two URL grammars (article path with a
    hex session id + page param; year-archive path) — identical derivation
    in the DuckDB oracle (whose regexp_replace carries the 'g' flag Spark
    implies)."""
    from pdf_drawing_ocr_recognition_spark.operators.filtering import (
        url_template_farms,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    host = F.concat(F.col("source"), F.lit(".example.com"))
    sess = F.substring(F.md5(F.encode(did, "utf-8")), 1, 10)
    url = F.concat(
        F.lit("https://"),
        host,
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("/archive/"),
                (F.col("doc_id") % 25 + 2000).cast("string"),
                F.lit("/"),
                did,
            ),
        ).otherwise(
            F.concat(
                F.lit("/"),
                F.col("lang"),
                F.lit("/p/"),
                did,
                F.lit("?sess="),
                sess,
                F.lit("&page="),
                (F.col("doc_id") % 5).cast("string"),
            )
        ),
    )
    fetches = docs.select("text", url.alias("url"))
    return url_template_farms(fetches, min_pages=2)


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T55: corpus snapshot diff (CDC) — classify every key across two crawl
    snapshots as added/removed/changed/unchanged via map-side content digests
    and ONE full-outer join (operators/cdc.py); the daily-crawl sizing step
    that runs before incremental dedup (T44).  Snapshots are derived
    deterministically from `documents`: yesterday drops doc_id%10==0, today
    drops doc_id%10==1 and revises every doc_id%7==0 body — identical
    derivation in the DuckDB oracle."""
    from pdf_drawing_ocr_recognition_spark.operators.cdc import (
        snapshot_diff_summary,
    )

    docs = _t(spark, sf_dir, "documents")
    old_snap = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", "lang", "text"
    )
    new_snap = docs.filter(F.col("doc_id") % 10 != 1).select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_diff_summary(
        old_snap, new_snap, "doc_id", ["text"], group_cols=["lang"]
    )


def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T196 token-budget greedy corpus selection (round 5): every corpus
    release ends with "keep the best B tokens", not "the best N rows"
    (C4/FineWeb/DCLM publish token budgets).  Docs are ranked by an
    exact-integer quality proxy (stopword hits per 1000 words — integer
    `div`, so both engines order identically with doc_id as the
    tiebreaker) and taken best-first while the INCLUSIVE running word
    total stays within a 30%-of-corpus budget (count-derived → selectivity
    is scale-stable).  The naive form is ``SUM(n_words) OVER (ORDER BY
    score DESC, doc_id)`` — ONE task at corpus scale; this rides
    operators/order.py:global_prefix_sums (range-repartition +
    n_partitions driver scalars + one Arrow cumsum pass) and PRUNES every
    range partition whose starting offset already meets the budget, so a
    30% budget scans ~30% of the sorted corpus (operators/mixing.py:
    token_budget_select).  All-integer output; the DuckDB twin replays
    the window form."""
    from pdf_drawing_ocr_recognition_spark.functions.text import (
        LANG_MARKERS,
        _marker_hits,
        word_count,
    )
    from pdf_drawing_ocr_recognition_spark.operators.mixing import (
        token_budget_select,
    )

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    scored = (
        docs.select(
            "doc_id",
            word_count(t).cast("long").alias("n_words"),
            _marker_hits(t, LANG_MARKERS["en"]).alias("hits"),
        )
        .withColumn(
            "score",
            F.when(F.col("n_words") == 0, F.lit(0).cast("long")).otherwise(
                F.expr("(hits * 1000) div n_words")
            ),
        )
        .drop("hits")
    )
    total = scored.agg(F.sum("n_words").alias("s")).collect()[0]["s"]
    budget = (3 * int(total)) // 10
    out = token_budget_select(
        scored,
        [F.col("score").desc(), F.col("doc_id")],
        "n_words",
        budget,
        cum_col="cum_words",
    )
    return out.select("doc_id", "score", "n_words", "cum_words")


def q_snapshot_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T22 Iceberg-analogue time travel: commit the even-doc_id half of
    `documents` as snapshot 1, append the odd half as snapshot 2, then read
    **snapshot 1 after snapshot 2 landed** (``VERSION AS OF`` on the
    manifest-listed immutable-file table, sources/snapshots.py).  The DuckDB
    twin is simply the even half — a hash match proves the historical read
    returns exactly the pre-append state, byte-for-byte, from the table's
    own commit log."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        read_snapshot,
    )

    docs = _t(spark, sf_dir, "documents")
    root = f"/tmp/pdor_spark_snaptable_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 2
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        append_snapshot(docs.filter(F.col("doc_id") % 2 == 0), root)
        append_snapshot(docs.filter(F.col("doc_id") % 2 == 1), root)
    return read_snapshot(spark, root, snapshot_id=1).select(
        "doc_id", "lang", "n_chars"
    )


def q_snapshot_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T22 manifest-level file pruning (round 5 — the one Iceberg property
    the snapshot analogue still lacked): commit the even-doc_id half
    range-partitioned into 8 files as snapshot 1 (per-file doc_id min/max
    bounds land in the manifest from the parquet footers — no extra data
    pass), append the odd half as snapshot 2, then read **VERSION AS OF 1
    with a doc_id >= ceil(0.7·n) predicate**: plan_scan drops every file
    whose bounds prove the predicate false using ONLY manifest JSON (at
    10⁶ files on object storage that's one JSON read vs 10⁶ footer GETs),
    and the same predicate re-applies row-wise so pruning can change cost,
    never values.  The threshold derives from a corpus count (the T155
    absolute-size discipline) so the selectivity is scale-stable.  A
    pytest (tests/test_snapshots.py::TestManifestStats) asserts files are
    actually skipped; the DuckDB twin replays the even-half + threshold
    slice."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        read_snapshot,
    )

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    thr = (7 * n_docs) // 10
    root = f"/tmp/pdor_spark_prunetable_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 2
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        append_snapshot(
            docs.filter(F.col("doc_id") % 2 == 0).repartitionByRange(
                8, "doc_id"
            ),
            root,
        )
        append_snapshot(docs.filter(F.col("doc_id") % 2 == 1), root)
    return read_snapshot(
        spark, root, snapshot_id=1, filters=[("doc_id", ">=", thr)]
    ).select("doc_id", "lang", "n_chars")


def q_hidden_partition_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T195 hidden partitioning (Iceberg partition transforms, round 5):
    commit `documents` under the spec ``[identity(lang),
    truncate[span/8](doc_id)]`` — partition tuples are DERIVED at write
    time (the user never materializes a partition column; Iceberg's
    "hidden" property), recorded per file self-described with the spec,
    and pruned at plan time from manifest JSON alone
    (sources/snapshots.py:_partition_prunes).  The read applies
    ``lang == 'en' AND doc_id < lo + 0.6·span``: identity-pruning drops
    every non-en partition, truncate-pruning drops the upper doc_id bins,
    and the same predicate re-applies row-wise, so pruning changes cost,
    never values (prune≡filter is also pytest-pinned with per-transform
    unit cases in tests/test_hidden_partitioning.py).  Thresholds derive
    from the doc_id VALUE range so selectivity is scale-stable.  DuckDB
    twin: the plain filtered select with the same span arithmetic."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        read_snapshot,
    )

    docs = _t(spark, sf_dir, "documents")
    rng = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    lo, hi = int(rng["lo"]), int(rng["hi"])
    span = hi - lo
    width = max(1, span // 8)
    cut = lo + (6 * span) // 10
    spec = [
        {"source": "lang", "transform": "identity"},
        {"source": "doc_id", "transform": f"truncate[{width}]"},
    ]
    root = f"/tmp/pdor_spark_hptable_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 1
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        append_snapshot(docs, root, partition_spec=spec)
    return read_snapshot(
        spark,
        root,
        snapshot_id=1,
        filters=[("lang", "==", "en"), ("doc_id", "<", cut)],
    ).select("doc_id", "lang", "n_chars")


def q_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T197 schema evolution with field-id column mapping (round 5): build
    a snapshot table through the FULL evolution gauntlet — append the even
    docs as (doc_id, flag int, score int, lang), then three metadata-only
    commits (rename lang→language + widen score int→long; drop flag;
    re-add flag int + add tokens long), then append the odd docs already
    at the evolved shape — and read the final table.  A hash match proves
    all four resolutions at once: the renamed column resolves in pre-rename
    files BY FIELD ID (not name), the widened column casts int files up to
    long, the re-added flag reads NULL for even docs although their data
    files physically CONTAIN the dropped flag values (no-resurrection — a
    by-name reader would leak 0/1 back), and the added tokens is NULL
    exactly on pre-evolution rows.  No data file is rewritten at any step
    (sources/snapshots.py:evolve_schema is metadata-only; pytest pins the
    file list).  DuckDB twin: the two-branch union with NULLs on the even
    branch."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        evolve_schema,
        read_snapshot,
    )

    docs = _t(spark, sf_dir, "documents")
    root = f"/tmp/pdor_spark_evotable_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 5
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        even = docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id",
            (F.col("doc_id") % 5).cast("int").alias("flag"),
            F.col("n_chars").cast("int").alias("score"),
            "lang",
        )
        append_snapshot(even.repartition(4), root)  # snap 1
        evolve_schema(
            root, rename={"lang": "language"}, widen={"score": "long"}
        )  # snap 2
        evolve_schema(root, drop=["flag"])  # snap 3
        evolve_schema(
            root, add=[("flag", "int"), ("tokens", "long")]
        )  # snap 4
        odd = docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id",
            F.col("n_chars").cast("long").alias("score"),
            F.col("lang").alias("language"),
            (F.col("doc_id") % 7).cast("int").alias("flag"),
            (F.col("n_chars") * 2).cast("long").alias("tokens"),
        )
        append_snapshot(odd.repartition(4), root)  # snap 5
    return read_snapshot(spark, root).select(
        "doc_id", "score", "language", "flag", "tokens"
    )


def q_snapshot_metadata_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T198 metadata tables (Iceberg's inspection surface, round 5): build
    a three-commit table — append the even docs, append the odd docs, one
    metadata-only alter — and read its ``snapshots`` METADATA table
    (sources/metadata_tables.py): per-commit operation, added_rows, and
    total_data_rows (the running sum of per-file record counts, which the
    manifests now carry Iceberg-style — harvested from the same parquet
    footer read as the column bounds, inherited by name, never re-read).
    Everything comes from manifest JSON alone: no data file is opened to
    answer this query at ANY table size (the 10⁶-file property).  The
    DuckDB twin replays the three commit counters from doc_id parity.
    added_files/timestamps are excluded (shuffle- and clock-dependent);
    they are pytest-pinned instead (tests/test_metadata_consumers.py)."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.metadata_tables import (
        metadata_snapshots,
    )
    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        evolve_schema,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    root = f"/tmp/pdor_spark_metatable_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 3
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        append_snapshot(docs.filter(F.col("doc_id") % 2 == 0), root)
        append_snapshot(docs.filter(F.col("doc_id") % 2 == 1), root)
        evolve_schema(root, add=[("quality", "double")])
    return metadata_snapshots(spark, root).select(
        "snapshot_id", "operation", "added_rows", "total_data_rows"
    )


def q_consumer_tail_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T199 consumer-group offsets (tail-the-table, round 5): a named
    consumer bootstraps on a one-append table (acking snapshot 1 = the
    even docs), then two more appends land (odd docs split at the doc_id
    midpoint) and an alter-schema commit; the consumer's next_appends
    returns EXACTLY the rows of snapshots 2-3 — planned from manifest JSON
    (the delta scan reads only the added files), projected onto the
    current logical schema, offset untouched until ack (at-least-once; the
    query calls next_appends twice and returns the SECOND result to prove
    the unacked replay is byte-identical).  DuckDB twin: the odd docs."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.consumer_offsets import (
        ack,
        next_appends,
    )
    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        evolve_schema,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    rng = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    mid = (int(rng["lo"]) + int(rng["hi"])) // 2
    root = f"/tmp/pdor_spark_tailtable_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 4
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        odd = docs.filter(F.col("doc_id") % 2 == 1)
        append_snapshot(docs.filter(F.col("doc_id") % 2 == 0), root)
        _f, to_id, _df = next_appends(spark, root, "tailer")
        ack(root, "tailer", to_id)  # bootstrap consumed the even docs
        append_snapshot(odd.filter(F.col("doc_id") <= mid), root)
        append_snapshot(odd.filter(F.col("doc_id") > mid), root)
        evolve_schema(root, add=[("quality", "double")])
    first = next_appends(spark, root, "tailer")
    assert first is not None and first[0] == 1 and first[1] == 4
    _from_id, _to_id, delta = next_appends(spark, root, "tailer")
    return delta.select("doc_id", "lang", "n_chars")


def q_bucket_local_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T200 storage-partitioned join (round 5): `documents` and the
    embeddings labels, BOTH committed under `bucket[8](doc_id)` hidden
    partitioning, joined bucket-locally (operators/spj.py) — planning is
    manifest JSON (bucket → file lists per side), execution is ONE narrow
    Arrow stage over the 8 bucket pairs, and NO table data crosses a
    shuffle: the only exchange in the plan moves 8 task-descriptor rows
    (pytest asserts no SortMergeJoin/BroadcastHashJoin/FileScan in the
    executed plan).  This is the join strategy bucket-partitioned Iceberg
    tables buy at 100 TB — the fact-fact join whose shuffle would dominate
    the cluster runs shuffle-free because co-location was established at
    write time.  DuckDB twin: the plain inner join on doc_id = vec_id."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.operators.spj import (
        bucket_local_join,
    )
    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
    )

    spec = [{"source": "doc_id", "transform": "bucket[8]"}]
    base = os.path.basename(os.path.normpath(sf_dir))
    ra = f"/tmp/pdor_spark_spjdocs_{base}"
    rb = f"/tmp/pdor_spark_spjlabels_{base}"
    try:
        ok = (
            current_snapshot_id(ra) == 1 and current_snapshot_id(rb) == 1
        )
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(ra, ignore_errors=True)
        shutil.rmtree(rb, ignore_errors=True)
        append_snapshot(
            _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars"),
            ra,
            partition_spec=spec,
        )
        append_snapshot(
            _t(spark, sf_dir, "embeddings").select(
                F.col("vec_id").alias("doc_id"), "label"
            ),
            rb,
            partition_spec=spec,
        )
    return bucket_local_join(spark, ra, rb, "doc_id").select(
        "doc_id", "lang", "n_chars", "label"
    )


def q_snapshot_rollback_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T201 rollback (round 5): append the even docs (snap 1), append the
    odd docs (snap 2), ROLL BACK to snap 1 (snap 3 — a metadata-only
    commit whose lineage parent is the target, abandoning snap 2 without
    touching a file), then append the doc_id%4==1 slice (snap 4).  The
    current read must show evens ∪ (%4==1): the rolled-back odd rows are
    gone from the line, the post-rollback append lands on the restored
    state, and snap 2 stays time-travelable until expiry
    (metadata_history flags it is_current_ancestor=False —
    tests/test_rollback_compaction.py).  DuckDB twin: the parity union."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        rollback_to,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    root = f"/tmp/pdor_spark_rbtable_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 4
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        append_snapshot(docs.filter(F.col("doc_id") % 2 == 0), root)
        append_snapshot(docs.filter(F.col("doc_id") % 2 == 1), root)
        rollback_to(root, 1)
        append_snapshot(docs.filter(F.col("doc_id") % 4 == 1), root)
    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        read_snapshot,
    )

    return read_snapshot(spark, root).select("doc_id", "lang", "n_chars")


def q_partial_compaction_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T202 binpack partial compaction (round 5): one large append (the
    doc_id%3>0 docs, single file) plus four small appends (the %3==0 docs
    split by %12), then a MOR delete of the bottom doc_id decile, then
    `rewrite_small_files` — which reads ONLY the small/masked input files
    (manifest byte sizes, one JSON read), applies + purges the delete
    masks, and rewrites into target-sized files while a right-sized file
    would be carried by name (that partial behavior is pytest-pinned with
    an unmasked big file; here the delete masks it, so everything
    legitimately compacts).  A hash match pins value identity THROUGH the
    mask purge: lost or double-applied masks would change rows.  DuckDB
    twin: documents above the delete cut."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        delete_from,
        read_snapshot,
        rewrite_small_files,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    rng = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    cut = int(rng["lo"]) + (int(rng["hi"]) - int(rng["lo"])) // 10
    root = f"/tmp/pdor_spark_pctable_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 7
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        append_snapshot(
            docs.filter(F.col("doc_id") % 3 > 0).coalesce(1), root
        )
        for r in (0, 3, 6, 9):
            append_snapshot(
                docs.filter(F.col("doc_id") % 12 == r).coalesce(1), root
            )
        delete_from(spark, root, [("doc_id", "<", cut)])
        rewrite_small_files(
            spark, root, target_bytes=1 << 26, min_input_files=1
        )
    return read_snapshot(spark, root).select("doc_id", "lang", "n_chars")


def q_streaming_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T203 exactly-once streaming UPSERT sink (round 5): two CDC-style
    micro-batches drive `snapshot_upsert_batch` (the same body
    foreachBatch runs) — batch 0 inserts every doc with val = n_chars,
    batch 1 upserts the doc_id%3==0 third with val = n_chars·10 AND is
    replayed once (the crash-between-table-commit-and-checkpoint case:
    the in-manifest (stream_id, batch_id) guard must skip it, or the
    replay would re-merge and the file-granular MERGE would rewrite files
    twice).  The final state is one MERGE's worth of updates over the
    bootstrap append; a hash match pins upsert semantics + replay
    idempotence in values.  DuckDB twin: CASE on doc_id%3."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        current_snapshot_id,
        read_snapshot,
    )
    from pdf_drawing_ocr_recognition_spark.streaming.snapshot_sink import (
        snapshot_upsert_batch,
    )

    docs = _t(spark, sf_dir, "documents")
    root = f"/tmp/pdor_spark_upserttable_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 2
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        b0 = docs.select(
            "doc_id", "lang", F.col("n_chars").alias("val")
        )
        b1 = docs.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id", "lang", (F.col("n_chars") * 10).alias("val")
        )
        assert snapshot_upsert_batch(b0, 0, root, "doc_id", "cdc") == 1
        assert snapshot_upsert_batch(b1, 1, root, "doc_id", "cdc") == 2
        # replay after a crash between table commit and checkpoint commit
        assert snapshot_upsert_batch(b1, 1, root, "doc_id", "cdc") is None
    return read_snapshot(spark, root).select("doc_id", "lang", "val")


def q_delete_mask_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T204 position-delete compaction (round 5): three overlapping MOR
    DELETEs stack up to three masks on the low-range files (the
    <10%·span and <20%·span cuts overlap — union semantics), then
    `rewrite_position_deletes` merges every multi-mask data file's masks
    into ONE sorted-unique delete file WITHOUT touching any data file
    (pytest pins the file list by name).  The read after compaction must
    be byte-identical to before — a hash match pins mask-union
    correctness through the rewrite.  DuckDB twin: the middle slice
    [20%, 90%) of the doc_id value range."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        delete_from,
        read_snapshot,
        rewrite_position_deletes,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    rng = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    lo, span = int(rng["lo"]), int(rng["hi"]) - int(rng["lo"])
    root = f"/tmp/pdor_spark_delcmp_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 5
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        append_snapshot(docs.repartitionByRange(4, "doc_id"), root)
        delete_from(spark, root, [("doc_id", "<", lo + span // 10)])
        delete_from(spark, root, [("doc_id", ">=", lo + (9 * span) // 10)])
        delete_from(spark, root, [("doc_id", "<", lo + (2 * span) // 10)])
        rewrite_position_deletes(spark, root)
    return read_snapshot(spark, root).select("doc_id", "lang", "n_chars")


def q_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T205 exact distributed ROC-AUC (round 5): the release-gate number
    for a quality classifier, as an EXACT rational — planted label
    (doc_id%7<2) and integer score ((doc_id·37)%1000 + 100·label, so the
    classes overlap but separate).  Midrank tie handling equals
    scikit-learn's roc_auc_score; the distributed shape is one map-
    combinable score histogram + T196's global_prefix_sums over it (NO
    single-task `SUM() OVER (ORDER BY score)` window — the histogram
    cumulative distributes at any distinct-score cardinality) + a 1-row
    final agg.  All-integer output, so the hash pins the statistic to the
    bit.  DuckDB twin replays the midrank identity with a window over the
    histogram."""
    from pdf_drawing_ocr_recognition_spark.operators.evals import exact_auc

    docs = _t(spark, sf_dir, "documents").select(
        ((F.col("doc_id") * 37) % 1000
         + F.when(F.col("doc_id") % 7 < 2, 100).otherwise(0)
         ).cast("long").alias("score"),
        F.when(F.col("doc_id") % 7 < 2, 1).otherwise(0).alias("y"),
    )
    return exact_auc(docs, "score", "y")


def q_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T205 reliability (calibration) table (round 5): the same planted
    classifier binned at width 100 — per bin (n, n_pos, sum_score), all
    exact integers; the caller derives accuracy/confidence/ECE at report
    time.  One map-combinable aggregation, no window."""
    from pdf_drawing_ocr_recognition_spark.operators.evals import (
        reliability_table,
    )

    docs = _t(spark, sf_dir, "documents").select(
        ((F.col("doc_id") * 37) % 1000
         + F.when(F.col("doc_id") % 7 < 2, 100).otherwise(0)
         ).cast("long").alias("score"),
        F.when(F.col("doc_id") % 7 < 2, 1).otherwise(0).alias("y"),
    )
    return reliability_table(docs, "score", "y", 100)


def q_merge_when_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T206 MERGE WHEN clauses + TIMESTAMP AS OF (round 5): the table
    holds the EVEN docs; the source carries every doc_id%4<2 doc with
    val = n_chars·10; `merge_into(when_matched="delete",
    when_not_matched="insert")` then (a) DELETES the matched evens
    (doc_id%4==0 — their source rows are discarded too) and (b) INSERTS
    the unmatched odds (doc_id%4==1, at source values), leaving the
    %4==2 evens untouched at original values.  Source classification
    joins only against the AFFECTED files' keys (bounded by the rewritten
    slice); file granularity is pytest-pinned.  DuckDB twin: the CASE
    union over doc_id%4 ∈ {1, 2}."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        merge_into,
        read_snapshot,
    )

    docs = _t(spark, sf_dir, "documents")
    root = f"/tmp/pdor_spark_mwctable_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 2
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        append_snapshot(
            docs.filter(F.col("doc_id") % 2 == 0)
            .select("doc_id", "lang", F.col("n_chars").alias("val"))
            .repartition(4),
            root,
        )
        src = docs.filter(F.col("doc_id") % 4 < 2).select(
            "doc_id", "lang", (F.col("n_chars") * 10).alias("val")
        )
        merge_into(
            spark, root, src, "doc_id",
            when_matched="delete", when_not_matched="insert",
        )
    return read_snapshot(spark, root).select("doc_id", "lang", "val")


def q_bloom_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T207 per-file bloom filters (round 5): documents committed with a
    synthetic url key hash-distributed over 8 files — every file spans the
    full url range, so manifest min/max bounds prune NOTHING for a point
    lookup (the 10⁶-file problem: finding one url scans the table).
    `compute_file_blooms` (one executor task per file, Puffin-style
    blm-*.bin sidecars, field-id keyed) then lets plan_scan answer
    "might this file contain v?" in O(k) bit probes: the lookup keeps ~1
    of 8 files (pytest pins the skip counts; no false negatives, so
    pruning stays provable-only and the row-wise re-filter guarantees
    prune≡filter).  The query returns the min-doc_id row by URL equality
    — a hash match proves lookup correctness THROUGH the bloom path.
    DuckDB twin: the same point lookup without any bloom."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.file_blooms import (
        compute_file_blooms,
    )
    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        read_snapshot,
    )

    docs = _t(spark, sf_dir, "documents")
    lo = docs.agg(F.min("doc_id").alias("lo")).collect()[0]["lo"]
    root = f"/tmp/pdor_spark_bloomtable_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 2
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        append_snapshot(
            docs.select(
                "doc_id",
                "lang",
                "n_chars",
                F.concat(F.lit("https://ex.org/"), F.col("doc_id")).alias(
                    "url"
                ),
            ).repartition(8),
            root,
        )
        compute_file_blooms(spark, root, "url", fp_rate=0.01)
    return read_snapshot(
        spark, root, filters=[("url", "==", f"https://ex.org/{int(lo)}")]
    ).select("doc_id", "lang", "n_chars", "url")


def q_snapshot_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T173 Iceberg v2 merge-on-read DELETE (round 5 closing): commit
    `documents` range-partitioned into 8 files, then TWO position-delete
    commits — doc_id >= lo+0.9·span and doc_id < lo+0.1·span, thresholds
    derived from the doc_id VALUE range (count-derived cuts can land in a
    gap on the non-dense sf1/sf10 derived tables and delete nothing).  Each DELETE writes
    parquet position-delete files (manifest-pruned planning touches only
    the files whose bounds admit matches — here ~1 of 8 each); data files
    are NEVER rewritten (pytest pins the file list by name).  The final
    read unions the vectorized parquet path (6 clean files) with the Arrow
    merge-read path (2 masked files), so a hash match proves mask
    application, clean/dirty composition, AND delete accumulation across
    commits in one result.  DuckDB twin: the middle doc_id slice."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        delete_from,
        read_snapshot,
    )

    docs = _t(spark, sf_dir, "documents")
    # thresholds from the VALUE range, not the row count: doc_id need not
    # be dense (the sf1/sf10 derived tables are shifted copies with gaps),
    # and a count-derived cut can land in a gap and delete nothing
    rng = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    span = int(rng["hi"]) - int(rng["lo"])
    thr_hi = int(rng["lo"]) + (9 * span) // 10
    thr_lo = int(rng["lo"]) + span // 10
    root = f"/tmp/pdor_spark_mortable2_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 3
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        append_snapshot(
            docs.select("doc_id", "lang", "n_chars").repartitionByRange(
                8, "doc_id"
            ),
            root,
        )
        delete_from(spark, root, [("doc_id", ">=", thr_hi)])
        delete_from(spark, root, [("doc_id", "<", thr_lo)])
    return read_snapshot(spark, root).select("doc_id", "lang", "n_chars")


def q_eq_delete_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T208 Iceberg v2 equality deletes + one-commit upsert (round 5,
    fourth sitting): commit `documents`, then (2) an EQUALITY DELETE of
    the doc_id % 10 == 3 keys — O(keys) commit, only ``eqdel-*.parquet``
    key files written, NO data file scanned or rewritten at delete time
    (the anti-join is deferred to read, pytest pins the file list) — then
    (3) a Flink-style UPSERT of new versions of the doc_id % 10 == 7 rows
    (n_chars + 1,000,000) as ONE commit whose equality-delete half and
    data files share a sequence number, and (4) a plain re-append of
    doc_id % 100 == 3 rows (n_chars + 5,000,000).  The final read proves
    all three v2 semantics at once: the %10==3 originals are gone, the
    %10==7 rows show exactly the upserted version (old hidden, new
    visible — strict seq< scoping within one commit), and the re-appended
    %100==3 rows survive BOTH earlier delete entries because their files
    are newer (Iceberg's data_sequence_number rule).  The DuckDB twin is
    the three-branch union."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        delete_where_eq,
        read_snapshot,
        upsert_eq,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    root = f"/tmp/pdor_spark_eqtable_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 4
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        append_snapshot(docs.repartitionByRange(8, "doc_id"), root)
        delete_where_eq(
            spark, root,
            docs.filter(F.col("doc_id") % 10 == 3).select("doc_id"),
        )
        upsert_eq(
            spark, root,
            docs.filter(F.col("doc_id") % 10 == 7).withColumn(
                "n_chars", F.col("n_chars") + F.lit(1000000)
            ),
            ["doc_id"],
        )
        append_snapshot(
            docs.filter(F.col("doc_id") % 100 == 3).withColumn(
                "n_chars", F.col("n_chars") + F.lit(5000000)
            ),
            root,
        )
    return read_snapshot(spark, root).select("doc_id", "lang", "n_chars")


def q_changelog_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T210 row-level changelog (round 5, fourth sitting): Iceberg's
    ``create_changelog_view`` over the T208 table — the same four commits
    as `eq_delete_upsert` (append → equality-delete %10==3 → upsert
    %10==7 → re-append %100==3), read back as the CHANGES each commit
    made, derived from manifest metadata (added files → inserts, new eq
    entries → parent-visible key matches as deletes) rather than diffing
    table states.  A hash match proves the per-commit derivation for all
    three commit kinds at once: snap 1 inserts every doc, snap 2 deletes
    exactly the %10==3 originals, snap 3 emits delete-old + insert-new
    pairs for %10==7 under ONE commit id, snap 4 inserts the %100==3
    re-adds.  The DuckDB twin is the five-branch union.  (The replay
    invariant — folding these changes from empty reproduces the final
    table — is pytest-pinned in tests/test_changelog.py.)"""
    from pdf_drawing_ocr_recognition_spark.sources.changelog import (
        read_changelog,
    )

    # the table q_eq_delete_upsert builds (shared cache root — same four
    # commits; build here if this query runs first)
    q_eq_delete_upsert(spark, sf_dir)
    root = f"/tmp/pdor_spark_eqtable_{os.path.basename(os.path.normpath(sf_dir))}"
    return read_changelog(spark, root, 0).select(
        "doc_id", "lang", "n_chars",
        F.col("_change_type").alias("change_type"),
        F.col("_commit_snapshot_id").alias("commit_id"),
    )


def q_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T211 Spark Python DataSource integration (round 5, fifth sitting):
    the snapshot lakehouse behind ``spark.read.format("pdor_snapshot")``
    (sources/spark_datasource.py) — Catalyst drives OUR planner through
    Spark's own source API.  The table is built by the format's
    DISTRIBUTED WRITE (``df.write.format(...)``: executor tasks stage one
    parquet file each, the driver commit harvests footers and lands one
    manifest with full per-file bounds/rows/sizes), then gauntleted with
    a merge-on-read position delete (doc_id below ~n/10), an equality
    delete (doc_id % 10 == 4 keys), and a rename (n_chars→chars).  The
    read is plain DataFrame code: ``.load(root).filter(doc_id < thr)`` —
    the filter reaches ``pushFilters`` (manifest min/max pruning on the
    range-partitioned files at PLAN time, provable-only: every filter is
    handed back for row-wise re-application), deletes apply executor-side
    per self-described file task, and the rename resolves by field id.
    A hash match proves write-path metadata, plan-time pruning, both
    delete kinds, and id-based projection compose end-to-end behind
    Spark's format API.  DuckDB twin: the three-predicate slice."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        current_snapshot_id,
        delete_from,
        delete_where_eq,
        evolve_schema,
    )
    from pdf_drawing_ocr_recognition_spark.sources.spark_datasource import (
        register,
    )

    register(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    # value-range thresholds (not counts): doc_id is non-dense on the
    # derived sf1/sf10 tables, so the cut must come from the value span
    # for the slice to stay load-bearing at every scale
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    span = hi - lo + 1
    thr_low, thr_hi = lo + span // 10, lo + (8 * span) // 10
    root = f"/tmp/pdor_spark_dstable_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 4
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        docs.repartitionByRange(8, "doc_id").write.format(
            "pdor_snapshot"
        ).mode("append").save(root)
        delete_from(spark, root, [("doc_id", "<", thr_low)])
        delete_where_eq(
            spark, root,
            docs.filter(F.col("doc_id") % 10 == 4).select("doc_id"),
        )
        evolve_schema(root, rename={"n_chars": "chars"})
    return (
        spark.read.format("pdor_snapshot")
        .load(root)
        .filter(F.col("doc_id") < thr_hi)
        .select("doc_id", "lang", "chars")
    )


def q_ivm_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T212 incremental view maintenance (round 5, fifth sitting): the
    per-lang corpus rollup (count + exact-integer char sum + min/max) is
    maintained INCREMENTALLY from the T210 changelog — never recomputed
    — across a four-commit history: (1) append `documents`, (2) MOR
    position-delete of the low ~10% doc_id span, (3) equality-delete
    UPSERT of new versions of the %10==7 rows (+1,000,000 chars — note
    this resurrects upserted keys the position delete had removed, a
    sequencing subtlety the fold must track), (4) re-append of %100==3
    rows (+5,000,000).  After each commit the view folds only that
    commit's changes: count/sum are self-maintainable (±1/±x per change,
    Gupta & Mumick 1995), min/max recompute ONLY the groups the delta
    touched (commit 2 kills minima, commits 3-4 move maxima — both
    recompute paths load-bearing).  A hash match proves
    fold(changelog) ≡ direct groupBy over the final state.  DuckDB twin:
    the three-branch final-state union, aggregated."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.operators.ivm import (
        maintain_agg,
        view_snapshot_id,
    )
    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        delete_from,
        upsert_eq,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    thr = lo + (hi - lo + 1) // 10
    base = os.path.basename(os.path.normpath(sf_dir))
    root = f"/tmp/pdor_spark_ivmtable_{base}"
    view = f"/tmp/pdor_spark_ivmview_{base}"
    aggs = {
        "n_docs": ("count",),
        "sum_chars": ("sum", "n_chars"),
        "min_chars": ("min", "n_chars"),
        "max_chars": ("max", "n_chars"),
    }
    try:
        ok = current_snapshot_id(root) == 4 and view_snapshot_id(view) == 4
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(view, ignore_errors=True)
        append_snapshot(docs.repartitionByRange(8, "doc_id"), root)
        maintain_agg(spark, root, view, ["lang"], aggs)  # bootstrap
        delete_from(spark, root, [("doc_id", "<", thr)])
        maintain_agg(spark, root, view, ["lang"], aggs)  # fold commit 2
        upsert_eq(
            spark, root,
            docs.filter(F.col("doc_id") % 10 == 7).withColumn(
                "n_chars", F.col("n_chars") + F.lit(1000000)
            ),
            ["doc_id"],
        )
        maintain_agg(spark, root, view, ["lang"], aggs)  # fold commit 3
        append_snapshot(
            docs.filter(F.col("doc_id") % 100 == 3).withColumn(
                "n_chars", F.col("n_chars") + F.lit(5000000)
            ),
            root,
        )
    return maintain_agg(spark, root, view, ["lang"], aggs)  # fold commit 4


def q_runtime_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T213 runtime-filter / DPP-analogue join (round 5, fifth sitting):
    the fact-side `documents` snapshot table is written under a
    ``bucket[16](doc_id)`` hidden-partition spec and bloom-indexed on
    doc_id (T207 compute-stats commit); the dim side is the small
    doc_id % 97 == 0 slice.  ``join_pruned`` collects the dim keys
    (loud 65,536 cap — never silent truncation) and hands them to
    plan_scan as ONE ``("doc_id", "in", keys)`` conjunct, so every
    manifest prover prunes per key — bucket tuples and bloom sidecars
    both load-bearing here where min/max bounds alone cannot prune a
    hash-distributed key — and the kept files re-filter row-wise
    (provable-only: result ≡ the plain broadcast join, which is exactly
    what the DuckDB twin computes).  This is Spark's dynamic-partition-
    pruning shape reaching the engine's Python planner, where JVM
    runtime filters cannot."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.operators.runtime_filter import (
        join_pruned,
    )
    from pdf_drawing_ocr_recognition_spark.sources.file_blooms import (
        compute_file_blooms,
    )
    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = os.path.basename(os.path.normpath(sf_dir))
    root = f"/tmp/pdor_spark_rftable_{base}"
    try:
        ok = current_snapshot_id(root) == 2
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        append_snapshot(
            docs, root,
            partition_spec=[{"source": "doc_id", "transform": "bucket[16]"}],
        )
        compute_file_blooms(spark, root, "doc_id")
    dim = docs.filter(F.col("doc_id") % 97 == 0).select(
        "doc_id", (F.col("doc_id") % 7).alias("dim_tag")
    )
    return join_pruned(spark, root, dim, "doc_id").select(
        "doc_id", "lang", "n_chars", "dim_tag"
    )


def q_snapshot_fast_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T214 metadata-only COUNT(*) (round 5, fifth sitting): Iceberg's
    manifest count — the commonest interactive query against a 10⁶-file
    table answered WITHOUT scanning a data file.  History: (1) append
    the even-doc_id half range-partitioned 8 ways, (2) MOR
    position-delete of the low ~10% span (masks, not rewrites), (3)
    append the odd half.  ``fast_count`` sums the manifest's per-file
    record_counts (harvested once at write) and subtracts the masked
    positions exactly as the scan would (stacked masks deduplicate —
    pytest-pinned), equaling ``read_snapshot().count()`` by contract;
    equality-delete-affected files would take a bounded hybrid read
    (pytest covers it; this table has none, so the count is pure
    metadata — also pytest-pinned via a poisoned read path).  DuckDB
    twin: the two-branch predicate count."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        delete_from,
        fast_count,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    thr = lo + (hi - lo + 1) // 10
    base = os.path.basename(os.path.normpath(sf_dir))
    root = f"/tmp/pdor_spark_rcnttable_{base}"
    try:
        ok = current_snapshot_id(root) == 3
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        append_snapshot(
            docs.filter(F.col("doc_id") % 2 == 0).repartitionByRange(
                8, "doc_id"
            ),
            root,
        )
        delete_from(spark, root, [("doc_id", "<", thr)])
        append_snapshot(docs.filter(F.col("doc_id") % 2 == 1), root)
    n = fast_count(spark, root)
    return spark.createDataFrame([(n,)], "n_rows long")


def q_cdc_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T216 CDC-maintained dedup index (round 5, fifth sitting): the
    T44 incremental-dedup index FOLLOWS the corpus table, maintained
    from the T210 changelog and stored as the engine's own snapshot
    tables — inserts hash O(changes) rows into append commits, corpus
    deletions become ONE equality-delete commit on doc_id (O(keys), no
    index file rewritten — pytest pins the file-list superset), an
    upsert's delete entry and insert append order correctly under the
    strict seq< rule, and the maintained_to watermark rides each append
    manifest so crash recovery is per-relation idempotent.  History
    here: append `documents` → eq-delete %10==3 → upsert %10==7 with
    revised text, folding after each commit.  The query returns the
    DIGEST relation; a hash match against DuckDB's md5 over the
    final-state union proves fold ≡ rebuild (the band relation's same
    invariant is pytest-pinned multiset-exactly)."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.operators.cdc_dedup import (
        _maintained_to,
        maintain_dedup_index,
    )
    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        delete_where_eq,
        upsert_eq,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = os.path.basename(os.path.normpath(sf_dir))
    root = f"/tmp/pdor_spark_cdcdeduptable_{base}"
    index = f"/tmp/pdor_spark_cdcdedupindex_{base}"
    try:
        ok = (
            current_snapshot_id(root) == 3
            and _maintained_to(f"{index}/digests") == 3
            and _maintained_to(f"{index}/bands") == 3
        )
    except Exception:
        ok = False
    if not ok:
        for p in (root, index):
            shutil.rmtree(p, ignore_errors=True)
        append_snapshot(docs.repartitionByRange(8, "doc_id"), root)
        maintain_dedup_index(spark, root, index)
        delete_where_eq(
            spark, root,
            docs.filter(F.col("doc_id") % 10 == 3).select("doc_id"),
        )
        maintain_dedup_index(spark, root, index)
        upsert_eq(
            spark, root,
            docs.filter(F.col("doc_id") % 10 == 7).withColumn(
                "text", F.concat(F.col("text"), F.lit(" revised"))
            ),
            ["doc_id"],
        )
    dig, _bands = maintain_dedup_index(spark, root, index)
    return dig.select("doc_id", "digest")


def q_analyze_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T218 ANALYZE TABLE (round 5, fifth sitting): Iceberg-style
    statistics commits — one aggregation pass over the current snapshot
    lands per-column (n_nulls, ndv, min, max) in a metadata-only
    ``compute-stats`` commit; `table_stats` reads them back from
    manifest JSON with a staleness report.  The table here carries a
    merge-on-read position delete, so the stats provably describe the
    VISIBLE rows (the masked low span moves every min).  The gate runs
    EXACT ndv mode — production runs Spark's native HyperLogLog++
    (approx_count_distinct, the only honest NDV at 10¹² rows; the flag
    is the documented trade, pytest covers the approx path).  DuckDB
    twin: per-column count/distinct/min/max over the equivalent slice,
    min/max as strings so heterogeneous column types share one result
    schema."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        delete_from,
        read_manifest,
    )
    from pdf_drawing_ocr_recognition_spark.sources.table_stats import (
        analyze_table,
        table_stats,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    thr = lo + (hi - lo + 1) // 10
    base = os.path.basename(os.path.normpath(sf_dir))
    root = f"/tmp/pdor_spark_statstable_{base}"
    try:
        sid = current_snapshot_id(root)
        ok = (
            sid == 3
            and read_manifest(root, 3)["operation"] == "compute-stats"
        )
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        append_snapshot(docs.repartitionByRange(8, "doc_id"), root)
        delete_from(spark, root, [("doc_id", "<", thr)])
        analyze_table(spark, root, exact=True)
    st = table_stats(root)["columns"]
    rows = [
        (c, st[c]["n_nulls"], st[c]["ndv"], str(st[c]["min"]),
         str(st[c]["max"]))
        for c in ("doc_id", "lang", "n_chars")
    ]
    return spark.createDataFrame(
        rows, "col string, n_nulls long, ndv long, min_str string, "
        "max_str string"
    )


def q_auto_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T219 metadata-driven join planning (round 5, fifth sitting): the
    CBO-lite decision layer over the lakehouse — `auto_join` picks
    spj / broadcast / runtime-filter / shuffle from MANIFEST JSON alone
    (byte totals, row counts, T218 ANALYZE ndv, bucket specs, bloom
    sidecars) and executes it; strategies change cost, never values.
    Here the fact side is the T213 table (bucket[16](doc_id) + bloom
    sidecars) and the dim side is a snapshot table of the %97 slice; a
    1-byte broadcast budget forces the decision past broadcast, so the
    planner must find the runtime-filter path via the fact side's
    pruning power — the hash match proves the WHOLE planned execution
    equals the plain join (the DuckDB twin).  Pytests pin each of the
    four strategies against its metadata scenario."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.operators.join_planner import (
        auto_join,
    )
    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
    )

    q_runtime_filter_join(spark, sf_dir)  # ensures the fact table exists
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = os.path.basename(os.path.normpath(sf_dir))
    fact = f"/tmp/pdor_spark_rftable_{base}"
    dim = f"/tmp/pdor_spark_dimtable_{base}"
    try:
        ok = current_snapshot_id(dim) == 1
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(dim, ignore_errors=True)
        append_snapshot(
            docs.filter(F.col("doc_id") % 97 == 0).select(
                "doc_id", (F.col("doc_id") % 7).alias("dim_tag")
            ),
            dim,
        )
    out, decision = auto_join(spark, fact, dim, "doc_id", broadcast_bytes=1)
    assert decision["strategy"] == "runtime_filter", decision["reason"]
    return out.select("doc_id", "lang", "n_chars", "dim_tag")


def q_zorder_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T174 Z-order layout audit (round 5 closing): the Morton key over
    (doc_id, n_chars) — exact-integer quantization `(v - min) div step`,
    `step = ceil(span/256)`, then a 16-term bit-interleave, all inside one
    whole-stage-codegen projection (no UDF, no window; pytest pins the
    plan) — bucketed by the top 6 z bits (64 axis-aligned rectangles) with
    per-bucket row counts and min/max bounds of BOTH columns.  Those
    bounds ARE what manifest pruning reads: narrow per-bucket rectangles
    on both axes = file skipping for predicates on EITHER column, which a
    linear sort gives only its lead key (tests/test_zorder.py proves the
    physical version: 0 → ≥8 of 16 files skipped on the second column
    after `rewrite_data_files(cluster_by=...)`).  The DuckDB twin replays
    quantization, interleave, and bucket bounds bit-for-bit."""
    from pdf_drawing_ocr_recognition_spark.operators.zorder import (
        attach_zvalue,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    z = attach_zvalue(docs, ["doc_id", "n_chars"], bits=8, out="_z")
    return (
        z.groupBy(F.shiftright(F.col("_z"), 10).cast("long").alias("z_bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.min("n_chars").alias("min_n_chars"),
            F.max("n_chars").alias("max_n_chars"),
        )
        .orderBy("z_bucket")
    )


def q_snapshot_tag_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T192 branches/tags + write-audit-publish (round 5 closing): three
    append commits (doc_id%3 == 0, 1, 2), a TAG pinned at snapshot 2 (the
    audited state), then a read **via the ref** after snapshot 3 landed —
    the WAP pattern: consumers on the ref never see unaudited commits,
    tags are immutable, expiry keeps ref'd snapshots (pytest).  The
    DuckDB twin is doc_id % 3 < 2 — a hash match proves ref resolution
    reads exactly the pinned historical state."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        read_snapshot,
        set_ref,
    )

    docs = _t(spark, sf_dir, "documents")
    root = f"/tmp/pdor_spark_reftable_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 3
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        for k in range(3):
            append_snapshot(docs.filter(F.col("doc_id") % 3 == k), root)
        set_ref(root, "audited", 2, ref_type="tag")
    return read_snapshot(spark, root, ref="audited").select(
        "doc_id", "lang", "n_chars"
    )


def q_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T83 MERGE INTO (file-granular copy-on-write): commit `documents` as
    snapshot 1, then MERGE a source of updates (every doc_id%10==0 gets
    ' [merged]' appended) + inserts (doc_id+10⁶ for doc_id%100==0) — only
    data files containing a matched key are rewritten, the rest carry by
    name (sources/snapshots.py:merge_into).  The DuckDB twin replays the
    row semantics directly; a hash match proves WHEN MATCHED UPDATE /
    WHEN NOT MATCHED INSERT landed exactly."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        merge_into,
        read_manifest,
        read_snapshot,
    )

    docs = _t(spark, sf_dir, "documents")
    root = f"/tmp/pdor_spark_mergetable_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = (
            current_snapshot_id(root) == 2
            and read_manifest(root, 2)["operation"] == "merge"
        )
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        append_snapshot(docs.repartitionByRange(8, "doc_id"), root)
        updates = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
            "text", F.concat(F.col("text"), F.lit(" [merged]"))
        )
        inserts = docs.filter(F.col("doc_id") % 100 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.lit("inserted "), F.col("doc_id").cast("string")).alias(
                "text"
            ),
            "lang",
            "source",
            "n_chars",
        )
        merge_into(
            spark, root, updates.unionByName(inserts).select(*docs.columns),
            "doc_id",
        )
    return read_snapshot(spark, root).select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(F.encode(F.col("text"), "utf-8")).alias("text_md5"),
    )


def q_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T83 incremental append scan: three append commits (doc_id%3 thirds);
    ``read_appends_between(1, 3)`` returns ONLY the rows of commits 2 and 3
    — the incremental-consumption contract (a daily consumer never rescans
    the accumulated table).  Oracle: the %3∈{1,2} slice of documents."""
    import shutil

    from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
        append_snapshot,
        current_snapshot_id,
        read_appends_between,
    )

    docs = _t(spark, sf_dir, "documents")
    root = f"/tmp/pdor_spark_appends_{os.path.basename(os.path.normpath(sf_dir))}"
    try:
        ok = current_snapshot_id(root) == 3
    except Exception:
        ok = False
    if not ok:
        shutil.rmtree(root, ignore_errors=True)
        for k in range(3):
            append_snapshot(docs.filter(F.col("doc_id") % 3 == k), root)
    return read_appends_between(spark, root, 1, 3).select(
        "doc_id", "lang", "n_chars"
    )


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T56: domain-blocklist filtering — suffix rules re-expressed as
    host-ancestor equi-keys and applied via chained map-side broadcast joins
    (zero corpus-side shuffle; operators/filtering.py).  Hosts are derived
    deterministically from (doc_id, source) exercising exact match, subdomain
    match, case folding, and a rule that matches nothing; the DuckDB twin
    uses the literal `host = s OR host LIKE '%.'||s` semantics."""
    from pdf_drawing_ocr_recognition_spark.operators.filtering import (
        domain_block_filter,
    )

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    host = (
        F.when(
            m == 0,
            F.when(F.col("doc_id") % 8 == 0, F.lit("ADS.Example.COM")).otherwise(
                F.lit("ads.example.com")
            ),
        )
        .when(m == 1, F.concat(F.col("source"), F.lit(".example.com")))
        .when(m == 2, F.concat(F.lit("cdn."), F.col("source"), F.lit(".tracker.net")))
        .otherwise(F.concat(F.upper(F.col("source")), F.lit(".news.example.org")))
    )
    pages = docs.select("doc_id", host.alias("host"))
    blocklist = spark.createDataFrame(
        [("ads.example.com",), ("tracker.net",), ("spam.example.org",)],
        "suffix string",
    )
    kept = domain_block_filter(pages, "host", blocklist, mode="block")
    return kept.groupBy(F.lower(F.col("host")).alias("host")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T57: TF-IDF keyword extraction — top-3 terms per document by
    tf·N/df, the rational-idf variant (idf without the log): exact-integer
    products divided once, so both engines compute bit-identical doubles
    and the oracle is exact.  The log-idf form is a one-expression swap but
    cross-engine float-log parity is not guaranteed, so the rational form
    is the oracled contract.  Document frequency is computed over the FULL
    corpus; only the audited doc subset (doc_id%17==0) flows into the join
    + WindowGroupLimit top-3."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    )
    tf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") % 17 == 0)
        .join(dfreq, "w")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf_raw", F.col("tf") * F.col("n_docs") / F.col("df"))
    )
    w_win = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_raw"), F.asc("w"))
    return (
        scored.withColumn("rn", F.row_number().over(w_win))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id", "w", "tf", F.round(F.col("tfidf_raw"), 6).alias("tfidf")
        )
    )


def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T58: n-gram LM quality scoring (the KenLM/CCNet perplexity-filter
    shape, quantized): per-doc mean bigram conditional probability under a
    corpus-trained bigram model.  Each bigram contributes the INTEGER
    floor(1e6 · c(w1,w2)/c(w1·)) so every cross-row aggregate is an exact
    integer sum — deterministic under any partitioning, no float-sum order
    dependence.  This orders docs by MEAN bigram probability (perplexity is
    the geometric mean — a different but equally standard typicality order);
    the arithmetic-mean quantized form is what keeps the oracle exact.
    Scale posture: both count dims aggregate with map-side partials; the
    bigram dim is too large to broadcast at web scale so the confirm join
    shuffles on (w1,w2), while the vocabulary-sized prefix dim broadcasts;
    the audited doc subset filters BEFORE the joins.  The per-doc lead()
    window is the relational form — at 100 TB the T2 Arrow shingle kernel
    emits bigrams without the per-key sort."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos", "w"),
    )
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    bg = toks.select(
        "doc_id",
        F.col("w").alias("w1"),
        F.lead("w").over(w_ord).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    scored = (
        bg.filter(F.col("doc_id") % 13 == 0)
        .join(c2, ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .withColumn("q", F.floor(F.col("n2") * 1000000 / F.col("n1")))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("q").cast("bigint").alias("lm_score_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "lm_score_sum",
            F.round(F.col("lm_score_sum") / F.col("n_bigrams"), 4).alias(
                "avg_bigram_q"
            ),
        )
    )


def q_compression_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T60: compression-ratio quality signal (Gopher/FineWeb spam proxy) —
    per-doc deflate/raw byte ratio via an Arrow-batched pandas_udf
    (functions/compress.py).  Rows-only by contract: zlib is not
    SQL-expressible in DuckDB; the kernel twin is pinned by pytest.  Output
    is per-row (no float aggregation), so it is deterministic under any
    partitioning."""
    from pdf_drawing_ocr_recognition_spark.functions.compress import (
        compression_ratio,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 29 == 0)
    return docs.select(
        "doc_id",
        "source",
        compression_ratio(F.col("text")).alias("deflate_ratio"),
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (SURVEY.md Table B): unionByName + exceptAll — the
    resume-delta algebra (all docs ∪ reprocessed) minus completed."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    first = docs.filter(F.col("doc_id") % 3 == 0)
    second = docs.filter(F.col("doc_id") % 3 == 1)
    completed = docs.filter(F.col("doc_id") % 6 == 0)
    return first.unionByName(second).exceptAll(completed)


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation: per-source distinct languages + row counts."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.countDistinct("lang").alias("n_langs"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def q_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (sort + limit) with deterministic tie-break."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", "n_chars", "lang")
    )


# ---------------------------------------------------------------------------
# rows-only queries (no SQL-expressible oracle; driver records rows-only)
# ---------------------------------------------------------------------------


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal (Rae et al. 2021 §A1.1):
    top-bigram fraction per document — the standard repetitious-text filter
    for training corpora (the documents fixture is single-line, so the
    line-dup variant is degenerate here)."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), " ")
    n_words = F.size(words)
    # top-bigram fraction via exploded bigrams + window max over counts
    w = Window.partitionBy("doc_id").orderBy("_pos")
    bigrams = (
        docs.select("doc_id", F.posexplode(words).alias("_pos", "_w"))
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("_w"), F.lead("_w", 1).over(w)).alias("bg"),
            F.lead("_w", 1).over(w).alias("_w2"),
        )
        .filter(F.col("_w2").isNotNull())
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_count"), F.sum("c").alias("n_bigrams"))
    )
    base = docs.select("doc_id", n_words.alias("n_words"))
    return base.join(bigrams, "doc_id", "left").select(
        "doc_id",
        "n_words",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
        F.round(
            F.when(
                F.coalesce(F.col("n_bigrams"), F.lit(0)) == 0, F.lit(0.0)
            ).otherwise(F.col("top_bigram_count") / F.col("n_bigrams")),
            4,
        ).alias("top_bigram_frac"),
    )


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T176 mixed-script detection (round 5 closing): per-document counts
    of Latin / Cyrillic / Han codepoints and a mixed-script flag — the
    UTS #39 confusable-spoofing axis (Cyrillic 'а' in Latin words, CJK
    spam tails on English pages) that `char_diversity`'s entropy signal
    cannot see because it is script-blind.  Counts are codegen
    `length(t) - length(regexp_replace(t, script_class, ''))` — one JVM
    regex pass per script, no UDF.  The fixture corpus is pure ASCII, so
    the non-Latin branches are PLANTED deterministically (doc_id%7==1
    gains a Cyrillic tail, doc_id%11==3 a Han tail; doc_id%77==36 hits
    both) — the DuckDB twin replays the plant and the counts with RE2's
    spelling of the same Unicode script classes."""
    docs = _t(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 1, F.lit(" привет мир")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 11 == 3, F.lit(" 垃圾邮件")).otherwise(
            F.lit("")
        ),
    )

    def n_script(cls: str):  # Java regex spelling of the script class
        return F.length(t) - F.length(
            F.regexp_replace(t, f"[\\p{{{cls}}}]", "")
        )

    n_latin = n_script("IsLatin")
    n_cyr = n_script("IsCyrillic")
    n_han = n_script("IsHan")
    n_scripts = (
        (n_latin > 0).cast("int")
        + (n_cyr > 0).cast("int")
        + (n_han > 0).cast("int")
    )
    return docs.select(
        "doc_id",
        n_latin.alias("n_latin"),
        n_cyr.alias("n_cyrillic"),
        n_han.alias("n_han"),
        n_scripts.alias("n_scripts"),
        (n_scripts >= 2).cast("int").alias("mixed_script"),
    )


def q_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T115: character-distribution gibberish signals — the cheap pre-filter
    every web pipeline runs before tokenizing (C4's alphabetic-fraction rule,
    Gopher's symbol ratios): per doc the distinct-char count, the modal-char
    fraction, the Gini impurity of the char histogram (≈0 for 'aaaa…' spam,
    high for natural text), and the alphabetic fraction — all floor-ppm
    integers from exact counts, so the hash match is bitwise (the one double
    op per signal is an integer-input IEEE multiply+divide both engines
    execute identically).  Shape: explode chars → (doc, char) hash agg →
    per-doc agg; map-side combine bounds the first exchange at
    |alphabet| rows per doc per task, the second at one row per doc —
    corpus-linear, never quadratic.  (Char split is UTF-16-unit vs codepoint
    across engines only outside the BMP; the corpus is ASCII — asserted by
    the oracle's own char grouping.)"""
    docs = _t(spark, sf_dir, "documents")
    freq = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), "")).alias("c"))
        .filter(F.col("c") != "")
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    agg = freq.groupBy("doc_id").agg(
        F.sum("k").alias("n"),
        F.count(F.lit(1)).alias("distinct_chars"),
        F.max("k").alias("mx"),
        F.sum(F.col("k") * F.col("k")).alias("s2"),
        F.sum(
            F.when(F.col("c").rlike("^[A-Za-z]$"), F.col("k")).otherwise(F.lit(0))
        ).alias("na"),
    )
    n2 = F.col("n") * F.col("n")
    return agg.select(
        "doc_id",
        F.col("n").alias("n_chars_seen"),
        "distinct_chars",
        F.floor(F.lit(1000000.0) * F.col("mx") / F.col("n")).alias("top_char_ppm"),
        F.floor(F.lit(1000000.0) * (n2 - F.col("s2")) / n2).alias("gini_ppm"),
        F.floor(F.lit(1000000.0) * F.col("na") / F.col("n")).alias("alpha_ppm"),
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: md5 of the stable doc key → first
    two hex nibbles → bucket 0..255 → 80/10/10 by bucket % 10.  The standard
    leakage-free held-out split for training corpora — hash of content key,
    never random(), so re-runs and engines agree row-for-row."""
    docs = _t(spark, sf_dir, "documents")
    h = F.md5(F.encode(F.col("doc_id").cast("string"), "utf-8"))
    hexd = "0123456789abcdef"
    nib1 = F.position(F.substring(h, 1, 1), F.lit(hexd)) - 1
    nib2 = F.position(F.substring(h, 2, 1), F.lit(hexd)) - 1
    bucket = (nib1 * 16 + nib2) % 10
    split = (
        F.when(bucket == 0, F.lit("test"))
        .when(bucket == 1, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return docs.select("doc_id", "lang", split.alias("split")).groupBy(
        "split", "lang"
    ).agg(F.count(F.lit(1)).alias("n_docs"))


def q_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data prep — the composition a 100-TB corpus run
    actually executes, as ONE declarative plan: target-lang filter → quality
    gate (composite score ≥ 0.5) → exact dedup (min doc_id per md5 digest)
    → LSH near-dedup survivors → leakage-free hash split; per (split, lang)
    doc counts + total chars.  Every stage is the library operator the
    standalone queries exercise individually; Catalyst fuses the filters into
    the scan and the whole thing shuffles only on digest, band_key and the
    final group keys."""
    from pdf_drawing_ocr_recognition_spark.operators.corpus_prep import (
        prep_audit,
        prepare_corpus,
    )

    docs = _t(spark, sf_dir, "documents")
    return prep_audit(prepare_corpus(docs))


def q_global_row_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global 1-based row numbering by (n_chars DESC, doc_id) WITHOUT the
    single-reducer window: range-repartition + per-partition offsets
    (operators/order.py).  The naive row_number() OVER (ORDER BY ...) plan
    funnels 10^12 rows through one task; this is the shape that doesn't."""
    from pdf_drawing_ocr_recognition_spark.operators.order import global_row_numbers

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return global_row_numbers(
        docs, [F.desc("n_chars"), F.asc("doc_id")], id_col="rn", n_partitions=8
    ).select("doc_id", "n_chars", "rn")


def q_unpivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — the inverse of the pivot matrix: wide per-user event
    counts back to long (user_id, event_type, n) form, zero-count cells
    dropped.  `DataFrame.unpivot` is a plan-level Expand (one pass), not a
    per-column union."""
    wide = q_pivot_event_matrix(spark, sf_dir)
    kinds = ["click", "error", "purchase", "signup", "view"]
    return (
        wide.unpivot(
            "user_id",
            [f"n_{k}" for k in kinds],
            "event_type",
            "n",
        )
        .withColumn("event_type", F.expr("substring(event_type, 3)"))
        .filter(F.col("n") > 0)
    )


def q_source_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input data-quality audit per source — the gate a pipeline runs BEFORE
    spending 100 TB of compute: null/empty/short text, duplicate-content
    rows, out-of-contract lang values.  One scan, one shuffle on source
    (the dup check rides a digest-keyed window inside the same plan)."""
    docs = _t(spark, sf_dir, "documents")
    digest = F.md5(F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8"))
    w = Window.partitionBy(digest)
    flagged = docs.select(
        "source",
        F.col("text").isNull().alias("_null"),
        (F.length(F.coalesce(F.col("text"), F.lit(""))) == 0).alias("_empty"),
        (F.length(F.coalesce(F.col("text"), F.lit(""))) < 20).alias("_short"),
        (F.count(F.lit(1)).over(w) > 1).alias("_dup"),
        (~F.col("lang").isin("en", "zh", "de", "fr", "es")).alias("_badlang"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("_null").cast("long")).alias("n_null_text"),
        F.sum(F.col("_empty").cast("long")).alias("n_empty_text"),
        F.sum(F.col("_short").cast("long")).alias("n_short_text"),
        F.sum(F.col("_dup").cast("long")).alias("n_dup_content"),
        F.sum(F.col("_badlang").cast("long")).alias("n_bad_lang"),
    )


def q_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: global top-20 words by count (ties broken by
    word asc).  Partial-aggregated wordcount + TakeOrdered — no global sort
    materializes; the vocabulary audit every corpus release ships."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
    return (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(20)
    )


def q_approx_distinct_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-word counts per lang (`approx_count_distinct`,
    rsd 2%) next to the exact count — the cardinality sketch every corpus
    audit runs at 100 TB, where exact COUNT(DISTINCT) is a full shuffle of
    every distinct token and the HLL partials merge map-side in constant
    memory.  No SQL oracle by contract (sketch internals are
    engine-specific); tests bound the relative error against the exact
    count instead."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "lang", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    )
    return words.groupBy("lang").agg(
        F.approx_count_distinct("w", rsd=0.02).alias("approx_distinct_words"),
        F.count_distinct("w").alias("exact_distinct_words"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


def q_grouping_sets_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((lang), (source)) — the arbitrary-set sibling
    of CUBE/ROLLUP (one scan, one expand, one aggregate; never two scans +
    union).  Expressed through the SQL API over a temp view: the SQL surface
    is as first-class as the DataFrame one for an engine user."""
    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("docs_gs")
    return spark.sql(
        """
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM docs_gs
        GROUP BY GROUPING SETS ((lang), (source))
        """
    )


def q_rolling_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded window FRAME (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW):
    per-user rolling 3-event spend in integer cents — the frame clause the
    other window queries (row_number/lag/lead/session) don't exercise.
    Bounded frames stream in one pass over each sorted partition (no
    per-row re-scan), so the cost is the per-user sort — same shuffle
    profile as the session window."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        _us(F.col("ts")).alias("ts_us"),
        F.sum(cents).over(w).alias("rolling_cents_3"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_in_frame"),
    )


def q_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded attribution join (batch twin of the watermarked
    stream-stream join in streaming/stream_extract.py): every click of the
    same user within 2h before each purchase.  The two-sided time bound is
    what lets the streaming form evict join state — asserted equal to this
    batch plan under real micro-batches in test_streaming."""
    from pdf_drawing_ocr_recognition_spark.streaming.stream_extract import (
        purchase_attribution_join,
    )

    ev = _t(spark, sf_dir, "events")
    return purchase_attribution_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — emails and long digit runs replaced by placeholder
    tokens, counts audited per doc.  Deterministic synthetic PII is APPENDED
    to every row (derived from doc_id, never random) so the scrubber is
    exercised on 100% of rows in both engines; the md5 of the scrubbed text
    proves the redaction is byte-identical.  Pure regexp column expressions
    (whole-stage codegen) — the shape that scans 100 TB without a UDF."""
    docs = _t(spark, sf_dir, "documents")
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    num_re = r"[0-9]{7,}"
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com tel 555"),
            (F.col("doc_id") % 10000 + 10000).cast("string"),
        ).alias("t"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("t"), email_re, "<EMAIL>"), num_re, "<NUM>"
    )
    return salted.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(email_re)).cast("long").alias("n_emails"),
        F.regexp_count(
            F.regexp_replace(F.col("t"), email_re, "<EMAIL>"), F.lit(num_re)
        ).cast("long").alias("n_numbers"),
        F.md5(F.encode(scrubbed, "utf-8")).alias("scrubbed_fp"),
    )


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the n-gram-overlap check every training
    corpus runs before release: flag corpus docs sharing any 5-word shingle
    with the held-out 'benchmark' set (deterministic 10% sample here).  The
    benchmark shingle set is small by construction → broadcast hash join
    against the exploded corpus shingles; one narrow explode + one shuffle
    for the per-doc count, never any pairwise comparison."""
    from pdf_drawing_ocr_recognition_spark.functions.dedup import word_shingles

    docs = _t(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % 10 == 7
    bench_sh = (
        docs.filter(is_bench)
        .select(F.explode(word_shingles(F.col("text"), 5)).alias("sh"))
        .distinct()
    )
    corp = docs.filter(~is_bench).select(
        "doc_id", F.explode(word_shingles(F.col("text"), 5)).alias("sh")
    )
    return (
        corp.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count_distinct("sh").alias("n_shared"))
    )


def q_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (T51) — row-identical to
    `decontamination`, but the corpus shingle stream is pruned MAP-SIDE by a
    broadcast Bloom filter built over the benchmark shingles BEFORE the
    exact confirm join.  At 100 TB this is the plan that survives a
    contamination list too large to broadcast raw (10⁸ shingles ≈ 8 GB of
    strings vs a ~100 MB bloom at 1 % fp): the join input shrinks to the
    maybe-contaminated slice, and bloom false positives are erased by the
    exact confirm, so the ORACLE IS THE EXACT JOIN — the bloom is visible
    only in the physical plan (ArrowEvalPython prefilter, asserted in
    tests/test_bloom.py)."""
    from pdf_drawing_ocr_recognition_spark.functions.dedup import word_shingles
    from pdf_drawing_ocr_recognition_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
        bloom_params,
    )

    docs = _t(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % 10 == 7
    bench_sh = (
        docs.filter(is_bench)
        .select(F.explode(word_shingles(F.col("text"), 5)).alias("sh"))
        .distinct()
    )
    m_bits, k = bloom_params(max(1, bench_sh.count()), fp_rate=0.01)
    bloom = bloom_build(bench_sh, "sh", m_bits, k)
    corp = docs.filter(~is_bench).select(
        "doc_id", F.explode(word_shingles(F.col("text"), 5)).alias("sh")
    )
    pruned = (
        bloom_might_contain(corp, "sh", bloom, m_bits, k, out="_maybe")
        .filter(F.col("_maybe"))
        .drop("_maybe")
    )
    return (
        pruned.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count_distinct("sh").alias("n_shared"))
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence chunking for training: each doc's whitespace tokens split
    into fixed 64-token windows at stride 48 (16-token overlap) — the
    standard packing precursor.  A computed-offsets explode (sequence →
    slice), no UDF; chunk fingerprints via md5 so downstream chunk-level
    dedup composes with the same digest machinery."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    words = F.split(F.lower(F.col("text")), " ")
    k_max = F.floor((F.size(words) - 1) / F.lit(48)).cast("int")
    # slice INSIDE the generator (array of per-chunk structs, exploded) so an
    # output row never carries the whole words array: per-doc intermediate
    # bytes are sum-of-chunk-sizes ≈ 1.33n — LINEAR.  The explode-k-then-
    # slice formulation would copy the full array into every chunk row,
    # O(n²/stride) bytes for outlier docs — a memory amplifier at 100 TB.
    chunk_structs = F.transform(
        F.sequence(F.lit(0), k_max),
        lambda k: F.struct(
            k.alias("k"), F.slice(words, k * 48 + 1, 64).alias("chunk")
        ),
    )
    chunks = docs.select("doc_id", F.explode(chunk_structs).alias("c"))
    return chunks.select(
        "doc_id",
        F.col("c.k").cast("long").alias("chunk_idx"),
        F.size(F.col("c.chunk")).cast("long").alias("n_chunk_tokens"),
        F.md5(F.encode(F.concat_ws(" ", F.col("c.chunk")), "utf-8")).alias(
            "chunk_fp"
        ),
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the corpus-MIXING primitive (keep
    X% of each language/source stratum to hit a target data mix).  Rates are
    hash-gated per row (md5 bucket < rate), never random(): re-runs, resumed
    jobs and both engines keep the exact same rows, and the gate composes
    with the train/val/test hash split without leakage (independent hash
    salts).  One narrow filter, no shuffle until the audit count."""
    docs = _t(spark, sf_dir, "documents")
    rates = {"en": 50, "zh": 100, "de": 100, "fr": 25, "es": 25}
    h = F.md5(F.encode(F.concat(F.lit("mix|"), F.col("doc_id").cast("string")), "utf-8"))
    hexd = "0123456789abcdef"
    nib1 = F.position(F.substring(h, 1, 1), F.lit(hexd)) - 1
    nib2 = F.position(F.substring(h, 2, 1), F.lit(hexd)) - 1
    bucket = (nib1 * 16 + nib2) % 100
    rate = F.lit(0)
    for lang, r in rates.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    kept = docs.filter(bucket < rate)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_doc_id"),
    )


def q_word_rarity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level word-rarity scoring — the two-pass shape of LM/perplexity
    quality filters: pass 1 aggregates the corpus unigram frequency dim,
    pass 2 joins it back onto the exploded words and scores each doc by its
    rare-word count and mean word commonness.  All cross-row aggregation is
    INTEGER (exact sums; one final division) so the score is deterministic
    under any partitioning — no float sum-order dependence.  At scale the
    frequency dim is vocabulary-sized (Zipf: ~10^6-10^7 rows even at 10^12
    docs), so the scoring join broadcasts; the only big shuffles are the two
    word-keyed aggregations, both with map-side partials."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    )
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    scored = words.join(F.broadcast(freq), "word")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum((F.col("n") <= 2).cast("long")).alias("n_rare"),
            F.sum("n").alias("_sum_n"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_rare",
            F.round(F.col("_sum_n") / F.col("n_words"), 4).alias("mean_word_freq"),
        )
    )


def q_semi_join_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — the EXISTS shape (TPC-H Q4 family): orders per
    priority having at least one late-shipping discounted lineitem.  Plans as
    a semi SMJ/BHJ on the order key with the range predicate post-join; the
    semi form never duplicates the left side, so the count needs no DISTINCT
    (the all-too-common inner-join + distinct anti-pattern at scale)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") >= 0.05)
    hit = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


def q_extract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship extraction operator over sf documents (mapInPandas kernel)."""
    from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS
    from pdf_drawing_ocr_recognition_spark.operators.extract import extract_pages

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.format_string("doc://%d", F.col("doc_id")).alias("url"),
        F.encode(
            F.format_string("<html><body><p>%s</p></body></html>", F.col("text")),
            "utf-8",
        ).alias("html"),
        F.col("lang"),
    )
    return extract_pages(pages, PATTERNS).select("url", "status", "extracted_text")


def q_json_struct_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON functions end-to-end: from_json with an explicit schema →
    struct field math → to_json round-trip (the normalized relational twin
    of the reference's Python-literal parse, SURVEY.md A16)."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.from_json(F.col("props"), "k INT").alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        (F.col("p.k") % 10).alias("k_mod10"),
        # NULL k (malformed / missing key) must round-trip to NULL on both
        # engines (Spark's to_json would emit '{}', DuckDB's concat NULL)
        F.when(
            F.col("p.k").isNotNull(),
            F.to_json(F.struct(F.col("p.k").alias("k"))),
        ).alias("rt"),
    )


def q_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type count matrix (explicit value list so the
    output schema is static — the scalable form; unbounded pivots need a
    distinct-values pass first)."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(k), F.lit(0)).alias(f"n_{k}") for k in kinds],
        )
    )


def q_map_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map functions end-to-end: build MAP<event_type, count> per user via
    map_from_entries, then project sorted "k=v" entries through
    map_keys/map_entries — MapType exercised for real, output canonical."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "c")))
        ).alias("m")
    )
    entries = F.transform(
        F.sort_array(F.map_entries(F.col("m"))),
        lambda e: F.concat_ws("=", e["key"], e["value"].cast("string")),
    )
    return m.select(
        "user_id",
        F.size(F.map_keys(F.col("m"))).cast("long").alias("n_kinds"),
        F.concat_ws(",", entries).alias("stats"),
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling end-to-end in Spark: build a 3-frame
    GRIDDOC container per document inside mapInPandas (real PNG encode),
    then sample every 2nd frame (real parse + decode) — the video-keyframe
    plumbing with true dimensions.  ORACLED via the T33 trick: the frame
    dimensions are deterministic container arithmetic (fixed glyph metrics
    × the page label "d<doc_id>_f<idx>"), so DuckDB replays them from
    doc_id alone; the hash match proves the whole encode→parse→decode path
    produced exactly those frames."""
    import pandas as pd

    from pdf_drawing_ocr_recognition_spark.operators.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)

    def build(batches):
        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
            PATTERNS,
            build_griddoc,
            build_page_image,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                pages = [
                    build_page_image(
                        PATTERNS["fullpage"], [{"text": f"d{doc_id}_f{i}"}]
                    )
                    for i in range(3)
                ]
                rows.append(
                    {"doc_id": doc_id, "payload": build_griddoc("fullpage", pages)}
                )
            yield pd.DataFrame(rows)

    blobs = docs.select("doc_id").mapInPandas(build, "doc_id LONG, payload BINARY")
    return sample_frames(blobs, every_n=2).select(
        "doc_id", "frame_idx", "width", "height"
    )


def q_multimodal_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata decode over REAL PNG payloads: the deterministic
    8×8 codepoint PNG per document (the T33 fixture) flows through
    ``decode_metadata``'s true decode branch, and DuckDB replays the
    decoded width/height/mean from the text codepoints — so the oracle
    hash-matches the real binary→typed-metadata path.  (The opaque- and
    empty-payload stub branches are sha1-derived, which DuckDB cannot
    compute — they stay pytest-covered in tests/test_operators.py.)"""
    from pdf_drawing_ocr_recognition_spark.operators.multimodal import decode_metadata

    meta = decode_metadata(_image_blobs(spark, sf_dir))
    return meta.select(
        "doc_id",
        "media_kind",
        "width",
        "height",
        F.round(F.col("feature_norm"), 6).alias("mean_px"),
    )


PLANES18 = _planes(4, 18)


def _image_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 8×8 grayscale PNG per document: pixel i is the (clamped)
    codepoint of the i-th character of ``text`` (pad 32) — REAL PNG encode,
    so the downstream feature extractor exercises the actual decode path
    while DuckDB can recompute the expected pixels from the text column."""
    import numpy as np
    import pandas as pd

    def render(batches):
        from pdf_drawing_ocr_recognition_spark.kernel.png import encode_png

        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                cps = [min(ord(c), 255) for c in (text or "")[:64]]
                cps += [32] * (64 - len(cps))
                payloads.append(
                    encode_png(np.array(cps, dtype=np.uint8).reshape(8, 8))
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "text").mapInPandas(
        render, "doc_id long, payload binary"
    )


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T33 oracle closure: the image feature path (PNG encode → real decode →
    [mean, std, 16-bin histogram] embedding) hash-matched against DuckDB
    recomputing the same statistics from the text codepoints.  Histogram
    counts are exact integers (k/64 is exactly representable and survives
    the kernel's round-8); mean is an identical sum/64/255 on both engines;
    std is rounded to 4 (np two-pass vs SQL two-pass agree to ~1 ulp)."""
    from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
        image_feature_vectors,
    )

    feats = image_feature_vectors(_image_blobs(spark, sf_dir))
    emb = F.col("embedding")
    hist_counts = [
        (emb[2 + i] * 64).cast("int").cast("string") for i in range(16)
    ]
    return feats.select(
        "doc_id",
        "media_kind",
        F.round(emb[0], 6).alias("mean_px"),
        F.round(emb[1], 4).alias("std_px"),
        F.concat_ws(",", *hist_counts).alias("hist"),
    )


def q_image_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs over the SAME bucketed-join machinery as
    text embeddings: feature vectors → hyperplane sign-bit buckets →
    in-bucket cosine ≥ τ (T33 plugged into T7, oracle-matched end to end)."""
    from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
        image_feature_vectors,
    )
    from pdf_drawing_ocr_recognition_spark.operators.similarity import (
        embedding_near_dupe_pairs,
    )

    feats = image_feature_vectors(_image_blobs(spark, sf_dir))
    return embedding_near_dupe_pairs(
        feats.select("doc_id", "embedding"),
        PLANES18,
        min_cosine=0.9999,
        id_col="doc_id",
    )


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T117: perceptual difference hash (dHash) per image — REAL PNG decode
    → horizontal gradient signs packed MSB-first into a 56-bit BIGINT
    (operators/multimodal.py:image_dhash).  Hash-matched against DuckDB
    recomputing every gradient bit from the text codepoints the renderer
    drew (the T33 single-source-of-truth trick): an exact integer per doc,
    so the match is bitwise."""
    from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
        image_dhash,
    )

    return image_dhash(_image_blobs(spark, sf_dir)).select(
        "doc_id", "media_kind", "dhash", "n_bits"
    )


def q_image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T117 (pairs): image near-duplicates as Hamming-ball search over the
    dHash — pigeonhole multi-index (Manku et al. WWW 2007): 3 disjoint bit
    bands for distance ≤ 2, band-equality join (one shuffle, the T3 band
    shape), codegen bit_count(xor) confirm.  Recall is STRUCTURAL — a pair
    within distance 2 must agree on ≥1 band — so the oracle can replay the
    identical banding relationally and the match proves both the hash and
    the index geometry."""
    from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
        hamming_near_dupe_pairs,
        image_dhash,
    )

    hashes = image_dhash(_image_blobs(spark, sf_dir))
    return hamming_near_dupe_pairs(hashes, n_bits=56, max_distance=2)


def q_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T37 relational audit: greedy next-fit packing of the 64-token chunks
    into 160-token bins, then the per-bin fill audit (chunk count, token
    total, fill fraction) — the padding-waste metric checked against a
    DuckDB recursive-CTE simulation of the same sequential next-fit.  One
    partition so the bin assignment is a pure function of (doc_id,
    chunk_idx) order that SQL can replay; the distributed operator itself
    namespaces bins per partition (tested for rerun determinism)."""
    from pdf_drawing_ocr_recognition_spark.operators.packing import (
        pack_chunks,
        packing_stats,
    )

    chunks = q_chunk_documents(spark, sf_dir).filter(F.col("doc_id") < 100)
    packed = pack_chunks(chunks, budget_tokens=160, n_partitions=1)
    stats = packing_stats(packed)
    return stats.select(
        "bin_id",
        "n_chunks",
        F.col("tokens").cast("long").alias("tokens"),
        F.round(F.col("tokens") / 160.0, 4).alias("fill_frac"),
    )


# ---------------------------------------------------------------------------
# web-graph queries (T49/T50): link harvesting → host graph → PageRank
# ---------------------------------------------------------------------------

_LINK_HOSTS = 23  # host universe h0..h22.example.com (23 % 4 != 0 ⇒ every
# host class contains docs of every out-degree residue ⇒ no dangling hosts)


def _link_pages(spark: SparkSession, sf_dir: str):
    """Deterministic page corpus with synthesized outlinks.

    doc i lives at ``http://h{i%23}.example.com/p/{i}``; out-degree d = i%4;
    link j (j < d) targets doc t_j = (i*7 + j*13 + 1) % N — j=0 is emitted
    as a ROOT-RELATIVE href (the kernel must resolve it against the SOURCE
    host), j>=1 absolute to t_j's own host.  Fragment-only and mailto
    anchors are included as negatives the kernel must skip.  The DuckDB
    twins recompute the edge set from doc_id arithmetic alone, so a hash
    match proves the HTML link extraction is exact.  Returns (pages, N);
    N is the one driver scalar (corpus size, needed by the modulus).
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    deg = F.col("doc_id") % 4

    def target(j: int) -> F.Column:
        return (F.col("doc_id") * 7 + j * 13 + 1) % n

    frags = [
        F.when(
            deg > 0,
            F.format_string("<li><a href='/p/%d'>to %d</a></li>", target(0), target(0)),
        ).otherwise(F.lit(""))
    ]
    for j in (1, 2):
        frags.append(
            F.when(
                deg > j,
                F.format_string(
                    "<li><a href='http://h%d.example.com/p/%d'>to %d</a></li>",
                    target(j) % _LINK_HOSTS,
                    target(j),
                    target(j),
                ),
            ).otherwise(F.lit(""))
        )
    html = F.concat(
        F.lit("<html><body><p>page</p><ul>"),
        *frags,
        F.lit(
            "</ul><a href='#top'>top</a>"
            "<a href='mailto:a@b.c'>mail</a></body></html>"
        ),
    )
    pages = docs.select(
        F.format_string(
            "http://h%d.example.com/p/%d",
            F.col("doc_id") % _LINK_HOSTS,
            F.col("doc_id"),
        ).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )
    return pages, n


def q_host_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T49: real HTML link extraction (Arrow mapInPandas kernel, relative
    hrefs resolved, fragment/mailto skipped) → weighted host-level edge
    list, hash-matched against DuckDB recomputing the synthesized edges
    from doc_id arithmetic."""
    from pdf_drawing_ocr_recognition_spark.operators.links import (
        extract_page_links,
        host_link_graph,
    )

    pages, _ = _link_pages(spark, sf_dir)
    return host_link_graph(extract_page_links(pages))


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T49: anchor-text harvesting — per destination host, in-link count,
    distinct anchor texts, lexicographically first anchor (the anchor-text
    corpus companion to the link graph)."""
    from pdf_drawing_ocr_recognition_spark.operators.links import (
        extract_page_links,
    )
    from pdf_drawing_ocr_recognition_spark.operators.skew import host_of

    pages, _ = _link_pages(spark, sf_dir)
    links = extract_page_links(pages)
    return links.groupBy(host_of(F.col("dst_url")).alias("dst_host")).agg(
        F.count(F.lit(1)).alias("in_links"),
        F.countDistinct("anchor").alias("n_anchor_texts"),
        F.min("anchor").alias("first_anchor"),
    )


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T50: 3-iteration damped PageRank over the harvested host graph —
    fully distributed power method (per-iteration join + hash-agg, dangling
    mass as a broadcast 1-row aggregate), hash-matched against a DuckDB
    chained-CTE replay of the same three iterations."""
    from pdf_drawing_ocr_recognition_spark.operators.links import (
        extract_page_links,
        host_link_graph,
        pagerank,
    )

    pages, _ = _link_pages(spark, sf_dir)
    edges = host_link_graph(extract_page_links(pages))
    ranks = pagerank(edges, damping=0.85, n_iters=3)
    return ranks.select(
        F.col("node").alias("host"), F.round("rank", 6).alias("pr")
    )


def q_host_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T114: TrustRank over the harvested host graph — seed-personalized
    PageRank (Gyöngyi et al. VLDB 2004), the standard spam-demotion prior:
    teleport (and dangling) mass goes only to a curated whitelist (here the
    deterministic rule host-number % 5 == 0, 5 of 23 hosts), so trust flows
    strictly outward from the seeds along real extracted links and a spam
    island unreachable from any seed ends at exactly 0.  Same per-iteration
    scale shape as T50 (one shuffle join + hash agg; dangling = 1-row
    broadcast); hash-matched against a DuckDB chained-CTE replay of the
    same three seeded iterations."""
    from pdf_drawing_ocr_recognition_spark.operators.links import (
        extract_page_links,
        host_link_graph,
        trustrank,
    )

    pages, _ = _link_pages(spark, sf_dir)
    edges = host_link_graph(extract_page_links(pages))
    hosts = edges.select(F.col("src_host").alias("node")).union(
        edges.select(F.col("dst_host").alias("node"))
    )
    hnum = F.regexp_extract(F.col("node"), r"^h(\d+)\.", 1).cast("int")
    seeds = hosts.filter(hnum % 5 == 0).distinct()
    trust = trustrank(edges, seeds, damping=0.85, n_iters=3)
    return trust.select(
        F.col("node").alias("host"),
        F.round("rank", 6).alias("trust"),
        "is_seed",
    )


def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T54: fixed-quota per-stratum sampling — exactly min(k, |stratum|)
    docs per language, selected by salted-md5 order (rerun-stable, engine-
    portable).  Declarative window + rank filter: Catalyst rewrites it into
    WindowGroupLimit with a map-side Partial below the Exchange (at most
    k rows per stratum per input partition ever shuffle) — plan-asserted in
    tests + PLANS.md, so the scale-safety is checked, not assumed."""
    from pdf_drawing_ocr_recognition_spark.operators.sampling import quota_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = quota_sample(docs, ["lang"], 40, "doc_id")
    return out.select(
        "doc_id", "lang", F.col("pick_rank").cast("long").alias("pick_rank")
    )


def q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T53: webtext normalization as the dedup key.  Each doc is paired with
    a deterministically typographically-noised twin (spaces → em-spaces,
    hyphens → en-dashes, a ZWSP injected after every 'e' — all 1:1 rules the
    normalizer must invert); both variants normalize to ONE md5, proven
    relationally per doc (n_norm_forms must come back 1 everywhere, and the
    oracle recomputes the same digests in DuckDB from the SAME pattern
    constants — `normalize_text_sql` renders them, so the engines cannot
    drift).  Pure translate/regexp_replace Column chain: whole-stage
    codegen, no Python at run time."""
    from pdf_drawing_ocr_recognition_spark.functions.normalize import normalize_text

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    noisy = F.regexp_replace(
        F.translate(F.col("text"), " -", "\u2003\u2013"), "e", "e\u200b"
    )
    variants = docs.select(
        "doc_id", F.explode(F.array(F.col("text"), noisy)).alias("v")
    )
    norm_fp = F.md5(normalize_text(F.col("v")))
    return variants.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.count_distinct("v").alias("n_raw_forms"),
        F.count_distinct(norm_fp).alias("n_norm_forms"),
        F.min(norm_fp).alias("norm_fp"),
    )


def q_rank_prioritized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T52: graph-derived quality prior folded back into the corpus — the
    crawl-prioritization shape (OPIC / Common Crawl's harmonic-centrality
    ranking): harvested link graph → PageRank → keep documents living on
    the top-8 authority hosts, carrying the host prior as a column.  The
    rank side is 23 hosts (broadcast join, never a shuffle of the corpus);
    the top-k cut orders by ROUND-6 rank with host as tiebreak so the
    boundary is deterministic across engines (round-6 parity is exactly
    what the host_pagerank oracle hash-proves)."""
    from pdf_drawing_ocr_recognition_spark.operators.links import (
        extract_page_links,
        host_link_graph,
        pagerank,
    )

    pages, _ = _link_pages(spark, sf_dir)
    ranks = pagerank(
        host_link_graph(extract_page_links(pages)), damping=0.85, n_iters=3
    )
    top_hosts = (
        ranks.select(
            F.col("node").alias("host"), F.round("rank", 6).alias("host_pr")
        )
        .orderBy(F.desc("host_pr"), F.asc("host"))
        .limit(8)
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.format_string(
            "h%d.example.com", F.col("doc_id") % _LINK_HOSTS
        ).alias("host"),
    )
    return docs.join(F.broadcast(top_hosts), "host").select(
        "doc_id", "host", "host_pr"
    )


def _funnel_noisy_text() -> F.Column:
    """Deterministic noisy twin of documents.text exercising every funnel
    rule (the corpus itself is clean synthetic prose): doc_id%7 selects a
    punctuation spike, a digit spike, or a long-token spike — identical
    derivation in the DuckDB oracle."""
    m = F.col("doc_id") % 7
    zzz = " ".join(["z" * 200] * 3)
    return (
        F.when(m == 0, F.concat(F.col("text"), F.lit(" !!!###$$$%%%&&&*** ((()))___+++===???")))
        .when(m == 1, F.concat(F.col("text"), F.lit(" 101 202 303 404 505 606 707 808 909 111 222 333")))
        .when(m == 2, F.concat(F.col("text"), F.lit(" " + zzz)))
        .otherwise(F.col("text"))
    )


def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T62: Gopher-style quality-filter funnel with first-fail drop
    attribution (operators/quality_funnel.py) — six ordered rules (word-count
    band, mean word length, punctuation ratio, digit-run fraction, stopword
    floor) evaluated in ONE codegen scan; per-rule n_in/n_dropped/n_out from
    the label rollup plus a rules-sized cumulative window.  Every ratio is an
    exact-integer division so both engines compare bit-identical doubles."""
    from pdf_drawing_ocr_recognition_spark.operators.quality_funnel import (
        filter_funnel,
        webtext_rules,
    )

    docs = _t(spark, sf_dir, "documents").select(
        _funnel_noisy_text().alias("text")
    )
    return filter_funnel(docs, webtext_rules(F.col("text")))


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T63: robots.txt REP rule matching (operators/politeness.py) —
    longest-prefix-wins, allow beats disallow on ties, no-rule means allowed;
    decided via one broadcast host equi-join + one max_by hash-agg (no
    window, no cross product).  Hosts/paths derived deterministically from
    (doc_id, source); the rule set exercises longest-match override, a
    draft-subtree disallow under an allowed tree, an exact length tie, and
    rule-free hosts."""
    from pdf_drawing_ocr_recognition_spark.operators.politeness import (
        robots_filter,
    )

    docs = _t(spark, sf_dir, "documents")
    k = (F.col("doc_id") % 50).cast("string")
    m = F.col("doc_id") % 6
    path = (
        F.when(m == 0, F.concat(F.lit("/admin/"), k))
        .when(m == 1, F.concat(F.lit("/static/js/"), k))
        .when(m == 2, F.concat(F.lit("/article/"), k))
        .when(m == 3, F.concat(F.lit("/article/draft/"), k))
        .when(m == 4, F.lit("/"))
        .otherwise(F.concat(F.lit("/api/v1/"), k))
    )
    pages = docs.select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        path.alias("path"),
    )
    rules = spark.createDataFrame(
        ROBOTS_RULES, "host string, prefix string, allow boolean"
    )
    decided = robots_filter(pages, rules)
    return decided.groupBy("host").agg(
        F.sum(F.col("is_allowed").cast("int")).cast("bigint").alias("n_allowed"),
        F.sum((~F.col("is_allowed")).cast("int")).cast("bigint").alias("n_blocked"),
        F.sum(F.when(F.col("is_allowed"), F.col("doc_id")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("allowed_id_sum"),
    )


def q_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T64: per-host crawl-delay scheduling (operators/politeness.py) — the
    sequential queueing recurrence sched_i = max(ts_i, sched_{i-1}+d)
    unrolled to its prefix-max closed form, so it runs as ONE running-max
    window per host (exact BIGINT micros end-to-end) and the per-host audit
    reuses the same hash partitioning: one shuffle total.  Fetch log derived
    from events (host = user_id mod 25)."""
    from pdf_drawing_ocr_recognition_spark.operators.politeness import (
        host_schedule_summary,
        politeness_schedule,
    )

    ev = _t(spark, sf_dir, "events")
    fetches = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 25).cast("string")).alias("host"),
        _us(F.col("ts")).alias("ts_us"),
        "event_id",
    )
    sched = politeness_schedule(
        fetches, "host", "ts_us", order_cols=("event_id",), delay_us=5_000_000
    )
    return host_schedule_summary(sched, "host", "ts_us", "sched_us")


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T65: CCNet head/middle/tail corpus mixing — per-language EXACT LM-score
    tertiles computed from the score *histogram* (operators/mixing.py), never
    an ntile over per-document sorts (language partitions are the skewed
    kind).  Scoring reuses the T58 quantized bigram LM (exact-integer bigram
    contributions, round-4 mean) over ALL documents; the cumulative window
    runs over distinct score values only and the bucket dim broadcasts back.
    Tie rule: equal scores share a bucket (threshold semantics, identical in
    the DuckDB twin)."""
    from pdf_drawing_ocr_recognition_spark.operators.mixing import (
        histogram_quantile_buckets,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos", "w"),
    )
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    bg = toks.select(
        "doc_id",
        F.col("w").alias("w1"),
        F.lead("w").over(w_ord).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    per_doc = (
        bg.join(c2, ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .withColumn("q", F.floor(F.col("n2") * 1000000 / F.col("n1")))
        .groupBy("doc_id")
        .agg(
            (F.round(F.sum("q") / F.count(F.lit(1)), 4)).alias("avg_q"),
        )
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    bucketed = histogram_quantile_buckets(
        per_doc, "avg_q", 3, ("lang",), labels=("tail", "middle", "head")
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
        F.min("avg_q").alias("min_q"),
        F.max("avg_q").alias("max_q"),
    )


def q_encoding_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T66: encoding-anomaly signals (functions/encoding.py) — mojibake
    signature counts (fixed literal set via length/replace arithmetic),
    U+FFFD replacement chars, C0 control chars, and a per-char anomaly
    density; all pure JVM codegen columns.  A corrupted twin of the corpus
    is derived deterministically (doc_id%9 selects latin-1 double-encoding,
    cp1252 smart-quote soup, lossy-decode replacement chars, or stray
    controls) — identical derivation in the DuckDB oracle."""
    from pdf_drawing_ocr_recognition_spark.functions.encoding import (
        control_char_count,
        encoding_anomaly_score,
        mojibake_count,
        replacement_char_count,
    )

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 9
    corrupted = (
        F.when(m == 0, F.replace(F.col("text"), F.lit("e"), F.lit("Ã©")))
        .when(m == 1, F.concat(F.col("text"), F.lit(" â€œquotedâ€\x9d Â· â€“ mixed")))
        .when(m == 2, F.replace(F.col("text"), F.lit("a"), F.lit("�")))
        .when(m == 3, F.concat(F.col("text"), F.lit("\x07\x01\x1f")))
        .otherwise(F.col("text"))
    )
    t = F.col("text")
    return docs.select("doc_id", corrupted.alias("text")).select(
        "doc_id",
        mojibake_count(t).alias("n_mojibake"),
        replacement_char_count(t).alias("n_repl"),
        control_char_count(t).alias("n_ctrl"),
        encoding_anomaly_score(t).alias("anomaly"),
    )


def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T67: corpus datasheet ("dataset card") rollup — per-language AND
    overall rows from ONE scan via GROUPING SETS ((lang),()): doc counts,
    exact word totals, duplicate-document counts (md5-fingerprint cluster
    membership — signatures shuffle, never documents), exact-integer mean
    quality (quality·10⁴ as BIGINT so the cross-row sum has no float-order
    dependence), and the T62 funnel keep count.  The reporting artifact a
    corpus release ships; every aggregate is exact-integer or a round() of
    an exact-integer division."""
    from functools import reduce

    from pdf_drawing_ocr_recognition_spark.functions.text import (
        fingerprint,
        quality_score,
        word_count,
    )
    from pdf_drawing_ocr_recognition_spark.operators.quality_funnel import (
        webtext_rules,
    )

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    wc = word_count(t)
    keep = reduce(lambda a, b: a & b, [p for _, p in webtext_rules(t)])
    sig = docs.select(
        "doc_id",
        "lang",
        wc.alias("wcnt"),
        F.round(quality_score(t) * 10000).cast("bigint").alias("q_e4"),
        fingerprint(t).alias("fp"),
        keep.cast("int").alias("keep"),
    )
    fpc = sig.groupBy("fp").agg(F.count(F.lit(1)).alias("c"))
    sig.join(fpc, "fp").createOrReplaceTempView("corpus_card_sig")
    return spark.sql(
        """
        SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang_g,
               count(*) AS n_docs,
               CAST(sum(wcnt) AS BIGINT) AS total_words,
               CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
               round(sum(q_e4) / count(*), 4) AS mean_quality_e4,
               CAST(sum(keep) AS BIGINT) AS n_kept
        FROM corpus_card_sig
        GROUP BY GROUPING SETS ((lang), ())
        """
    )


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T68: MOSS-style near-dup PAIR detection over winnowing fingerprints —
    the local-match guarantee family (any shared run ≥ w+k−1 chars yields a
    shared fingerprint), complementing MinHash (global Jaccard) and SimHash
    (Hamming).  Fingerprints act as LSH keys: explode → equi-join on fp →
    per-pair shared-count hash agg, confirm at ≥ 10 shared (top-decile of intersecting pairs on this fixture) — never a doc×doc
    product.  At 100 TB the hot-fp cap (boilerplate fingerprints) follows
    the T3 banded-bucket pattern; the audited subset here keeps the oracle
    pair count exact."""
    from pdf_drawing_ocr_recognition_spark.functions.text import (
        kgram_hashes,
        winnow_minima,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    par = spark.sparkContext.defaultParallelism
    hashed = (
        docs.repartition(par)
        .select("doc_id", kgram_hashes(F.col("text"), 8).alias("gh"))
        .repartition(par, "doc_id")
    )
    fps = hashed.select(
        "doc_id", F.explode(winnow_minima(F.col("gh"), 6)).alias("fp")
    )
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= 10)
    )


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T69: threshold boilerplate-line removal (operators/dedup.py:
    boilerplate_line_removal) — the CCNet per-shard line-dedup policy: a
    line occurring in ≥ 3 distinct documents of the same host is removed
    from EVERY document (contrast T47's first-occurrence paragraph dedup).
    A multi-line twin is derived deterministically (per-source header, a
    doc_id%5 nav line, a doc_id%2 copyright footer around the unique body)
    — identical derivation in the DuckDB oracle; reassembled text compared
    by md5."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import (
        boilerplate_line_removal,
    )

    docs = _t(spark, sf_dir, "documents")
    twin = F.concat(
        F.lit("HEADER "),
        F.col("source"),
        F.lit("\n"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("NAV | Home | About\n")).otherwise(
            F.lit("")
        ),
        F.col("text"),
        F.when(
            F.col("doc_id") % 2 == 0, F.lit("\nCopyright Example Corp")
        ).otherwise(F.lit("")),
    )
    pages = docs.select("doc_id", "source", twin.alias("text"))
    out = boilerplate_line_removal(
        pages, "text", "doc_id", host_col="source", min_docs=3
    )
    return out.select(
        "doc_id",
        "source",
        F.md5(F.encode(F.col("text"), "utf-8")).alias("text_fp"),
        "n_lines_kept",
        "n_lines_dropped",
    )


def q_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T70: exact max-min-fair crawl-budget waterfilling
    (operators/politeness.py:crawl_budget_waterfill) — the frontier
    scheduler's per-host fetch allocation under a global budget, solved in
    CLOSED FORM from the demand histogram (the T64/T65 pattern: prefix sums
    over distinct demand values, one scalar breakpoint row broadcast back)
    instead of iterative level-raising; deterministic remainder assignment.
    Demand derived from events (host = user_id mod 40); budget 6000."""
    from pdf_drawing_ocr_recognition_spark.operators.politeness import (
        crawl_budget_waterfill,
    )

    ev = _t(spark, sf_dir, "events")
    demands = ev.groupBy(
        F.concat(F.lit("h"), (F.col("user_id") % 40).cast("string")).alias(
            "host"
        )
    ).agg(F.count(F.lit(1)).alias("demand"))
    return crawl_budget_waterfill(demands, budget=6000)


def q_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T82: corpus concentration audit — the Herfindahl–Hirschman index of
    the source mix plus the head share, the diversity number a release
    card reports (an HHI drifting up means the corpus is collapsing onto
    few sources).  Exact-rational: HHI = Σ n_s² / N² as BIGINT
    numerator/denominator (ratios are the only floats, round 6); one
    map-side-combinable count per source, then source-dim arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("hhi_num"),
        (F.sum("n") * F.sum("n")).cast("bigint").alias("hhi_den"),
        F.max("n").cast("bigint").alias("top_n"),
        F.sum("n").cast("bigint").alias("n_total"),
    ).select(
        "n_sources",
        "hhi_num",
        "hhi_den",
        F.round(F.col("hhi_num") / F.col("hhi_den"), 6).alias("hhi"),
        F.round(F.col("top_n") / F.col("n_total"), 6).alias("top_share"),
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T86: Count-Min sketch heavy hitters — frequency estimates for a
    candidate term set from a fixed d×w integer sketch (Cormode &
    Muthukrishnan 2005) instead of a vocabulary-sized exact count.  The
    build is ONE map-side-combinable hash agg whose post-shuffle
    cardinality is ≤ d·16^p rows regardless of corpus size; probing joins
    the (candidate × d) frame against the broadcast sketch dim and takes
    min over the d rows (never underestimates — pytest-pinned).  The d
    hash rows come from ONE md5 per item — d disjoint hex windows, the
    MinHash window discipline (functions/dedup.py) — all arithmetic exact
    integers, so build + probe + min replays bit-identically in DuckDB.
    Top-20 by (est DESC, token ASC) total order."""
    from pdf_drawing_ocr_recognition_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
    sketch = cms_build(toks, "w", depth=4, prefix_len=3)
    probes = (
        docs.filter(F.col("doc_id") % 37 == 0)
        .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
        .distinct()
    )
    est = cms_estimate(sketch, probes, "w", depth=4, prefix_len=3, est_col="est_count")
    return (
        est.orderBy(F.desc("est_count"), F.asc("w"))
        .limit(20)
        .select(F.col("w").alias("token"), "est_count")
    )


def q_dedup_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T97: cross-source duplication attribution — the release-card matrix
    "which sources duplicate which": the T3 MinHash/LSH candidate pairs
    joined to their sources on both sides, normalized to an unordered
    (least, greatest) source pair, with pair counts and share of all
    candidate pairs.  Signatures shuffle, never documents; the matrix is
    source²-bounded.  Answers the curation question 'is mirror-site X
    flooding my corpus with copies of Y'."""
    base = q_minhash_lsh_pairs(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    srcs = docs.select("doc_id", "source")
    j = (
        base.join(
            srcs.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("_sa")
            ),
            "doc_a",
        )
        .join(
            srcs.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("_sb")
            ),
            "doc_b",
        )
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
    )
    per = j.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    tot = per.agg(F.sum("n_pairs").alias("_t"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source_a",
        "source_b",
        "n_pairs",
        F.round(F.col("n_pairs") / F.col("_t"), 4).alias("pair_share"),
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T96: contrastive-pair mining — per anchor the nearest SAME-label
    neighbor (positive) and nearest DIFFERENT-label neighbor (hard
    negative) within the anchor's k-means list (hard negatives live near
    in embedding space, so the IVF cell bound is the mining recipe, not
    just an optimization).  Both selections are min_by hash aggregates
    over (-cos, cand_id) — no window sort
    (operators/similarity.py:contrastive_pairs)."""
    from pdf_drawing_ocr_recognition_spark.operators.similarity import (
        contrastive_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 16)
    anchors = emb.filter(F.col("vec_id") < 20)
    return contrastive_pairs(emb, cents, anchors, dim=64)


def q_weighted_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T95: fixed-size WEIGHTED sample per stratum — the T89 race ranked
    within each language (keep 10 per lang, inclusion ∝ n_chars), the
    weight-aware complement of T54's uniform quota.  Catalyst rewrites the
    rank-limit into WindowGroupLimit (partial group-limit below the
    exchange — plan-asserted for the T54 twin), and the priority
    arithmetic is the T89 engine-portable form, so the per-stratum cuts
    hash-match the DuckDB QUALIFY twin
    (operators/sampling.py:weighted_quota_sample)."""
    from pdf_drawing_ocr_recognition_spark.operators.sampling import (
        weighted_quota_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return weighted_quota_sample(docs, 10, "n_chars", ("lang",), "doc_id")


def q_stupid_backoff_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T94: Stupid-Backoff trigram LM scoring (Brants et al. 2007 — the
    n-gram model built FOR distributed count tables): per-doc mean of
    S(w3|w1w2) with count-cutoff pruning (cutoff 2 per order) and α=0.4,
    every branch a pure-integer quantization (floor of 1e6/4e5/1.6e5
    count ratios — no float arithmetic anywhere), audited subset
    doc_id%11==0 filtered BEFORE the joins; trigram/bigram dims shuffle-
    join on their keys, unigram dim broadcasts, per-doc backoff-level hit
    counts carried for pruning observability (operators/lm.py)."""
    from pdf_drawing_ocr_recognition_spark.operators.lm import (
        stupid_backoff_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    return stupid_backoff_scores(
        docs, prune_min=2, score_pred=F.col("doc_id") % 11 == 0
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T93: round-4 curation composition, end to end in ONE plan — the
    modern quality-gate recipe: (1) hashed linear classifier margin gate
    (T87, broadcast weight dim, keep margin > the calibrated operating
    point), (2) exact dedup on the
    survivors (T1, min-key per md5 digest), (3) Efraimidis–Spirakis
    weighted sample of 25 by n_chars (T89, TakeOrdered race).  Every stage
    is individually oracled; this query oracles their COMPOSITION (stage
    boundaries are where engines usually disagree — dedup ties, sample
    cut).  Output carries the margin through for audit."""
    from pdf_drawing_ocr_recognition_spark.operators.classifier import (
        hashed_token_features,
        linear_margin,
    )
    from pdf_drawing_ocr_recognition_spark.operators.dedup import exact_dedupe
    from pdf_drawing_ocr_recognition_spark.operators.sampling import (
        weighted_sample_wor,
    )

    docs = _t(spark, sf_dir, "documents")
    weights = (
        spark.range(256)
        .select(F.lpad(F.lower(F.hex(F.col("id"))), 2, "0").alias("b"))
        .select(
            "b",
            (
                F.ascii(F.substring("b", 1, 1)) * 31
                + F.ascii(F.substring("b", 2, 1))
                - 2400
            )
            .cast("long")
            .alias("w"),
        )
    )
    margins = linear_margin(hashed_token_features(docs, prefix_len=2), weights)
    kept = docs.join(
        margins.filter(F.col("margin") > -11000).select("doc_id", "margin"),
        "doc_id",
    )
    unique = exact_dedupe(kept)
    sampled = weighted_sample_wor(unique, 25, "n_chars", "doc_id", seed="cur")
    return sampled.join(
        unique.select("doc_id", "margin"), "doc_id"
    ).select("doc_id", "n_chars", "priority_e6", "margin")


def q_sq8_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T92: SQ8 scalar-quantized ANN — the Faiss-SQ8 memory path: corpus
    embeddings stored as one byte per dimension (8× less than float64),
    queries stay exact and score against the RECONSTRUCTED store
    (asymmetric distance), per-query shortlist of 40 by approx cosine,
    exact rerank to top-10.  Quantize→reconstruct→shortlist→rerank all
    replay bit-identically in DuckDB (indexed list lambdas mirror
    mn + code·Δ).  Output contract = brute_force_topk; equality with it
    on this corpus is pytest-pinned (operators/quantize.py)."""
    from pdf_drawing_ocr_recognition_spark.operators.quantize import sq8_topk

    emb = _t(spark, sf_dir, "embeddings")
    return sq8_topk(emb, emb.filter(F.col("vec_id") < 5), k=10, shortlist=40)


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T90: BPE tokenizer training, the corpus-touching stage oracled —
    word-TYPE frequencies (the single corpus-scale pass, map-side
    combinable) symbolized to chars+'</w>' and reduced to freq-weighted
    adjacent-pair counts: exactly the table the first merge argmax reads.
    Top-30 by (count DESC, pair ASC).  The iterative merge loop runs on
    this vocab dim only and is pytest-pinned identical to the pure
    kernel twin (operators/bpe.py, kernel/bpe.py)."""
    from pdf_drawing_ocr_recognition_spark.operators.bpe import (
        _pair_counts,
        _symbolize,
        word_frequencies,
    )

    docs = _t(spark, sf_dir, "documents")
    counts = _pair_counts(_symbolize(word_frequencies(docs)))
    return counts.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b")).limit(30)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T89: weighted sampling without replacement (Efraimidis–Spirakis
    exponential race) — fixed-size corpus subsample with inclusion odds
    proportional to a weight column (here n_chars), as one narrow codegen
    projection + a global TakeOrdered top-n: no sequential draw state, no
    corpus sort/shuffle.  u from md5(seed|key) 13-hex digits (exact in a
    double), priority quantized floor(1e6·ln u) then compared as the IEEE
    ratio L/w — integer inputs, correctly-rounded division, bit-identical
    in DuckDB (operators/sampling.py:weighted_sample_wor)."""
    from pdf_drawing_ocr_recognition_spark.operators.sampling import (
        weighted_sample_wor,
    )

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample_wor(docs, 50, "n_chars", "doc_id", seed="wsw")


def q_semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T88: SemDeDup (Abbas et al. 2023) — semantic dedup in embedding
    space: k-means-list assignment (the T10 IVF argmax), within-list
    cosine pairs only (compare cost = sum of squared LIST sizes, never
    corpus²), and for every pair at cos >= eps drop the centroid-closer
    member (the paper's keep-the-outlier exemplar rule; affinity tie →
    keep lower id).  Composes the oracled ivf_assign + pair-cosine kernels
    (operators/similarity.py:semantic_dedup); survivors carry their list
    and rounded affinity."""
    from pdf_drawing_ocr_recognition_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 16)
    return semantic_dedup(emb, cents, eps=0.3, metric_round=4, dim=64)


def q_quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T87: hashed-feature linear quality classifier, inference pass — the
    fastText-style page-quality gate (CCNet / LLaMA pipelines) as pure
    relational algebra: token → md5-hex-prefix bucket, counts reduced
    map-side to ≤256 rows/doc, margin = Σ c·w via a broadcast 256-row
    weight dim + one hash agg (operators/classifier.py:linear_margin).
    Weights here are a deterministic in-plan stand-in (ascii arithmetic on
    the bucket's hex chars — mixed signs) so DuckDB replays the identical
    model; production drops in `train_batch_perceptron` output (pytest).
    All-integer margins — exact under any partitioning."""
    from pdf_drawing_ocr_recognition_spark.operators.classifier import (
        hashed_token_features,
        linear_margin,
    )

    docs = _t(spark, sf_dir, "documents")
    feats = hashed_token_features(docs, prefix_len=2)
    weights = (
        spark.range(256)
        .select(F.lpad(F.lower(F.hex(F.col("id"))), 2, "0").alias("b"))
        .select(
            "b",
            (
                F.ascii(F.substring("b", 1, 1)) * 31
                + F.ascii(F.substring("b", 2, 1))
                - 2400
            )
            .cast("long")
            .alias("w"),
        )
    )
    m = linear_margin(feats, weights)
    return m.select(
        "doc_id", "margin", "n_tokens", (F.col("margin") > 0).alias("keep")
    )


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T81: PMI collocation extraction (Church & Hanks) — the multiword-
    expression mining pass of a text pipeline: top-20 adjacent word pairs
    by pointwise mutual information ln(p(w1,w2)/(p(w1)p(w2))), min bigram
    count 5, quantized floor(1e6·ln) per the T58 discipline (per-row value,
    no float accumulation).  Scale posture: bigram/unigram counts are
    map-side-combinable hash aggs; everything after the ≥5 threshold runs
    on a vocabulary²-bounded candidate dim (Zipf ≪ corpus), marginals
    broadcast onto it twice; top-20 via TakeOrdered-able window.  At web
    scale the integer cross products in the ratio exceed int64 — compute
    the ratio in log space (ln n2 + 2·ln Nu − ln Nb − ln c1 − ln c2) there;
    the direct rational form is exact-input at these corpus sizes."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos", "w"),
    )
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    bg = toks.select(
        F.col("w").alias("w1"), F.lead("w").over(w_ord).alias("w2")
    ).filter(F.col("w2").isNotNull())
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n1"))
    tot = toks.agg(F.count(F.lit(1)).alias("nu")).crossJoin(
        bg.select(F.count(F.lit(1)).alias("nb"))
    )
    cand = (
        c2.where(F.col("n2") >= 5)
        .join(F.broadcast(c1.selectExpr("w as w1", "n1 as c1a")), "w1")
        .join(F.broadcast(c1.selectExpr("w as w2", "n1 as c1b")), "w2")
        .crossJoin(F.broadcast(tot))
    )
    pmi = F.floor(
        F.lit(1e6)
        * F.log(
            (F.col("n2") * F.col("nu") * F.col("nu"))
            / (F.col("nb") * F.col("c1a") * F.col("c1b"))
        )
    ).cast("bigint")
    ranked = cand.select("w1", "w2", "n2", pmi.alias("pmi_scaled")).withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(
                F.col("pmi_scaled").desc(), F.col("w1").asc(), F.col("w2").asc()
            )
        ),
    )
    return ranked.where(F.col("rnk") <= 20).select(
        "w1", "w2", "n2", "pmi_scaled", F.col("rnk").cast("int").alias("rnk")
    )


def q_source_quality_priors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T80: empirical-Bayes source-quality priors (operators/mixing.py:
    shrunk_group_means) — per-source mean quality shrunk toward the global
    mean with prior strength 20 (the small-host noise guard before using
    host quality as a crawl/selection prior).  Quality is the q·10⁴ BIGINT
    quantization (T67 discipline) so all sums are exact; one group agg +
    a 1-row broadcast of the global totals."""
    from pdf_drawing_ocr_recognition_spark.functions.text import quality_score
    from pdf_drawing_ocr_recognition_spark.operators.mixing import (
        shrunk_group_means,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        F.round(quality_score(F.col("text")) * 10000)
        .cast("bigint")
        .alias("q_e4"),
    )
    return shrunk_group_means(docs, "source", "q_e4", prior_strength=20)


def q_category_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T78: day-over-day distribution drift (operators/cdc.py:
    category_drift) — exact-rational total-variation distance of the
    event-type mix between consecutive days; the upstream-shift monitor.
    Only the (day, type) count touches corpus-scale data; all drift
    arithmetic runs on the days×types dim with BIGINT cross products."""
    from pdf_drawing_ocr_recognition_spark.operators.cdc import category_drift

    ev = _t(spark, sf_dir, "events")
    out = category_drift(ev, "ts", "event_type")
    # day as yyyy-MM-dd STRING: pandas widens DATE to datetime64, so the
    # value-hash would diverge on representation, not value
    return out.select(
        F.date_format(F.col("day"), "yyyy-MM-dd").alias("day"),
        "tvd_num",
        "tvd_den",
        "tvd",
    )


def q_alpha_sampling_quotas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T77: temperature-sampled language quotas — the XLM-R/mBERT
    multilingual sampling rule p_l ∝ q_l^α at α = 0.5, made EXACT: weights
    floor(1e6·√n_l) (IEEE sqrt is correctly rounded in both engines →
    bitwise-portable integers) apportioned by Hamilton largest-remainder
    (operators/mixing.py:largest_remainder_quotas) so Σ quota ≡ budget with
    zero float accumulation.  Budget 1000 docs over the language dim."""
    from pdf_drawing_ocr_recognition_spark.operators.mixing import (
        largest_remainder_quotas,
    )

    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    weights = counts.select(
        "lang",
        F.floor(F.lit(1e6) * F.sqrt(F.col("n_docs")))
        .cast("bigint")
        .alias("w"),
    )
    out = largest_remainder_quotas(weights, "w", 1000, key_col="lang")
    return out.join(counts, "lang").select(
        "lang", "n_docs", F.col("w").alias("weight_scaled"), "quota"
    )


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T76: vocabulary build + OOV coverage — the tokenizer-prep audit: the
    top-20 corpus vocabulary by frequency (count DESC, term ASC — a total
    order), then each document's out-of-vocabulary token fraction.  Scale
    posture: term frequencies reduce map-side to one row per (task, term);
    the ranked vocabulary is VOCABULARY-sized (Zipf: ≪ corpus) so its
    top-V window is bounded and the resulting V-row dim broadcasts back
    onto the token stream; the per-doc OOV agg is one hash agg."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    )
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        freq.withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), F.col("w").asc())
            ),
        )
        .where(F.col("r") <= 20)
        .select("w")
    )
    marked = toks.join(
        F.broadcast(vocab.withColumn("_iv", F.lit(True))), "w", "left"
    )
    oov = F.sum(F.when(F.col("_iv").isNull(), 1).otherwise(0))
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        oov.cast("bigint").alias("n_oov"),
        F.round(oov / F.count(F.lit(1)), 4).alias("oov_pct"),
    )


def q_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T75: weight-balanced export sharding (operators/packing.py:
    balanced_shards) — snake/LPT dealing over the global (n_chars DESC,
    doc_id) rank into 7 shards; the rank comes from the T43 two-job range
    sort, never a single-reducer window.  Final imbalance bounded by one
    document's weight."""
    from pdf_drawing_ocr_recognition_spark.operators.packing import (
        balanced_shards,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return balanced_shards(docs, "n_chars", 7).select(
        "doc_id", "n_chars", "rank", "shard"
    )


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T74: train-test overlap report (the GPT-3/PaLM appendix-style
    contamination table) — BENCHMARK-item-centric, contrast
    `decontamination` (corpus-doc-centric): for each held-out benchmark
    item, the fraction of its distinct 5-gram shingles appearing anywhere
    in the training corpus, plus the dirty flag at the standard 30%
    threshold.  Scale posture: the benchmark shingle set is small by
    construction and broadcasts twice — once semi-joining the corpus
    shingle stream map-side (only benchmark-matching shingles survive the
    scan stage), once marking matches; the distinct-hit set is bounded by
    the benchmark's own shingle count, never the corpus's."""
    from pdf_drawing_ocr_recognition_spark.functions.dedup import word_shingles

    docs = _t(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % 10 == 7
    bench_sh = (
        docs.filter(is_bench)
        .select("doc_id", F.explode(word_shingles(F.col("text"), 5)).alias("sh"))
        .distinct()
    )
    totals = bench_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    hit_set = (
        docs.filter(~is_bench)
        .select(F.explode(word_shingles(F.col("text"), 5)).alias("sh"))
        .join(F.broadcast(bench_sh.select("sh").distinct()), "sh", "left_semi")
        .distinct()
    )
    matched = (
        bench_sh.join(F.broadcast(hit_set), "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    ratio = F.coalesce(F.col("n_matched"), F.lit(0)) / F.col("n_shingles")
    return (
        totals.join(matched, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_matched"), F.lit(0))
            .cast("bigint")
            .alias("n_matched"),
            F.round(ratio, 4).alias("overlap_pct"),
            (ratio >= 0.3).alias("dirty"),
        )
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T73: DSIR importance-resampling weights (operators/mixing.py:
    dsir_logweights, Xie et al. NeurIPS 2023) — per-doc hashed-unigram
    log-likelihood ratio of the target domain (lang='en') vs the raw
    corpus, 256 md5-prefix buckets, add-one smoothing, integer-quantized
    per-bucket log-ratios (floor 1e6·ln) so all aggregates are exact."""
    from pdf_drawing_ocr_recognition_spark.operators.mixing import (
        dsir_logweights,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "is_target", F.col("lang") == "en"
    )
    return dsir_logweights(docs, "is_target")


# fixed lexical query set for BM25 retrieval (shared with the oracle SQL);
# 'dup' is the one rare vocabulary term, so idf contrast is exercised
BM25_QUERIES = [
    ("q1", "hash"),
    ("q1", "join"),
    ("q1", "dup"),
    ("q2", "spark"),
    ("q2", "stream"),
    ("q3", "vector"),
    ("q3", "sort"),
    ("q3", "dup"),
]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T72: BM25 lexical retrieval top-k (operators/retrieval.py:bm25_topk)
    — the sparse baseline next to the dense ANN stack: broadcast query-term
    semi-join prunes the token stream map-side, per-term contributions are
    integer-quantized (floor 1e6, the T58 determinism discipline) before the
    per-(query, doc) sum, top-10 per query via bounded window."""
    from pdf_drawing_ocr_recognition_spark.operators.retrieval import (
        bm25_topk,
    )

    docs = _t(spark, sf_dir, "documents")
    qt = spark.createDataFrame(BM25_QUERIES, "query_id string, term string")
    return bm25_topk(docs, qt, top_k=10)


PHRASE_QUERIES = [
    ("p2_table", "table table"),
    ("p3_scan", "fast key scan"),
    ("p2_value", "value fast"),
    ("p3_rep", "scan scan scan"),
    ("p3_art", "a a the"),
    ("p2_query", "query big"),
]


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T116: exact-phrase retrieval (operators/retrieval.py:phrase_search)
    — the positional-inverted-index query next to T72's BM25 bag-of-words:
    a phrase of m tokens matches at position p iff token i sits at p+i for
    every offset (count(distinct offset) == m, an exact integer aggregate).
    Finds VERBATIM benchmark sentences where n-gram-overlap decontamination
    only finds shared vocabulary.  Broadcast phrase-term dim prunes the
    token stream map-side; the one data shuffle is keyed (query, doc,
    candidate start) and bounded by query-term postings, never the corpus.
    The query set includes a repeated-term phrase ('scan scan scan') so the
    offset algebra — not string splitting — is what the hash match proves;
    overlapping occurrences each count (`aaa` appears 3× in `aaaaa`)."""
    from pdf_drawing_ocr_recognition_spark.operators.retrieval import (
        phrase_search,
    )

    docs = _t(spark, sf_dir, "documents")
    ph = spark.createDataFrame(PHRASE_QUERIES, "query_id string, phrase string")
    return phrase_search(docs, ph)


def _phrase_values() -> str:
    """The T116 phrase-query dim as a VALUES list — same Python literal the
    Spark query builds its DataFrame from (single source of truth)."""
    return ", ".join(f"('{q}', '{p}')" for q, p in PHRASE_QUERIES)


def q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T71: cross-document exact-substring dedup (operators/dedup.py:
    exact_substring_dedupe) — the ExactSubstr pass of Lee et al. 2022 /
    RefinedWeb: every 8-token window whose bytes occur ≥2 times corpus-wide
    is duplicated, and all covered tokens are removed from EVERY document
    (interval-union coverage, linear Arrow sweep), contrast T47's
    first-occurrence paragraph keep and T69's doc-frequency line threshold.
    Reassembled text compared by md5."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import (
        exact_substring_dedupe,
    )

    docs = _t(spark, sf_dir, "documents")
    out = exact_substring_dedupe(docs, "text", "doc_id", k=8, min_count=2)
    return out.select(
        "doc_id",
        F.md5(F.encode(F.col("text"), "utf-8")).alias("text_fp"),
        "n_tokens_kept",
        "n_tokens_dropped",
    )


def q_exact_substring_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T184: BYTE-granular exact-substring dedup (operators/dedup.py:
    exact_substring_dedupe_bytes) — the exact semantics of Lee et al.
    2022's suffix-array ExactSubstr pass at threshold k=40 bytes, closing
    T71's documented token-alignment approximation: stride-1 k-byte
    windows cover EXACTLY the bytes inside some duplicated span of length
    >= k (proof in the operator docstring), so nothing slips through at
    any offset.  Window digests are one narrow codegen stage (explode of
    sequence + byte-addressed substring + md5 — no per-doc window/sort,
    unlike the token form); removal is widened to whole UTF-8 code
    points, a no-op here (the fixture corpus is ASCII — asserted by
    tests/test_exact_substring_bytes.py — so the DuckDB twin may replay
    byte windows with character substring).  Reassembled text compared
    by md5."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import (
        exact_substring_dedupe_bytes,
    )

    docs = _t(spark, sf_dir, "documents")
    out = exact_substring_dedupe_bytes(
        docs, "text", "doc_id", k=40, min_count=2
    )
    return out.select(
        "doc_id",
        F.md5(F.encode(F.col("text"), "utf-8")).alias("text_fp"),
        "n_bytes_kept",
        "n_bytes_dropped",
    )


def q_hll_distinct_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T98: HyperLogLog distinct-word sketch per language — the mergeable,
    storable distinct-count TABLE that `approx_count_distinct` computes
    internally but never exposes (Flajolet et al. 2007).  The build is one
    codegen rho projection + one map-side-combinable `max` hash agg whose
    exchange carries <= m=256 rows per lang regardless of vocabulary size;
    registers and the integer-scaled harmonic denominator are exact BIGINTs
    and the raw estimate is ONE literal/integer IEEE division, so the whole
    sketch replays bit-identically in DuckDB (rho via TRIM/LENGTH/BIN —
    char-identity probed).  Small-range linear counting (ln, libm-bound)
    stays driver-side in `hll_cardinality` by design."""
    from pdf_drawing_ocr_recognition_spark.operators.sketches import (
        hll_build,
        hll_summary,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    )
    regs = hll_build(toks, "w", group_cols=("lang",), bucket_hex=2)
    return hll_summary(regs, group_cols=("lang",), bucket_hex=2).orderBy("lang")


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T118: mergeable log-binned quantile histogram (HDR-histogram /
    DDSketch family in EXACT integer arithmetic) — per-language p50/p90/p99
    of document length read off a ≤ ~500-row sketch.  Each power-of-two
    range splits into 2^3 sub-buckets (relative error ≤ 12.5%, values < 8
    exact); bin ids from length(bin(v)) shift arithmetic — no floats, no
    UDFs — so the whole sketch, the ceil(q·n) rank targets ((ppm·n+999999)
    div 10^6), and the bin bounds replay bit-identically in DuckDB.  The
    corpus-touching stage is ONE map-side-combinable count agg bounded by
    the bin universe, never the value cardinality; unlike T35's
    approx_percentile (opaque GK sketch, rows-only contract) this quantile
    path is a first-class TABLE: storable, mergeable (bin-wise sum; batch
    ≡ union pytest-pinned), and fully oracle-checkable."""
    from pdf_drawing_ocr_recognition_spark.operators.sketches import (
        qhist_build,
        qhist_quantiles,
    )

    docs = _t(spark, sf_dir, "documents")
    hist = qhist_build(docs, "n_chars", group_cols=("lang",), sub_bits=3)
    return qhist_quantiles(
        hist, (500000, 900000, 990000), group_cols=("lang",), sub_bits=3
    )


TAXONOMY = [
    ("join", "joins"),
    ("merge", "joins"),
    ("hash", "joins"),
    ("table", "storage"),
    ("scan", "storage"),
    ("column", "storage"),
    ("row", "storage"),
    ("stream", "streaming"),
    ("batch", "streaming"),
    ("window", "streaming"),
    ("vector", "ml"),
    ("embedding", "ml"),
]


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T113: vocabulary-growth (Heaps'-law) audit from HLL sketches — the
    distinct-word estimate over NESTED deterministic corpus samples
    (doc_id%10 < k for k = 2,4,6,8,10), the datasheet curve that says
    whether a corpus is still contributing new vocabulary or re-treading
    (sublinear growth = diminishing returns).  At 100 TB the exact curve
    is five vocabulary-sized shuffles; here it is ONE pass — each token
    row fans out to the <= 5 thresholds that include it and the T98
    register agg bounds every exchange at 5 x m rows.  filled/scaled_sum
    are exact integers; growth monotonicity is structural (nested
    samples -> register-wise max can only grow)."""
    from pdf_drawing_ocr_recognition_spark.operators.sketches import (
        hll_build,
        hll_summary,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % 10).alias("_b"),
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
    )
    fanned = toks.select(
        "w",
        F.explode(
            F.filter(
                F.array(*[F.lit(k) for k in (2, 4, 6, 8, 10)]),
                lambda k: F.col("_b") < k,
            )
        ).alias("sample_tenths"),
    )
    regs = hll_build(fanned, "w", group_cols=("sample_tenths",), bucket_hex=2)
    return hll_summary(regs, group_cols=("sample_tenths",), bucket_hex=2).orderBy(
        "sample_tenths"
    )


def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T112: MinHash estimator calibration — for every T3 candidate pair,
    the sketch's Jaccard ESTIMATE (fraction of agreeing signature windows)
    next to the TRUE shingle-set Jaccard, both as exact ppm integers (DIV,
    no float): the table that tells you whether your banding threshold
    actually sits where the S-curve math says it does.  Cost is bounded by
    the candidate-pair set (never all-pairs); signatures and shingle sets
    are computed once per side via the oracled T2 kernel."""
    from pdf_drawing_ocr_recognition_spark.functions.dedup import word_shingles
    from pdf_drawing_ocr_recognition_spark.operators.dedup import (
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    sigs = minhash_signatures(docs)
    grams = docs.select(
        "doc_id", F.array_distinct(word_shingles(F.col("text"), 3)).alias("g")
    )
    side = lambda suf: sigs.join(grams, "doc_id").select(  # noqa: E731
        F.col("doc_id").alias(f"doc_{suf}"),
        F.col("sig").alias(f"_s{suf}"),
        F.col("g").alias(f"_g{suf}"),
        F.size("g").alias(f"_n{suf}"),
    )
    j = pairs.join(side("a"), "doc_a").join(side("b"), "doc_b")
    matches = F.size(
        F.filter(
            F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: x == y),
            lambda z: z,
        )
    )
    # |a∪b| = |a|+|b|−|a∩b| (_ga/_gb are array_distinct by construction):
    # one set operation per candidate pair, no union array materialized.
    scored = j.select(
        "doc_a",
        "doc_b",
        (F.lit(62500).cast("bigint") * matches.cast("bigint")).alias("est_ppm"),
        "_na",
        "_nb",
        F.size(F.array_intersect("_ga", "_gb")).cast("bigint").alias("_i"),
    )
    return scored.select(
        "doc_a",
        "doc_b",
        "est_ppm",
        F.when(
            F.col("_na") + F.col("_nb") - F.col("_i") == 0,
            F.lit(0).cast("bigint"),
        )
        .otherwise(F.expr("CAST((1000000 * _i) DIV (_na + _nb - _i) AS BIGINT)"))
        .alias("true_ppm"),
    ).withColumn("err_ppm", (F.col("est_ppm") - F.col("true_ppm")).cast("bigint"))


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T111: recall@10 of the IVF ANN (T10, nprobe=4/16) against the
    brute-force cosine ground truth (T8) — the evaluation every ANN
    deployment runs before trusting its index: per-query |approx cap
    truth| / k as an exact ppm integer.  Composes two individually-oracled
    queries; the oracle composes the SAME two SQL strings, so evaluation
    and inputs share one source of truth.  Join is (query, neighbor)-keyed
    over two k-bounded frames — evaluation cost is queries x k, never
    corpus-sized."""
    approx = q_ivf_topk(spark, sf_dir).select("query_id", "neighbor_id")
    truth = q_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hits = approx.join(truth, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    base = truth.select("query_id").distinct()
    return base.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        F.expr(
            "CAST((1000000 * coalesce(n_hits, 0)) DIV 10 AS BIGINT)"
        ).alias("recall_ppm"),
    )


def q_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T110: the production dedup CASCADE in one plan with first-drop
    attribution — exact (md5) -> normalized (T53 casefolded key) ->
    MinHash/LSH pairwise near-dup, cheapest-first so each costlier stage
    sees only survivors; every doc reports the FIRST stage that dropped it
    (T62's funnel-attribution shape, for dedup).  Each stage is oracled
    individually elsewhere; THIS query oracles their boundaries (keeper
    ties, survivor handoff) end to end."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import dedup_cascade

    docs = _t(spark, sf_dir, "documents")
    return dedup_cascade(docs)


def q_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T109: cross-source quality-score calibration — each doc's T12
    quality replaced by its percent-rank WITHIN its source, so 'keep the
    top 30%' cuts every source fairly instead of letting one source's
    inflated scorer dominate the gate.  One rank window PARTITIONED BY
    source (independent spillable sorts, no global sort), (score, doc_id)
    total order for engine-identical ties."""
    from pdf_drawing_ocr_recognition_spark.functions.text import quality_score
    from pdf_drawing_ocr_recognition_spark.operators.mixing import (
        per_group_percentiles,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )
    return per_group_percentiles(scored, "source", "quality", "doc_id")


def q_pca_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T108: embedding-space outlier scores — squared reconstruction error
    against the k=8 PCA model (T99), top-20 by error: the curation gate
    that catches corrupt embeddings / modality mixups before dedup & ANN
    trust the geometry.  One narrow Arrow pass, cumsum-stable residuals.
    ROWS-ONLY BY CONTRACT (like compression_signals): the components come
    from the driver-side LAPACK eigh, which has no DuckDB twin — the
    oracled surface of this stack is `pca_gram` (every integer the model
    is fit from), and the eigen/outlier stages are pinned by the NumPy
    twin + planted-outlier/full-rank-zero pytest invariants."""
    from pdf_drawing_ocr_recognition_spark.operators.pca import (
        gram_moments,
        pca_fit,
        pca_outlier_scores,
    )

    emb = _t(spark, sf_dir, "embeddings")
    model = pca_fit(gram_moments(emb, "embedding", 64), 64, k=8)
    scores = pca_outlier_scores(emb, "embedding", model, ("vec_id",))
    return (
        scores.orderBy(F.desc("recon_err"), F.asc("vec_id"))
        .limit(20)
        .select("vec_id", F.round("recon_err", 6).alias("recon_err"))
    )


def q_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T107: rendezvous (highest-random-weight) sharding — stable doc ->
    shard assignment for export/serving: each key goes to the shard with
    the highest md5(salt|shard|key), so changing the shard count moves
    only the keys the new shard wins (~1/(n+1)) and never reassigns a key
    between surviving shards (pytest-pinned).  Constant x16 explode + ONE
    map-side-combinable max hash agg over a tie-free 'weight:shard'
    string; no window."""
    from pdf_drawing_ocr_recognition_spark.operators.packing import (
        rendezvous_shards,
    )

    docs = _t(spark, sf_dir, "documents")
    return rendezvous_shards(docs, "doc_id", n_shards=16, salt="hrw1")


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T106: per-document n-gram novelty vs the benchmark reference set —
    the scoring complement of T30's binary decontamination drop: every
    corpus doc gets novelty_ppm = 1e6 * (1 - |shingles cap ref| /
    |shingles|) as an exact integer (DIV, no float).  Reference shingles
    distinct + BROADCAST (T51 bloom prefilter is the beyond-broadcast
    path); corpus explodes once, left-joins map-side, one per-doc agg."""
    from pdf_drawing_ocr_recognition_spark.operators.corpus_prep import (
        ngram_novelty,
    )

    docs = _t(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % 10 == 7
    return ngram_novelty(docs.filter(~is_bench), docs.filter(is_bench), n=5)


def q_duplication_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T180 corpus duplication-rate audit (round 5 closing): per-source
    fraction of 5-gram occurrences inside a corpus-wide-duplicated gram —
    the number dataset papers REPORT (Lee et al. 2022 §5; RefinedWeb
    tab. 2) and the before/after receipt for the dedup cascade.  One
    corpus explode, one (source, gram) shuffle, gram totals from the
    partials (the token stream never re-shuffles), exact-integer ppm.
    The fixture's planted boilerplate lines make duplicated grams
    naturally load-bearing at every sf."""
    from pdf_drawing_ocr_recognition_spark.operators.corpus_prep import (
        duplication_rate,
    )

    docs = _t(spark, sf_dir, "documents")
    return duplication_rate(docs, n=5)


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T104: curriculum ordering — fixed-threshold difficulty bins over the
    T12 quality score (a pure codegen projection, NOT ntile whose global
    window is a single-partition sort) + a deterministic md5 shuffle
    position within each bin (rank window PARTITIONED BY bin — each bin
    sorts independently).  The training order is the lexicographic
    (bin, pos_in_bin); no global sequence is ever materialized."""
    from pdf_drawing_ocr_recognition_spark.functions.text import quality_score
    from pdf_drawing_ocr_recognition_spark.operators.mixing import (
        curriculum_order,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select("doc_id", quality_score(F.col("text")).alias("quality"))
    return curriculum_order(scored, "doc_id", "quality", n_bins=4, seed="cur1")


def q_taxonomy_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T103: keyword-taxonomy tagging — the broadcast-dictionary domain
    classifier behind release-card composition shares: tokenize (codegen
    split), explode, BROADCAST join the (term -> topic) dim, per-(doc,
    topic) hit counts, then the per-(lang, topic) profile.  The corpus
    never shuffles by token; the only exchanges are map-side-combinable
    hash aggs bounded by docs x topics.  All-integer, replays in SQL."""
    from pdf_drawing_ocr_recognition_spark.operators.tagging import (
        tag_documents,
        topic_profile,
    )

    docs = _t(spark, sf_dir, "documents")
    tax = spark.createDataFrame(TAXONOMY, "term string, topic string")
    tagged = tag_documents(docs, tax)
    return topic_profile(tagged, docs, group_col="lang").orderBy("lang", "topic")


def q_bitext_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T102: bitext-style mutual-top-1 alignment mining between two corpus
    partitions (labels 0 and 1 stand in for the two languages): a pair
    survives only when each side is the other's cosine top-1
    (forward/backward agreement — the CCMatrix hub-killer), with margin =
    cos(top1) - cos(top2) as confidence (Artetxe & Schwenk 2019, absolute
    variant).  Cosines rounded before ranking so both engines order
    identical values; scoring is one Arrow pass over a broadcast right
    side; at corpus scale the candidate frame is IVF-cell-bounded first
    (T96's bound)."""
    from pdf_drawing_ocr_recognition_spark.operators.similarity import (
        mutual_top1_alignment,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return mutual_top1_alignment(
        emb.filter(F.col("label") == 0),
        emb.filter(F.col("label") == 1),
    ).orderBy("src_id")


def q_source_redundancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T101: source semantic-redundancy matrix — cosine between SOURCE
    CENTROIDS in embedding space (the 'which sources say the same thing'
    release-card view; T97 gives the verbatim-copy twin).  Centroid
    division is skipped (cosine is scale-invariant): per-source per-dim
    SUMS of quantized int64 embeddings are exact, map-side-combined to
    sources x 64 rows, and the sourceSq-bounded dim frame folds
    sequentially in double — replaying exactly as DuckDB's
    list_dot_product.  Embeddings attach to sources via vec_id = doc_id
    (the testdata contract)."""
    from pdf_drawing_ocr_recognition_spark.operators.similarity import (
        group_centroid_cosines,
    )

    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    joined = emb.join(
        docs.select(F.col("doc_id").alias("vec_id"), "source"), "vec_id"
    )
    return group_centroid_cosines(joined, "embedding", "source", dim=64).select(
        F.col("group_a").alias("source_a"),
        F.col("group_b").alias("source_b"),
        "n_a",
        "n_b",
        "cos_centroid",
    )


def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T100: duplicate-aware soft dedup — instead of dropping near-dups,
    every member of a T45 connected component keeps weight = 1/cluster_size
    (exact ppm integer) so each cluster contributes ~one document of
    sampling mass while no text is discarded.  Non-paired docs are
    singletons at full weight.  Signatures shuffle, never documents; the
    size agg is component-keyed.  All-integer arithmetic end to end."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import (
        soft_dedup_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    return soft_dedup_weights(docs, pairs, "doc_id")


def q_pca_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T99: distributed PCA, corpus-touching stage — ONE pass accumulating
    the 64x64 integer Gram upper triangle, first-order sums (j=-1) and row
    count (i=j=-1) from quantized embeddings (floor(e*2^20+0.5), every step
    IEEE-exact).  Per-partition NumPy computes Q.T@Q and emits 2145 scalar
    rows; the final hash agg sums partials — the exchange never carries an
    embedding.  All accumulators exact int64, so this stage replays
    bit-identically in DuckDB; the driver-side 64x64 eigh + projection are
    pinned by a pure-NumPy twin in pytest (the T90 contract: the
    corpus-touching stage is the oracle)."""
    from pdf_drawing_ocr_recognition_spark.operators.pca import gram_moments

    emb = _t(spark, sf_dir, "embeddings")
    return gram_moments(emb, "embedding", 64, scale_bits=20)


ROBOTS_RULES = [
    ("src0.example.com", "/", False),
    ("src0.example.com", "/article/", True),
    ("src1.example.com", "/admin/", False),
    ("src1.example.com", "/api/", False),
    ("src2.example.com", "/article/draft/", False),
    ("src2.example.com", "/article/", True),
    ("src3.example.com", "/static/", False),
    ("src4.example.com", "/api/v1/", False),
    ("src4.example.com", "/api/v1/", True),
]


def _table_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic page corpus with <table> markup: doc i renders one
    header row plus R = 2 + i%3 body rows of C = 2 + i%2 columns, where
    every 5th doc's first body cell spans two COLUMNS (colspan shifts the
    rest of its row right), every 7th doc's last row-1 cell spans two
    ROWS (the hangover steals a slot from row 2, which emits one fewer
    cell), every 11th doc nests a 1x1 inner table inside its LAST row's
    first cell (own table index, text isolated), and ODD docs emit tag
    soup — no </td>/</tr> closers at all — so HTML5 auto-closing is
    load-bearing for half the corpus.  Cell text carries an &amp; entity.
    The DuckDB twin recomputes every grid coordinate from doc_id
    arithmetic, so a hash match proves the WHATWG placement algorithm
    (not just the happy path) end to end."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    did = F.col("doc_id")
    url = F.format_string("http://t%d.example.com/t/%d", did % 17, did)
    r_max = (did % 3) + 2  # body rows 1..r_max
    n_cols = (did % 2) + 2
    s = did % 5 == 0
    v = did % 7 == 0
    nst = did % 11 == 0
    soup = did % 2 == 1
    close_td = F.when(soup, F.lit("")).otherwise(F.lit("</td>"))
    close_tr = F.when(soup, F.lit("")).otherwise(F.lit("</tr>"))
    inner = F.concat(
        F.lit("<table><tr><td>inner d"),
        did.cast("string"),
        F.lit("</td></tr></table>"),
    )
    parts = [F.lit("<table>"), F.lit("<tr>")]
    for j in range(3):  # header row
        seg = F.concat(
            F.lit(f"<th>Hdr {j} d"), did.cast("string"), F.lit("</th>")
        )
        parts.append(F.when(F.lit(j) < n_cols, seg).otherwise(F.lit("")))
    parts.append(F.lit("</tr>"))
    for r in range(1, 5):  # body rows (row r emitted iff r <= r_max)
        row_parts = [F.lit("<tr>")]
        for j in range(3):
            attrs = F.when(
                (F.lit(r) == 1) & s & (F.lit(j) == 0), F.lit(" colspan=\"2\"")
            ).otherwise(
                F.when(
                    (F.lit(r) == 1) & v & (F.lit(j) == n_cols - 1),
                    F.lit(" rowspan=2"),
                ).otherwise(F.lit(""))
            )
            body = F.concat(
                F.lit(f"r{r}c{j} d"),
                did.cast("string"),
                F.lit(" &amp; "),
                F.col("source"),
            )
            tail = F.when(
                (F.lit(r) == r_max) & (F.lit(j) == 0) & nst, inner
            ).otherwise(F.lit(""))
            seg = F.concat(F.lit("<td"), attrs, F.lit(">"), body, tail, close_td)
            in_row = F.when(
                (F.lit(r) == 2) & v, F.lit(j) < n_cols - 1
            ).otherwise(F.lit(j) < n_cols)
            row_parts.append(F.when(in_row, seg).otherwise(F.lit("")))
        row_parts.append(close_tr)
        parts.append(
            F.when(F.lit(r) <= r_max, F.concat(*row_parts)).otherwise(F.lit(""))
        )
    parts.append(F.lit("</table>"))
    html = F.concat(
        F.lit("<html><body><p>pre</p>"), *parts, F.lit("<p>post</p></body></html>")
    )
    return docs.select(url.alias("url"), F.encode(html, "utf-8").alias("html"))


def q_html_table_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T157: HTML <table> extraction (kernel/html_tables.py via the shared
    linear tokenizer; operators/tables.py:extract_html_tables) — the
    web-native twin of the reference's cell-grid reconstruction
    (pdor/pdor_unit.py grid detection + ordered cell assembly, SURVEY.md
    A11/M2-M3): every cell grid-placed by the WHATWG placement algorithm
    with rowspan/colspan occupancy, HTML5 auto-closing (half the fixture
    is closer-free tag soup), nested-table isolation, entity unescape.
    ONE narrow Arrow stage; the oracle recomputes every grid coordinate
    — including the colspan right-shift and the rowspan slot steal — from
    doc_id arithmetic."""
    from pdf_drawing_ocr_recognition_spark.operators.tables import (
        extract_html_tables,
    )

    cells = extract_html_tables(_table_pages(spark, sf_dir))
    return cells.select(
        "url",
        "table_idx",
        "row_idx",
        "col_idx",
        "rowspan",
        "colspan",
        F.col("is_header").cast("int").alias("header_flag"),
        "cell_text",
    )


def q_table_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T157 rollup: per-table shape stats (operators/tables.py:
    table_shape_stats) — the north star's "cell-count histogram" metric
    family: rows, cells, header cells, and rightmost occupied slot
    (col+colspan reach) per extracted table, ONE map-side-combinable hash
    agg over the cell stream.  Oracle composes the same arithmetic CTE
    as the cells query and aggregates it independently."""
    from pdf_drawing_ocr_recognition_spark.operators.tables import (
        extract_html_tables,
        table_shape_stats,
    )

    return table_shape_stats(extract_html_tables(_table_pages(spark, sf_dir)))


def q_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T158: exact set-similarity join via prefix filtering
    (operators/setjoin.py:ppjoin_pairs — Chaudhuri'06 SSJoin / Bayardo'07
    AllPairs / Xiao'08 PPJoin) — EVERY pair with token-set Jaccard ≥ 0.6,
    found without LSH's false negatives and without an all-pairs join:
    tokens globally ordered by rarity, only the (n − ceil(t·n) + 1)-token
    prefixes are indexed (pigeonhole makes that lossless), candidates
    form in-array per posting list with the length filter applied inside
    the expansion, then exact verification.  Corpus: the deterministic
    1/25 sample plus planted PARTIAL twins (first ⌊n·m/10⌋ words,
    m = 1 + doc_id%10) whose true Jaccard spans both sides of the
    threshold.  The oracle is the strongest kind: a brute-force ALL-PAIRS
    Jaccard in DuckDB — a hash match proves the pruning loses nothing."""
    from pdf_drawing_ocr_recognition_spark.operators.setjoin import (
        ppjoin_pairs,
    )

    orig = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", "text")
    )
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    w = F.greatest(
        F.lit(1),
        F.floor(
            F.size(words) * ((F.col("doc_id") % 10) + 1) / F.lit(10.0)
        ).cast("int"),
    )
    twins = orig.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.array_join(F.slice(words, 1, w), " ").alias("text"),
    )
    return ppjoin_pairs(
        orig.unionByName(twins), threshold_ppm=600_000
    )


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T159: semi-supervised label propagation over the harvested host
    graph (operators/links.py:label_propagation — Zhu & Ghahramani 2002,
    hard-clamped synchronous variant): 6 seed hosts (h%4==1, label
    cat{h%3}) spread topic labels along REAL extracted links for two
    rounds; per round one frontier join + one hash agg, argmax by the
    deterministic min-struct discipline (greatest incoming mass, ties to
    the smallest label — ties occur and are load-bearing).  The oracle
    replays both rounds as chained CTEs with row_number tie-breaking over
    the same doc_id-arithmetic edge set."""
    from pdf_drawing_ocr_recognition_spark.operators.links import (
        extract_page_links,
        host_link_graph,
        label_propagation,
    )

    pages, _ = _link_pages(spark, sf_dir)
    edges = host_link_graph(extract_page_links(pages))
    seeds = (
        spark.range(_LINK_HOSTS)
        .filter(F.col("id") % 4 == 1)
        .select(
            F.format_string("h%d.example.com", F.col("id")).alias("node"),
            F.concat(F.lit("cat"), (F.col("id") % 3).cast("string")).alias(
                "label"
            ),
        )
    )
    return label_propagation(edges, seeds, n_rounds=2)


def q_edit_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T160: edit-distance confirmation of the T3 LSH candidates
    (operators/dedup.py:edit_verified_pairs) — the classic two-stage
    near-dup cascade: banding proposes (recall), bounded Levenshtein
    confirms (precision).  max_distance=7 is load-bearing at both gate
    scales: the d=8 and d=12 candidates are REJECTED (short-circuit to
    -1 via Spark's O(len·threshold) bounded variant), the d∈{0,4} bulk
    passes.  edit_sim_ppm is exact integer arithmetic; Spark's JVM and
    DuckDB's independent Levenshtein implementations pin each other."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import (
        edit_verified_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return edit_verified_pairs(
        docs, q_minhash_lsh_pairs(spark, sf_dir), max_distance=7
    )


def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T161: cross-source vocabulary overlap via one-permutation MinHash
    sketches (operators/sketches.py:opmh_sketch/opmh_overlap — Li, Owen
    & Zhang 2012): each source's word SET compresses to a 64-bucket
    bucket-min sketch in one map-side-combinable aggregate (exchange ≤ k
    rows/source/task, never vocabulary-sized), then the 20×64-row sketch
    dim self-joins into the pairwise Jaccard matrix — the "how much does
    CommonCrawl overlap C4" corpus-audit question at sketch cost.  All
    integer arithmetic on two disjoint hex windows of one md5; DuckDB
    replays the sketch and the matrix bit-identically."""
    from pdf_drawing_ocr_recognition_spark.operators.sketches import (
        opmh_overlap,
        opmh_sketch,
    )

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    )
    return opmh_overlap(opmh_sketch(words, "source", "word", k=64), "source")


def q_bow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T162: bag-of-words canonical dedup (operators/dedup.py:bow_dedup)
    over documents plus PLANTED word-order rewrites: every doc_id%37==0
    page gains a twin (doc_id+10⁶) whose text is the sorted word list —
    same multiset, different bytes — so the n_exact_variants>1 farm
    branch is load-bearing alongside ordinary byte-exact clusters.  One
    codegen canonicalization + one digest-keyed hash aggregate."""
    from pdf_drawing_ocr_recognition_spark.operators.dedup import bow_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    twins = docs.filter(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(
            " ", F.sort_array(F.split(F.lower(F.col("text")), " "))
        ).alias("text"),
    )
    return bow_dedup(docs.unionByName(twins))


def _code_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic page corpus with code markup: doc i carries i%3 pre
    blocks ("def f{i}_{k}(a):\\n    return a &amp; {k}" — newline +
    indentation + entity all load-bearing), wrapped as
    <pre><code class="language-python">…</code></pre> for EVEN docs (the
    markdown-renderer idiom: one block, outer tag pre, hint python) and
    bare <pre>…</pre> for odd; every 5th doc adds an inline <code>
    snippet, every 7th ends with an UNCLOSED <pre> that must flush at
    EOF; a constant <script> payload must vanish.  The DuckDB twin
    replays every block's verbatim text AND the full html string (for
    the density ppm) from doc_id arithmetic."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    url = F.format_string("http://c%d.example.com/p/%d", did % 13, did)
    pieces = [
        F.lit("<html><body><script>var x=1;</script><p>intro d"),
        did.cast("string"),
        F.lit("</p>"),
    ]
    for k in range(2):  # pre block k emitted iff k < i%3
        content = F.concat(
            F.lit(f"def f"),
            did.cast("string"),
            F.lit(f"_{k}(a):\n    return a &amp; {k}"),
        )
        wrapped = F.when(
            did % 2 == 0,
            F.concat(
                F.lit('<pre><code class="language-python">'),
                content,
                F.lit("</code></pre>"),
            ),
        ).otherwise(F.concat(F.lit("<pre>"), content, F.lit("</pre>")))
        pieces.append(
            F.when(F.lit(k) < did % 3, wrapped).otherwise(F.lit(""))
        )
    pieces.append(
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit("<p>see <code>x"), did.cast("string"), F.lit("=1</code> here</p>")
            ),
        ).otherwise(F.lit(""))
    )
    pieces.append(
        F.when(
            did % 7 == 0,
            F.concat(F.lit("<pre>tail d"), did.cast("string")),
        ).otherwise(F.lit(""))
    )
    pieces.append(F.lit("</body></html>"))
    html = F.concat(*pieces)
    return docs.select(url.alias("url"), F.encode(html, "utf-8").alias("html"))


def q_code_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T164: verbatim code-block harvesting (kernel/codeblocks.py via the
    shared linear tokenizer; operators/codeblocks.py) — <pre>/<code>
    regions with indentation/newlines preserved (the generic extractor's
    whitespace-collapse destroys exactly what training code needs),
    pre>code idiom as ONE block, language-* class hints, script content
    dropped, unclosed blocks flushed at EOF.  ONE narrow Arrow stage; the
    oracle replays every verbatim text from doc_id arithmetic."""
    from pdf_drawing_ocr_recognition_spark.operators.codeblocks import (
        extract_page_code_blocks,
    )

    return extract_page_code_blocks(_code_pages(spark, sf_dir))


def q_code_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T164 rollup: per-page code density (operators/codeblocks.py:
    code_density) — block count, code chars, and exact-ppm code share of
    the page's HTML, zero rows kept via the LEFT join (code-free pages
    are the other stratum).  The oracle rebuilds the ENTIRE html string
    in SQL to take its length — a hash match pins both the extraction
    and the fixture bytes."""
    from pdf_drawing_ocr_recognition_spark.operators.codeblocks import (
        code_density,
        extract_page_code_blocks,
    )

    pages = _code_pages(spark, sf_dir)
    return code_density(pages, extract_page_code_blocks(pages))


def _heading_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic page corpus with heading structure: doc i carries an
    h1 title (with an &amp; entity AND an embedded <script> that must
    vanish), i%4 h2 sections each followed by a paragraph, and every 5th
    doc ends with an UNCLOSED <h2> auto-closed by the following <h3>
    (tag-soup headings cannot nest).  Every heading text and the whole
    outline profile replay from doc_id arithmetic."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    url = F.format_string("http://s%d.example.com/p/%d", did % 11, did)
    pieces = [
        F.lit("<html><body><h1>Title d"),
        did.cast("string"),
        F.lit(" &amp; co<script>var s;</script></h1>"),
    ]
    for k in range(3):  # h2 section k emitted iff k < i%4
        seg = F.concat(
            F.lit(f"<h2>Sec {k} d"),
            did.cast("string"),
            F.lit(f"</h2><p>para {k}</p>"),
        )
        pieces.append(F.when(F.lit(k) < did % 4, seg).otherwise(F.lit("")))
    pieces.append(
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit("<h2>Unclosed d"),
                did.cast("string"),
                F.lit("<h3>Deep d"),
                did.cast("string"),
                F.lit("</h3>"),
            ),
        ).otherwise(F.lit(""))
    )
    pieces.append(F.lit("</body></html>"))
    html = F.concat(*pieces)
    return docs.select(url.alias("url"), F.encode(html, "utf-8").alias("html"))


def q_heading_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T169: heading-outline extraction (kernel/headings.py via the shared
    linear tokenizer; operators/headings.py) — document structure for
    structure-aware chunking and outline-shape quality features: ordered
    (idx, level, text) rows with entity unescape + whitespace collapse,
    script-drop inside headings, and tag-soup auto-close (a new heading
    closes the previous; any </hN> closes the open one).  ONE narrow
    Arrow stage; every row replays from doc_id arithmetic."""
    from pdf_drawing_ocr_recognition_spark.operators.headings import (
        extract_page_headings,
    )

    return extract_page_headings(_heading_pages(spark, sf_dir))


def q_heading_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T169 rollup: per-page outline profile (operators/headings.py:
    heading_profile) — heading/h1 counts, outline depth, first-h1 title
    candidate (document-order min-struct, '' when absent); ONE
    map-side-combinable hash agg over the heading stream."""
    from pdf_drawing_ocr_recognition_spark.operators.headings import (
        extract_page_headings,
        heading_profile,
    )

    return heading_profile(extract_page_headings(_heading_pages(spark, sf_dir)))


def q_markdown_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T179: HTML→Markdown rendering (kernel/markdown.py via
    operators/markdown.py) — the corpus-serialization pass every LLM data
    pipeline runs, unified over the shared tokenizer: headings, soup
    lists (closer-free for every 3rd doc), fenced python code (even
    docs), pipe tables with a one-time header separator (every 5th doc),
    inline backticks (every 7th doc).  ONE narrow Arrow stage; the
    oracle rebuilds every doc's ENTIRE markdown string — blank-line
    joins, single-spaced item/row runs, fence newlines — from doc_id
    arithmetic."""
    from pdf_drawing_ocr_recognition_spark.operators.markdown import (
        render_pages_markdown,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    url = F.format_string("http://m%d.example.com/p/%d", did % 9, did)
    ds = did.cast("string")
    pieces = [
        F.lit("<html><body><h1>Doc d"),
        ds,
        F.lit(" &amp; co</h1><p>intro text d"),
        ds,
        F.lit("</p>"),
    ]
    pieces.append(
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("<ul><li>alpha d"), ds, F.lit("<li>beta d"), ds,
                F.lit("</ul>"),
            ),
        ).otherwise(F.lit(""))
    )
    pieces.append(
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit('<pre><code class="language-python">def f'),
                ds,
                F.lit("():\n    return "),
                ds,
                F.lit("</code></pre>"),
            ),
        ).otherwise(F.lit(""))
    )
    pieces.append(
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit("<table><tr><th>H1</th><th>H2</th></tr><tr><td>a d"),
                ds,
                F.lit("</td><td>b</td></tr></table>"),
            ),
        ).otherwise(F.lit(""))
    )
    pieces.append(
        F.when(
            did % 7 == 0,
            F.concat(F.lit("<p>see <code>x"), ds, F.lit("</code> end</p>")),
        ).otherwise(
            F.concat(F.lit("<p>outro d"), ds, F.lit("</p>"))
        )
    )
    pieces.append(F.lit("</body></html>"))
    pages = docs.select(
        url.alias("url"), F.encode(F.concat(*pieces), "utf-8").alias("html")
    )
    return render_pages_markdown(pages)


def q_image_text_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T183: image/alt-text harvesting (kernel/images.py via
    operators/multimodal.py:extract_page_images) — the LAION-class
    image-text-pair miner: doc i carries i%3 imgs with entity-laden alt
    text (relative srcs resolved against the page URL), every 4th doc
    wraps img 0 in a <figure> whose <figcaption> FOLLOWS the img (records
    emit at figure close), every 9th doc adds a data-URI img that must be
    SKIPPED.  ONE narrow Arrow stage; every (src, alt, title, caption)
    replays from doc_id arithmetic."""
    from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
        extract_page_images,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    ds = did.cast("string")
    url = F.format_string("http://f%d.example.com/p/%d", did % 7, did)

    def img(k: int) -> F.Column:
        title = ' title="ttl d' if k == 1 else ""
        tail = (
            F.concat(F.lit(title), ds, F.lit('"')) if k == 1 else F.lit("")
        )
        return F.concat(
            F.lit(f'<img src="/img/'),
            ds,
            F.lit(f'_{k}.png" alt="pic {k} of d'),
            ds,
            F.lit(' &amp; co"'),
            tail,
            F.lit(">"),
        )

    img0 = F.when(
        did % 4 == 0,
        F.concat(
            F.lit("<figure>"),
            img(0),
            F.lit("<figcaption>cap d"),
            ds,
            F.lit("</figcaption></figure>"),
        ),
    ).otherwise(img(0))
    pieces = [F.lit("<html><body><p>pre</p>")]
    pieces.append(F.when(did % 3 > 0, img0).otherwise(F.lit("")))
    for k in (1, 2):
        pieces.append(
            F.when(F.lit(k) < did % 3, img(k)).otherwise(F.lit(""))
        )
    pieces.append(
        F.when(
            did % 9 == 0,
            F.lit('<img src="data:image/png;base64,AAAA" alt="nope">'),
        ).otherwise(F.lit(""))
    )
    pieces.append(F.lit("</body></html>"))
    pages = docs.select(
        url.alias("url"), F.encode(F.concat(*pieces), "utf-8").alias("html")
    )
    return extract_page_images(pages)


def q_title_body_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T191: title-body coverage — the clickbait/SEO-stuffing signal: how
    many of the title's words the body actually delivers, as exact ppm.
    Composes TWO oracled kernels (head metadata title + section body
    text); the fixture plants 3-word titles whose body contains word 1
    always, word 2 on even docs, word 3 never → coverage is exactly
    333333 or 666666 ppm.  One narrow Arrow stage per kernel + one url
    equi-join; the set intersection is in-array (bounded by title
    length)."""
    from pdf_drawing_ocr_recognition_spark.operators.headings import (
        extract_page_sections,
    )
    from pdf_drawing_ocr_recognition_spark.operators.metadata import (
        extract_page_meta,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    ds = did.cast("string")
    url = F.format_string("http://tb%d.example.com/p/%d", did % 3, did)
    html = F.concat(
        F.lit("<html><head><title>alpha"), ds, F.lit(" beta"), ds,
        F.lit(" gamma"), ds, F.lit("</title></head><body><p>alpha"), ds,
        F.lit(" filler words here"),
        F.when(did % 2 == 0, F.concat(F.lit(" beta"), ds)).otherwise(F.lit("")),
        F.lit(" end</p></body></html>"),
    )
    pages = docs.select(url.alias("url"), F.encode(html, "utf-8").alias("html"))
    titles = extract_page_meta(pages).select("url", "title")
    bodies = extract_page_sections(pages).groupBy("url").agg(
        F.concat_ws(" ", F.collect_list("section_text")).alias("_body")
    )
    joined = titles.join(bodies, "url").select(
        "url",
        F.split(F.col("title"), " ").alias("_tw"),
        F.split(F.col("_body"), " ").alias("_bw"),
    )
    covered = F.size(F.array_intersect(F.col("_tw"), F.col("_bw")))
    return joined.select(
        "url",
        F.size("_tw").cast("bigint").alias("n_title_words"),
        covered.cast("bigint").alias("n_covered"),
        F.expr(
            "cast(size(array_intersect(_tw, _bw)) as bigint) * 1000000"
            " div size(_tw)"
        ).alias("coverage_ppm"),
    )


def q_page_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T190: the unified page profile — SIX extractors (markdown,
    headings, lists, code, images, links), all riding the one shared
    linear tokenizer, composed over ONE rich fixture page and LEFT-joined
    into the denormalized per-page record a corpus export actually ships:
    (url, md_chars, n_headings, n_list_items, n_code_blocks, code_chars,
    n_images, n_links).  Every rollup is map-side-combinable; absent
    payloads coalesce to 0 (absence is data).  The oracle re-derives all
    eight columns — including the full markdown LENGTH — from doc_id
    arithmetic, pinning the kernels' composition, not just each alone."""
    from pdf_drawing_ocr_recognition_spark.operators.codeblocks import (
        extract_page_code_blocks,
    )
    from pdf_drawing_ocr_recognition_spark.operators.headings import (
        extract_page_headings,
    )
    from pdf_drawing_ocr_recognition_spark.operators.htmllists import (
        extract_page_lists,
    )
    from pdf_drawing_ocr_recognition_spark.operators.links import (
        extract_page_links,
    )
    from pdf_drawing_ocr_recognition_spark.operators.markdown import (
        render_pages_markdown,
    )
    from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
        extract_page_images,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    ds = did.cast("string")
    url = F.format_string("http://pp%d.example.com/p/%d", did % 7, did)
    pieces = [
        F.lit("<html><body><h1>Doc d"),
        ds,
        F.lit('</h1><p>intro d'),
        ds,
        F.lit(' <a href="/n/'),
        ds,
        F.lit('">next</a></p>'),
    ]
    pieces.append(
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("<ul><li>alpha d"), ds, F.lit("<li>beta d"), ds,
                F.lit("</ul>"),
            ),
        ).otherwise(F.lit(""))
    )
    pieces.append(
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit('<pre><code class="language-python">def f'), ds,
                F.lit("():\n    return "), ds, F.lit("</code></pre>"),
            ),
        ).otherwise(F.lit(""))
    )
    pieces.append(
        F.when(
            did % 4 == 0,
            F.concat(F.lit('<img src="/i/'), ds, F.lit('.png" alt="pic d'), ds, F.lit('">')),
        ).otherwise(F.lit(""))
    )
    pieces.append(F.concat(F.lit("<p>outro d"), ds, F.lit("</p></body></html>")))
    pages = docs.select(
        url.alias("url"), F.encode(F.concat(*pieces), "utf-8").alias("html")
    )

    def roll(df, *aggs):
        return df.groupBy("url").agg(*aggs)

    md = render_pages_markdown(pages).select(
        "url", F.length("markdown").cast("bigint").alias("md_chars")
    )
    heads = roll(
        extract_page_headings(pages),
        F.count(F.lit(1)).cast("bigint").alias("n_headings"),
    )
    lists = roll(
        extract_page_lists(pages),
        F.count(F.lit(1)).cast("bigint").alias("n_list_items"),
    )
    code = roll(
        extract_page_code_blocks(pages),
        F.count(F.lit(1)).cast("bigint").alias("n_code_blocks"),
        F.sum(F.length("code_text")).cast("bigint").alias("code_chars"),
    )
    imgs = roll(
        extract_page_images(pages),
        F.count(F.lit(1)).cast("bigint").alias("n_images"),
    )
    links = roll(
        extract_page_links(pages),
        F.count(F.lit(1)).cast("bigint").alias("n_links"),
    )
    out = md
    for part in (heads, lists, code, imgs, links):
        out = out.join(part, "url", "left")
    fill = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
    return out.select(
        "url",
        "md_chars",
        fill("n_headings"),
        fill("n_list_items"),
        fill("n_code_blocks"),
        fill("code_chars"),
        fill("n_images"),
        fill("n_links"),
    )


def q_declared_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T189: declared-vs-labeled language mismatch (kernel/meta.py
    html_lang via operators/metadata.py:extract_page_lang) — a page
    declaring lang=en whose text is German is machine-translated or
    template spam (the root <html lang> is the publisher's own claim).
    Fixture: doc_id%3==0 declares TRUTHFULLY (the doc's lang), %3==1
    declares 'zz' (mismatch fires), %3==2 declares nothing ('' — absent
    is not a mismatch).  One narrow Arrow stage + one broadcast join
    back to the labels."""
    from pdf_drawing_ocr_recognition_spark.operators.metadata import (
        extract_page_lang,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    did = F.col("doc_id")
    attr = (
        F.when(did % 3 == 0, F.concat(F.lit(' lang="'), F.col("lang"), F.lit('"')))
        .when(did % 3 == 1, F.lit(' lang="zz"'))
        .otherwise(F.lit(""))
    )
    url = F.format_string("http://q%d.example.com/p/%d", did % 5, did)
    html = F.concat(
        F.lit("<html"), attr,
        F.lit("><head><title>t</title></head><body>x</body></html>"),
    )
    pages = docs.select(url.alias("url"), F.encode(html, "utf-8").alias("html"))
    declared = extract_page_lang(pages).select(
        F.regexp_extract(F.col("url"), r"/p/(\d+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("html_lang").alias("declared_lang"),
    )
    return declared.join(docs, "doc_id").select(
        "doc_id",
        "declared_lang",
        F.col("lang").alias("labeled_lang"),
        (
            (F.col("declared_lang") != "")
            & (F.col("declared_lang") != F.col("lang"))
        )
        .cast("int")
        .alias("mismatch"),
    )


def q_srcset_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T188: responsive-image srcset resolution (kernel/images.py:
    pick_srcset) — responsive pages put the real image in srcset and a
    thumbnail in src, so the pair miner must prefer it: EVEN docs carry
    width candidates (960w beats 480w), ODD docs density candidates (2x
    beats the descriptor-less 1x), every 5th doc's srcset holds only an
    unfollowable data: candidate and must FALL BACK to the src attribute
    (from_srcset 0).  Every branch replays from doc_id arithmetic."""
    from pdf_drawing_ocr_recognition_spark.operators.multimodal import (
        extract_page_images,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    ds = did.cast("string")
    url = F.format_string("http://r%d.example.com/p/%d", did % 7, did)
    srcset = (
        F.when(
            did % 5 == 0,
            F.lit('srcset="data:image/png;base64,AA 2x"'),
        )
        .when(
            did % 2 == 0,
            F.concat(
                F.lit('srcset="/img/'), ds, F.lit('_sm.png 480w, /img/'),
                ds, F.lit('_lg.png 960w"'),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('srcset="/d1_'), ds, F.lit('.png, /d2_'), ds,
                F.lit('.png 2x"'),
            )
        )
    )
    html = F.concat(
        F.lit('<html><body><img src="/thumb_'),
        ds,
        F.lit('.png" alt="resp pic d'),
        ds,
        F.lit('" '),
        srcset,
        F.lit("></body></html>"),
    )
    pages = docs.select(url.alias("url"), F.encode(html, "utf-8").alias("html"))
    return extract_page_images(pages).select(
        "url", "src", "alt", "from_srcset"
    )


def q_image_pair_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T186: LAION-style image-text-pair gates over the T183 harvest —
    the junk classes every pair miner drops: empty/too-short alt, alt
    that is just the image FILENAME (alt="IMG_1234.jpg"), and
    non-image-extension srcs; plus the keep verdict.  Docs with
    doc_id%7==1 get img-1's alt REWRITTEN to its own filename, docs with
    doc_id%5==2 get img-0's alt shortened and src flipped to .php, so all
    three drop reasons fire.  Pure codegen string predicates over the
    harvested rows."""
    base = q_image_text_pairs(spark, sf_dir)
    did = F.regexp_extract(F.col("url"), r"/p/(\d+)$", 1).cast("bigint")
    fname = F.regexp_extract(F.col("src"), r"/([^/]+)$", 1)
    alt = (
        F.when(
            (did % 7 == 1) & (F.col("img_idx") == 1), fname
        )
        .when(
            (did % 5 == 2) & (F.col("img_idx") == 0), F.lit("x")
        )
        .otherwise(F.col("alt"))
    )
    src = F.when(
        (did % 5 == 2) & (F.col("img_idx") == 0),
        F.concat(F.regexp_replace(F.col("src"), r"\.png$", ""), F.lit(".php")),
    ).otherwise(F.col("src"))
    rewritten = base.select(
        "url", "img_idx", src.alias("src"), alt.alias("alt"), "caption"
    )
    fname2 = F.regexp_extract(F.col("src"), r"/([^/]+)$", 1)
    alt_is_filename = (F.col("alt") == fname2).cast("int")
    alt_too_short = (F.length("alt") < 5).cast("int")
    bad_extension = (~F.col("src").rlike(r"\.(png|jpg|jpeg|gif|webp)$")).cast(
        "int"
    )
    return rewritten.select(
        "url",
        "img_idx",
        alt_is_filename.alias("alt_is_filename"),
        alt_too_short.alias("alt_too_short"),
        bad_extension.alias("bad_extension"),
        (
            (alt_is_filename == 0)
            & (alt_too_short == 0)
            & (bad_extension == 0)
        )
        .cast("int")
        .alias("keep"),
    )


def q_markup_invariant_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T181: markup-invariant dedup — the duplicate class BYTE hashing of
    raw HTML can never catch: same content re-serialized by a different
    CMS (closer-free tag soup vs well-formed, attribute noise).  Dedup
    key = md5 of the T179 markdown PROJECTION: every doc_id%11==0 page
    gains a soup twin (url suffix '/amp', no closers, a dummy attribute)
    that renders byte-identically, so its cluster has exactly 2 members;
    everything else stays a singleton (reported via the ≥2 filter's
    absence).  One narrow render stage + one digest-keyed hash agg."""
    from pdf_drawing_ocr_recognition_spark.operators.markdown import (
        render_pages_markdown,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    ds = did.cast("string")
    url = F.format_string("http://i%d.example.com/p/%d", did % 5, did)
    well_formed = F.concat(
        F.lit("<html><body><h2>Title d"), ds,
        F.lit("</h2><p>body text d"), ds, F.lit("</p></body></html>"),
    )
    pages = docs.select(url.alias("url"), F.encode(well_formed, "utf-8").alias("html"))
    soup_src = docs.filter(did % 11 == 0).select(
        "doc_id",
        F.concat(
            F.lit('<html data-amp="1"><body><h2>Title d'), ds,
            F.lit("<p>body text d"), ds, F.lit("</body></html>"),
        ).alias("_soup"),
    )
    twins = soup_src.select(
        F.format_string(
            "http://i%d.example.com/p/%d/amp",
            F.col("doc_id") % 5,
            F.col("doc_id"),
        ).alias("url"),
        F.encode(F.col("_soup"), "utf-8").alias("html"),
    )
    md = render_pages_markdown(pages.unionByName(twins))
    counts = md.groupBy("markdown").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
        F.min("url").alias("keeper_url"),
    )
    return counts.filter(F.col("cluster_size") >= 2).select(
        F.md5(F.encode(F.col("markdown"), "utf-8")).alias("md_digest"),
        "cluster_size",
        "keeper_url",
    )


def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T178: per-label embedding-centroid drift between snapshots — the
    semantic complement to T78's categorical TVD and T185's lexical
    drift: "does source X still EMBED like it used to".  Composes T101's
    exact machinery (integer-quantized dim sums, scale-invariant
    centroid-division skip, sequential double fold) over groups tagged
    label|half (block-parity snapshot halves), keeping same-label pairs:
    drift_cos ≈ 1 means the source is stationary; the group dim is
    2·|labels| rows so everything past the quantized sum agg is
    dimension arithmetic."""
    from pdf_drawing_ocr_recognition_spark.operators.similarity import (
        group_centroid_cosines,
    )

    emb = _t(spark, sf_dir, "embeddings")
    tagged = emb.select(
        F.concat(
            F.col("label").cast("string"),
            F.lit("|"),
            (F.expr("vec_id div 20") % 2).cast("string"),
        ).alias("grp"),
        "embedding",
    )
    m = group_centroid_cosines(tagged, "embedding", "grp", dim=64)
    a0 = F.split(F.col("group_a"), r"\|")
    b0 = F.split(F.col("group_b"), r"\|")
    return (
        m.filter(a0.getItem(0) == b0.getItem(0))
        .select(
            a0.getItem(0).cast("int").alias("label"),
            "n_a",
            "n_b",
            F.col("cos_centroid").alias("drift_cos"),
        )
    )


def q_list_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T194: HTML list extraction (kernel/lists.py via the shared linear
    tokenizer; operators/htmllists.py) — instructions/step-sequences as
    typed (list, item) records: doc i carries a top-level ul of
    1 + i%4 items (ODD docs are closer-free tag soup — HTML5 li
    auto-close load-bearing for half the corpus), every 3rd doc nests an
    ordered sub-list inside item 0 whose items are ISOLATED while the
    outer item continues with a space-separated tail, every 7th doc
    never closes the list (EOF flush).  ONE narrow Arrow stage; every
    row replays from doc_id arithmetic."""
    from pdf_drawing_ocr_recognition_spark.operators.htmllists import (
        extract_page_lists,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    url = F.format_string("http://l%d.example.com/p/%d", did % 7, did)
    c = F.when(did % 2 == 1, F.lit("")).otherwise(F.lit("</li>"))
    nested = F.concat(
        F.lit("<ol><li>sub 0 d"),
        did.cast("string"),
        c,
        F.lit("<li>sub 1 d"),
        did.cast("string"),
        c,
        F.lit("</ol>tail d"),
        did.cast("string"),
    )
    pieces = [
        F.lit("<html><body><p>pre</p><ul><li>item 0 of d"),
        did.cast("string"),
        F.lit(" &amp; co"),
        F.when(did % 3 == 0, nested).otherwise(F.lit("")),
        c,
    ]
    for k in range(1, 4):  # item k emitted iff k <= i%4
        seg = F.concat(
            F.lit(f"<li>item {k} of d"),
            did.cast("string"),
            F.lit(" &amp; co"),
            c,
        )
        pieces.append(F.when(F.lit(k) <= did % 4, seg).otherwise(F.lit("")))
    pieces.append(
        F.when(did % 7 == 0, F.lit("")).otherwise(F.lit("</ul>"))
    )
    pieces.append(F.lit("</body></html>"))
    html = F.concat(*pieces)
    pages = docs.select(url.alias("url"), F.encode(html, "utf-8").alias("html"))
    return extract_page_lists(pages)


def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T185: day-over-day vocabulary drift per source — the ingestion
    monitor that catches a source changing under the crawler (new CMS,
    language flip, spam takeover): today's distinct words unseen in
    yesterday's SAME-SOURCE vocabulary, as exact ppm of today's distinct
    words.  Snapshots are deterministic doc_id-block-parity halves (block 20 = one doc per source per block, so EVERY source exists on both days — plain parity would alias the source assignment and degenerate).  Scale
    shape: two word-dim distincts (map-combinable) + ONE left-anti join
    on (source, word) + one rollup — everything word-dim-sized, the
    corpus is touched twice and never joined row-to-row."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        (F.expr("doc_id div 20") % 2 == 1).alias("_today"),
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
    )
    yesterday = (
        words.filter(~F.col("_today")).select("source", "word").distinct()
    )
    today = words.filter(F.col("_today")).select("source", "word").distinct()
    new_words = today.join(yesterday, ["source", "word"], "left_anti")
    tot = today.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_today_words")
    )
    new = new_words.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new_words")
    )
    joined = tot.join(new, "source", "left").select(
        "source",
        "n_today_words",
        F.coalesce("n_new_words", F.lit(0)).cast("bigint").alias("n_new_words"),
    )
    return joined.select(
        "source",
        "n_today_words",
        "n_new_words",
        F.expr("n_new_words * 1000000 div n_today_words").alias(
            "new_word_ppm"
        ),
    )


def q_url_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T177: URL-shape spam features (functions/urls.py:url_shape_features
    — Fetterly'04/Ntoulas'06 frontier heuristics) over a deterministic
    URL zoo: three host shapes (plain, hyphen-digit promo, deep
    subdomains), four path shapes (root, keyed, pct-escaped, flat), and
    alternating query strings — every counter exact length/replace
    arithmetic replayed component-wise in the oracle.  One codegen
    projection; the content-blind pre-fetch spam signal."""
    from pdf_drawing_ocr_recognition_spark.functions.urls import (
        url_shape_features,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    host = (
        F.when(
            did % 3 == 0,
            F.format_string("h%d.example.com", did % 13),
        )
        .when(
            did % 3 == 1,
            F.format_string("d%d-promo-99.example.com", did),
        )
        .otherwise(F.format_string("a.b.h%d.example.com", did % 13))
    )
    path = (
        F.when(did % 4 == 0, F.lit("/"))
        .when(did % 4 == 1, F.format_string("/p/%d", did))
        .when(did % 4 == 2, F.lit("/a/b/c%20d"))
        .otherwise(F.lit("/x"))
    )
    query = F.when(
        did % 2 == 0, F.format_string("?q=1&r=%d", did % 5)
    ).otherwise(F.lit(""))
    built = docs.select(
        "doc_id",
        F.concat(F.lit("http://"), host, path, query).alias("url"),
    )
    return built.select(
        "doc_id", url_shape_features(F.col("url")).alias("f")
    ).select("doc_id", "f.*")


def q_zipf_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T171: Zipf rank-doubling audit over bigram frequencies — the
    corpus-health signal: natural text's rank-frequency curve is a power
    law (n(r)/n(2r) ≈ 2^s), template/boilerplate-heavy corpora bend it.
    Reports count + exact n·10⁶ div n(2r) ratio at every power-of-2 rank
    (ties broken count DESC, bigram ASC — total order, engine-portable).
    Scale shape: ONE map-combinable bigram count agg, then
    TakeOrderedAndProject keeps the top 1025 rows (never a global sort of
    the vocabulary); the rank window runs on that dimension-sized frame.
    The tail rank's double exceeds the vocabulary → NULL ratio, kept."""
    docs = _t(spark, sf_dir, "documents").select(
        F.split(F.lower(F.col("text")), " ").alias("ws")
    )
    bigrams = docs.select(
        F.explode(
            F.expr(
                "transform(slice(ws, 1, size(ws) - 1),"
                " (x, i) -> concat(x, ' ', ws[i + 1]))"
            )
        ).alias("bg")
    )
    counts = bigrams.groupBy("bg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    top = counts.orderBy(F.desc("n"), F.asc("bg")).limit(1025)
    w = Window.orderBy(F.desc("n"), F.asc("bg"))
    ranked = top.select(
        "bg", "n", F.row_number().over(w).cast("bigint").alias("rank")
    )
    powers = [1 << k for k in range(10)]  # 1..512
    p = ranked.filter(F.col("rank").isin(powers)).select(
        "rank", F.col("bg").alias("bigram"), "n"
    )
    nxt = ranked.filter(
        F.col("rank").isin([2 * p for p in powers])
    ).select(
        F.expr("rank div 2").alias("rank"), F.col("n").alias("next_n")
    )
    return p.join(nxt, "rank", "left").select(
        "rank",
        "bigram",
        "n",
        "next_n",
        F.expr("n * 1000000 div next_n").alias("ratio_ppm"),
    )


def q_section_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T175: structure-aware section segmentation
    (kernel/headings.py:extract_sections via operators/headings.py) —
    heading + body-until-next-heading rows over the T169 fixture, the
    chunking feed that splits at SECTION boundaries instead of arbitrary
    token counts: h1 sections carry empty bodies here (next heading
    follows immediately), each h2 section carries its paragraph, the
    tag-soup unclosed h2 carries '' (auto-closed by the h3).  ONE narrow
    Arrow stage; every (idx, level, title, text) replays from doc_id
    arithmetic."""
    from pdf_drawing_ocr_recognition_spark.operators.headings import (
        extract_page_sections,
    )

    return extract_page_sections(_heading_pages(spark, sf_dir))


def q_rate_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T168: per-user traffic bursts (operators/politeness.py:rate_bursts)
    over the REAL events table — an hour flags when its count beats 2×
    the trailing-3-hour average, cross-multiplied to exact int64; gapped
    hours contribute zero via the RANGE frame (no dense spine); warm-up
    hours withheld.  The rate-side abuse signal next to T156."""
    from pdf_drawing_ocr_recognition_spark.operators.politeness import (
        rate_bursts,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("actor"), _us(F.col("ts")).alias("ts_us")
    )
    return rate_bursts(ev)


def q_stitch_continuations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T167: paginated-article stitching
    (operators/corpus_prep.py:stitch_continuations): every doc_id%6==0
    page is split into a planted two-page article — page A ends with a
    unique 8-token carry-over that page B starts with — and the operator
    must recover exactly the (A_i, B_i) continuation edges via the
    digest-shaped tail→head key join (plus any organic collisions the
    oracle equally replays).  Two codegen projections + ONE equi-join;
    never all-pairs."""
    from pdf_drawing_ocr_recognition_spark.operators.corpus_prep import (
        stitch_continuations,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    overlap = F.concat_ws(
        " ",
        *[
            F.concat(F.lit("seg"), did.cast("string"), F.lit(ch))
            for ch in "abcdefgh"
        ],
    )
    # two selects per page: the overlap expression references doc_id, so
    # the re-key must happen in a SEPARATE select (lateral-alias rule)
    six = docs.filter(did % 6 == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" "), overlap).alias("_a_text"),
        F.concat(
            overlap, F.lit(" continued tail of d"), did.cast("string")
        ).alias("_b_text"),
    )
    page_a = six.select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.col("_a_text").alias("text"),
    )
    page_b = six.select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"),
        F.col("_b_text").alias("text"),
    )
    return stitch_continuations(
        docs.unionByName(page_a).unionByName(page_b), k=8
    )


def q_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T166: mojibake repair (kernel/mojibake.py via
    functions/encoding.py:mojibake_repaired) — five planted classes per
    doc_id%5: clean ASCII (fixed point), single latin-1 mangle (1 round),
    DOUBLE mangle (2 rounds peeled), cp1252 smart-quote mangle (1 round),
    and genuine legacy 'Ø' text whose bytes are NOT valid UTF-8 — the
    false-positive guard, untouched at rounds 0.  One Arrow-batched
    pandas_udf; the oracle states the expected repaired text per class
    via chr() codepoints."""
    from pdf_drawing_ocr_recognition_spark.functions.encoding import (
        with_mojibake_repair,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    m = did % 5
    text = (
        F.when(m == 1, F.concat(F.lit("cafÃ© â\x80\x94 d"), did.cast("string")))
        .when(
            m == 2,
            F.concat(F.lit("cafÃ\x83Â© Ã¢Â\x80Â\x94 d"), did.cast("string")),
        )
        .when(m == 3, F.concat(F.lit("itâ€™s d"), did.cast("string")))
        .when(m == 4, F.concat(F.lit("Øx d"), did.cast("string")))
        .otherwise(F.concat(F.lit("plain d"), did.cast("string")))
    )
    fixture = docs.select("doc_id", text.alias("raw"))
    return with_mojibake_repair(fixture, text_col="raw").select(
        "doc_id", "repaired", "rounds"
    )


def q_otsu_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T165: Otsu auto-threshold moments (operators/mixing.py:otsu_moments)
    over the length signal binned to 64 (bin = min(n_chars div 8, 63)) —
    the data-driven "where should the keep/drop cut sit" alternative to
    hand-tuned quality constants.  The corpus collapses to ≤64 histogram
    rows in one map-side-combinable agg; the 63-threshold class-moment
    expansion is dim×dim; the argmax itself is driver-side exact
    rationals (otsu_threshold, pytest-pinned) — this moments table is
    the oracled corpus-touching surface, the T99 pca_gram contract."""
    from pdf_drawing_ocr_recognition_spark.operators.mixing import otsu_moments

    docs = _t(spark, sf_dir, "documents").select(
        F.least(F.expr("n_chars div 8"), F.lit(63)).alias("bin")
    )
    return otsu_moments(docs, "bin", 64)


def q_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T163: embedding-level benchmark decontamination
    (operators/similarity.py:semantic_decontaminate): vectors vec_id%41==0
    play the benchmark (13-row dim at sf0.01), the rest the corpus; any
    corpus vector with cosine ≥ 0.3 against a benchmark vector is flagged
    with its best match — the semantic complement to the verbatim
    decontamination family.  One narrow mapInPandas (benchmark rides in
    as a driver dim, no shuffle, no pair materialization); every cosine
    is the cumsum fold so the flag-set threshold and argmax replay
    bitwise in DuckDB."""
    from pdf_drawing_ocr_recognition_spark.operators.similarity import (
        semantic_decontaminate,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_decontaminate(
        emb.filter(F.col("vec_id") % 41 != 0),
        emb.filter(F.col("vec_id") % 41 == 0),
        min_cosine=0.3,
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "crop_arithmetic": q_crop_arithmetic,
        "brace_balance": q_brace_balance,
        "brace_span": q_brace_span,
        "error_prefix_filter": q_error_prefix_filter,
        "first_success_window": q_first_success_window,
        "broadcast_pattern_join": q_broadcast_pattern_join,
        "last_wins_merge": q_last_wins_merge,
        "merge_collect_ordered": q_merge_collect_ordered,
        "rollup_doc_metrics": q_rollup_doc_metrics,
        "posexplode_tokens": q_posexplode_tokens,
        "anti_join_resume": q_anti_join_resume,
        "sub_key_prefix": q_sub_key_prefix,
        "flatten_dotted": q_flatten_dotted,
        "json_struct_extract": q_json_struct_extract,
        "cell_row_assembly": q_cell_row_assembly,
        "exact_dedup": q_exact_dedup,
        "dedup_cluster_sizes": q_dedup_cluster_sizes,
        "minhash_signature": q_minhash_signature,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash": q_simhash,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "cosine_topk": q_cosine_topk,
        "ann_lsh_buckets": q_ann_lsh_buckets,
        "ivf_assign_counts": q_ivf_assign_counts,
        "ivf_topk": q_ivf_topk,
        "ann_multiprobe_topk": q_ann_multiprobe_topk,
        "ivf_refined_counts": q_ivf_refined_counts,
        "embedding_near_dupes": q_embedding_near_dupes,
        "token_counts": q_token_counts,
        "quality_scores": q_quality_scores,
        "lang_id": q_lang_id,
        "fingerprints": q_fingerprints,
        "winnow_fingerprints": q_winnow_fingerprints,
        "host_skew_counts": q_host_skew_counts,
        "skew_join_salted": q_skew_join_salted,
        "pricing_summary": q_pricing_summary,
        "shipping_priority": q_shipping_priority,
        "local_supplier_volume": q_local_supplier_volume,
        "cube_metrics": q_cube_metrics,
        "percentile_chars": q_percentile_chars,
        "window_tumbling_events": q_window_tumbling_events,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "session_windows": q_session_windows,
        "near_dedup_survivors": q_near_dedup_survivors,
        "incremental_dedup": q_incremental_dedup,
        "dedup_components": q_dedup_components,
        "dedup_representatives": q_dedup_representatives,
        "paragraph_dedup": q_paragraph_dedup,
        "url_dedup": q_url_dedup,
        "url_template_farms": q_url_template_farms,
        "sitemap_harvest": q_sitemap_harvest,
        "hreflang_clusters": q_hreflang_clusters,
        "registered_domains": q_registered_domains,
        "unicode_nfc_dedup": q_unicode_nfc_dedup,
        "domain_split": q_domain_split,
        "containment_pairs": q_containment_pairs,
        "shard_manifest": q_shard_manifest,
        "kn_continuation": q_kn_continuation,
        "cocitation_farms": q_cocitation_farms,
        "dedup_threshold_sweep": q_dedup_threshold_sweep,
        "first_seen_attribution": q_first_seen_attribution,
        "link_reciprocity": q_link_reciprocity,
        "hits_scores": q_hits_scores,
        "link_churn": q_link_churn,
        "sitemap_coverage": q_sitemap_coverage,
        "scd2_history": q_scd2_history,
        "matryoshka_recall": q_matryoshka_recall,
        "policy_at_fetch": q_policy_at_fetch,
        "lsh_recall_eval": q_lsh_recall_eval,
        "bot_regularity": q_bot_regularity,
        "html_table_cells": q_html_table_cells,
        "table_shapes": q_table_shapes,
        "ppjoin_pairs": q_ppjoin_pairs,
        "label_propagation": q_label_propagation,
        "edit_verified_pairs": q_edit_verified_pairs,
        "source_vocab_overlap": q_source_vocab_overlap,
        "bow_dedup": q_bow_dedup,
        "semantic_decontamination": q_semantic_decontamination,
        "code_blocks": q_code_blocks,
        "code_density": q_code_density,
        "otsu_moments": q_otsu_moments,
        "mojibake_repair": q_mojibake_repair,
        "stitch_continuations": q_stitch_continuations,
        "rate_bursts": q_rate_bursts,
        "heading_outline": q_heading_outline,
        "heading_profile": q_heading_profile,
        "section_chunks": q_section_chunks,
        "zipf_curve": q_zipf_curve,
        "url_shape": q_url_shape,
        "vocab_drift": q_vocab_drift,
        "list_items": q_list_items,
        "centroid_drift": q_centroid_drift,
        "markdown_render": q_markdown_render,
        "markup_invariant_dedup": q_markup_invariant_dedup,
        "image_text_pairs": q_image_text_pairs,
        "image_pair_filters": q_image_pair_filters,
        "srcset_resolution": q_srcset_resolution,
        "declared_lang_mismatch": q_declared_lang_mismatch,
        "page_profile": q_page_profile,
        "title_body_coverage": q_title_body_coverage,
        "bpe_encode": q_bpe_encode,
        "tokenizer_fertility": q_tokenizer_fertility,
        "pii_by_domain": q_pii_by_domain,
        "host_lang_mixture": q_host_lang_mixture,
        "redirect_chains": q_redirect_chains,
        "charset_sniff": q_charset_sniff,
        "simhash_wide": q_simhash_wide,
        "simhash_near_pairs": q_simhash_near_pairs,
        "feed_harvest": q_feed_harvest,
        "page_metadata": q_page_metadata,
        "canonical_dedup": q_canonical_dedup,
        "host_mirrors": q_host_mirrors,
        "recrawl_tiers": q_recrawl_tiers,
        "good_turing": q_good_turing,
        "set_ops": q_set_ops,
        "distinct_counts": q_distinct_counts,
        "topk_docs": q_topk_docs,
        "hash_split": q_hash_split,
        "training_prep": q_training_prep,
        "semi_join_priority": q_semi_join_priority,
        "word_rarity_scores": q_word_rarity_scores,
        "stratified_sample": q_stratified_sample,
        "decontamination": q_decontamination,
        "bloom_decontamination": q_bloom_decontamination,
        "chunk_documents": q_chunk_documents,
        "pii_scrub": q_pii_scrub,
        "attribution_join": q_attribution_join,
        "approx_percentile_chars": q_approx_percentile_chars,
        "rolling_user_spend": q_rolling_user_spend,
        "grouping_sets_metrics": q_grouping_sets_metrics,
        "approx_distinct_words": q_approx_distinct_words,
        "top_words": q_top_words,
        "source_quality_audit": q_source_quality_audit,
        "unpivot_event_matrix": q_unpivot_event_matrix,
        "global_row_numbers": q_global_row_numbers,
        "repetition_signals": q_repetition_signals,
        "char_diversity": q_char_diversity,
        "script_mix": q_script_mix,
        "pivot_event_matrix": q_pivot_event_matrix,
        "map_event_stats": q_map_event_stats,
        "extract_documents": q_extract_documents,
        "multimodal_stub": q_multimodal_stub,
        "multimodal_frames": q_multimodal_frames,
        "image_features": q_image_features,
        "image_near_dupes": q_image_near_dupes,
        "image_dhash": q_image_dhash,
        "image_dhash_pairs": q_image_dhash_pairs,
        "packing_stats": q_packing_stats,
        "host_link_graph": q_host_link_graph,
        "anchor_texts": q_anchor_texts,
        "host_pagerank": q_host_pagerank,
        "host_trustrank": q_host_trustrank,
        "rank_prioritized_docs": q_rank_prioritized_docs,
        "normalized_dedup": q_normalized_dedup,
        "quota_sample": q_quota_sample,
        "snapshot_diff": q_snapshot_diff,
        "token_budget_select": q_token_budget_select,
        "snapshot_timetravel": q_snapshot_timetravel,
        "snapshot_pruned_scan": q_snapshot_pruned_scan,
        "hidden_partition_scan": q_hidden_partition_scan,
        "schema_evolution_scan": q_schema_evolution_scan,
        "snapshot_metadata_audit": q_snapshot_metadata_audit,
        "consumer_tail_delta": q_consumer_tail_delta,
        "bucket_local_join": q_bucket_local_join,
        "snapshot_rollback_read": q_snapshot_rollback_read,
        "streaming_upsert_state": q_streaming_upsert_state,
        "delete_mask_compaction": q_delete_mask_compaction,
        "auc_exact": q_auc_exact,
        "merge_when_clauses": q_merge_when_clauses,
        "bloom_pruned_lookup": q_bloom_pruned_lookup,
        "reliability_bins": q_reliability_bins,
        "partial_compaction_scan": q_partial_compaction_scan,
        "snapshot_mor_delete": q_snapshot_mor_delete,
        "eq_delete_upsert": q_eq_delete_upsert,
        "changelog_scan": q_changelog_scan,
        "datasource_scan": q_datasource_scan,
        "ivm_lang_stats": q_ivm_lang_stats,
        "runtime_filter_join": q_runtime_filter_join,
        "snapshot_fast_count": q_snapshot_fast_count,
        "cdc_dedup_index": q_cdc_dedup_index,
        "analyze_columns": q_analyze_columns,
        "auto_join_plan": q_auto_join_plan,
        "snapshot_tag_read": q_snapshot_tag_read,
        "zorder_pruning_audit": q_zorder_pruning_audit,
        "snapshot_merge": q_snapshot_merge,
        "snapshot_changes": q_snapshot_changes,
        "blocklist_filter": q_blocklist_filter,
        "tfidf_top_terms": q_tfidf_top_terms,
        "bigram_lm_scores": q_bigram_lm_scores,
        "compression_signals": q_compression_signals,
        "quality_funnel": q_quality_funnel,
        "robots_filter": q_robots_filter,
        "politeness_schedule": q_politeness_schedule,
        "perplexity_buckets": q_perplexity_buckets,
        "encoding_anomalies": q_encoding_anomalies,
        "corpus_card": q_corpus_card,
        "winnow_pairs": q_winnow_pairs,
        "boilerplate_lines": q_boilerplate_lines,
        "crawl_budget": q_crawl_budget,
        "exact_substring_dedup": q_exact_substring_dedup,
        "exact_substring_bytes": q_exact_substring_bytes,
        "bm25_topk": q_bm25_topk,
        "phrase_search": q_phrase_search,
        "dsir_weights": q_dsir_weights,
        "contamination_report": q_contamination_report,
        "balanced_shards": q_balanced_shards,
        "vocab_coverage": q_vocab_coverage,
        "alpha_sampling_quotas": q_alpha_sampling_quotas,
        "category_drift": q_category_drift,
        "source_quality_priors": q_source_quality_priors,
        "pmi_collocations": q_pmi_collocations,
        "source_concentration": q_source_concentration,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "hll_distinct_words": q_hll_distinct_words,
        "length_quantiles": q_length_quantiles,
        "pca_gram": q_pca_gram,
        "soft_dedup_weights": q_soft_dedup_weights,
        "source_redundancy": q_source_redundancy,
        "bitext_alignment": q_bitext_alignment,
        "taxonomy_tags": q_taxonomy_tags,
        "curriculum_order": q_curriculum_order,
        "ngram_novelty": q_ngram_novelty,
        "duplication_rate": q_duplication_rate,
        "rendezvous_shards": q_rendezvous_shards,
        "pca_outliers": q_pca_outliers,
        "score_calibration": q_score_calibration,
        "dedup_cascade": q_dedup_cascade,
        "ann_recall": q_ann_recall,
        "minhash_calibration": q_minhash_calibration,
        "vocab_growth": q_vocab_growth,
        "quality_classifier_scores": q_quality_classifier_scores,
        "semantic_dedup_survivors": q_semantic_dedup_survivors,
        "weighted_sample": q_weighted_sample,
        "bpe_pair_counts": q_bpe_pair_counts,
        "sq8_ann_topk": q_sq8_ann_topk,
        "curation_pipeline": q_curation_pipeline,
        "stupid_backoff_scores": q_stupid_backoff_scores,
        "weighted_quota_sample": q_weighted_quota_sample,
        "hard_negatives": q_hard_negatives,
        "dedup_attribution": q_dedup_attribution,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect) — one per SQL-checkable query above
# ---------------------------------------------------------------------------


def _dim_values_sql() -> str:
    return ", ".join(f"('{s}', {d})" for s, d in SOURCE_DIM)


def _moji_sql() -> str:
    from pdf_drawing_ocr_recognition_spark.functions.encoding import (
        mojibake_markers_sql_counts,
    )

    return mojibake_markers_sql_counts("text")


def _bm25_queries_sql() -> str:
    """Shared-source-of-truth VALUES list for the bm25_topk oracle."""
    return ", ".join(f"('{q}', '{t}')" for q, t in BM25_QUERIES)


def _robots_rules_sql() -> str:
    """Shared-source-of-truth VALUES list for the robots_filter oracle."""
    return ", ".join(
        f"('{h}', '{p}', {'true' if a else 'false'})" for h, p, a in ROBOTS_RULES
    )


def _planes_sql() -> str:
    return ", ".join(
        f"({i}, [{', '.join(repr(x) for x in plane)}]::DOUBLE[])"
        for i, plane in enumerate(PLANES)
    )


def _planes18_sql() -> str:
    return ", ".join(
        f"({i}, [{', '.join(repr(x) for x in plane)}]::DOUBLE[])"
        for i, plane in enumerate(PLANES18)
    )


# expected pixel statistics of the deterministic 8×8 document images
# (_image_blobs): pixel i = clamped codepoint of char i of text, pad 32
_IMAGE_STATS_SQL = """
            px AS (
                SELECT d.doc_id, i.i,
                       CASE WHEN i.i <= length(d.text)
                            THEN least(unicode(substr(d.text, i.i, 1)), 255)
                            ELSE 32 END AS p
                FROM documents d
                CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
            ), m AS (
                SELECT doc_id, avg(p) AS mean_p FROM px GROUP BY doc_id
            ), sd AS (
                SELECT px.doc_id,
                       sqrt(avg((px.p - m.mean_p) * (px.p - m.mean_p))) AS std_p
                FROM px JOIN m USING (doc_id) GROUP BY px.doc_id
            ), hist AS (
                SELECT doc_id, CAST(floor(p / 16) AS INT) AS b, count(*) AS c
                FROM px GROUP BY doc_id, CAST(floor(p / 16) AS INT)
            ), histfull AS (
                SELECT m.doc_id, b.b, COALESCE(h.c, 0) AS c
                FROM m CROSS JOIN
                     (SELECT unnest(generate_series(0, 15)) AS b) b
                LEFT JOIN hist h ON h.doc_id = m.doc_id AND h.b = b.b
            )"""


_SHINGLE_SQL = (
    "list_transform(generate_series(1, greatest(0, length(lower(text)) - {km1})),"
    " i -> substr(lower(text), i, {k}))"
)

# word k-gram shingles (k=3): space-joined trigrams of the word array
_WORD_SHINGLE_SQL = (
    "list_transform(generate_series(1, greatest(0, len(string_split(lower(text), ' ')) - 2)),"
    " i -> array_to_string(string_split(lower(text), ' ')[i:i+2], ' '))"
)


# synthesized link corpus (T49/T50): doc i → targets (i*7 + j*13 + 1) % N for
# j < i % 4; j = 0 is a root-relative href (lands on the SOURCE host), j >= 1
# absolute to the target's own host.  The DuckDB twins recompute the edge set
# from doc_id arithmetic alone, so a hash match proves the HTML link kernel
# (quote forms, relative resolution, fragment/mailto skipping) is exact.
_LINK_EDGES_SQL = """
            n AS (SELECT count(*) AS nn FROM documents),
            links AS (
                SELECT d.doc_id % 23 AS src_h,
                       (d.doc_id * 7 + j.j * 13 + 1) % n.nn AS t,
                       CASE WHEN j.j = 0 THEN d.doc_id % 23
                            ELSE ((d.doc_id * 7 + j.j * 13 + 1) % n.nn) % 23
                       END AS dst_h
                FROM documents d
                CROSS JOIN n
                CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) j
                WHERE j.j < d.doc_id % 4
            )"""


def _pagerank_iter_sql(prev: str, cur: str) -> str:
    """One damped power-method iteration as chained CTEs (DuckDB replay of
    operators/links.pagerank — same float ops: p = w/out_w computed once,
    rank*(p) products summed, dangling mass folded back /n)."""
    return f"""
            c{cur} AS (
                SELECT e.dst_h AS h,
                       sum(r{prev}.r * (e.w / o.ow)) AS contrib
                FROM edges e
                JOIN r{prev} ON r{prev}.h = e.src_h
                JOIN outw o ON o.src_h = e.src_h
                GROUP BY e.dst_h
            ),
            d{cur} AS (
                SELECT COALESCE(sum(r{prev}.r), CAST(0 AS DOUBLE)) AS dm
                FROM r{prev} LEFT JOIN outw o ON o.src_h = r{prev}.h
                WHERE o.src_h IS NULL
            ),
            r{cur} AS (
                SELECT nodes.h,
                       (1 - CAST(0.85 AS DOUBLE)) / nc.c
                       + CAST(0.85 AS DOUBLE)
                         * (COALESCE(c.contrib, 0) + d.dm / nc.c) AS r
                FROM nodes CROSS JOIN nc CROSS JOIN d{cur} d
                LEFT JOIN c{cur} c ON c.h = nodes.h
            )"""


def _trustrank_iter_sql(prev: str, cur: str) -> str:
    """One seeded power-method iteration (DuckDB replay of
    operators/links.trustrank — teleport AND dangling mass weighted by the
    per-node tele column instead of uniform 1/n)."""
    return f"""
            c{cur} AS (
                SELECT e.dst_h AS h,
                       sum(r{prev}.r * (e.w / o.ow)) AS contrib
                FROM edges e
                JOIN r{prev} ON r{prev}.h = e.src_h
                JOIN outw o ON o.src_h = e.src_h
                GROUP BY e.dst_h
            ),
            d{cur} AS (
                SELECT COALESCE(sum(r{prev}.r), CAST(0 AS DOUBLE)) AS dm
                FROM r{prev} LEFT JOIN outw o ON o.src_h = r{prev}.h
                WHERE o.src_h IS NULL
            ),
            r{cur} AS (
                SELECT tn.h,
                       (1 - CAST(0.85 AS DOUBLE)) * tn.tele
                       + CAST(0.85 AS DOUBLE)
                         * (COALESCE(c.contrib, 0) + d.dm * tn.tele) AS r
                FROM tn CROSS JOIN d{cur} d
                LEFT JOIN c{cur} c ON c.h = tn.h
            )"""


@_functools.lru_cache(maxsize=1)
def _frame_dims() -> tuple[int, int, int]:
    """(height, width-for-1-digit-doc_id, width-for-2-digit-doc_id) of the
    q_multimodal_frames pages — probed from the SAME fixture renderer the
    Spark query uses, so the oracle constants share their source of truth."""
    from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import (
        PATTERNS,
        build_page_image,
    )

    h1, w1 = build_page_image(PATTERNS["fullpage"], [{"text": "d0_f0"}]).shape
    h2, w2 = build_page_image(PATTERNS["fullpage"], [{"text": "d10_f0"}]).shape
    assert h1 == h2
    return h1, w1, w2


def _taxonomy_values() -> str:
    """The T103 taxonomy dim as a VALUES list — same Python literal the
    Spark query builds its DataFrame from (single source of truth)."""
    return ", ".join(f"('{t}', '{p}')" for t, p in TAXONOMY)


def _hll_numer() -> str:
    """The alpha_m * m^2 * 2^49 literal for bucket_hex=2 — ONE double from
    the same function the Spark summary uses (single source of truth), so
    both engines evaluate the identical `round(lit / scaled_sum, 4)`."""
    from pdf_drawing_ocr_recognition_spark.operators.sketches import (
        hll_alpha_numerator,
    )

    return repr(hll_alpha_numerator(2))


def _minhash_sql(n_hashes: int = 16) -> str:
    """sig as list of 16 min md5 strings over shingles (NULL-safe min)."""
    mins = ", ".join(
        f"list_min(list_transform(sh, x -> md5('{j}|' || x)))" for j in range(n_hashes)
    )
    return f"[{mins}]"


def oracle_sql() -> dict[str, str]:
    from pdf_drawing_ocr_recognition_spark.functions.normalize import (
        normalize_text_sql,
    )

    _NORM_V_SQL = normalize_text_sql("v")
    shingle5 = _WORD_SHINGLE_SQL
    shingle3 = _SHINGLE_SQL.format(km1=2, k=3)
    sig16 = _minhash_sql(16)
    band_keys = ", ".join(
        f"md5('{b}|' || array_to_string(sig[{b * 4 + 1}:{b * 4 + 4}], '|'))"
        for b in range(4)
    )
    window_mins = ", ".join(
        f"list_min(list_transform({h}, x -> substr(x, {j * 4 + 1}, 4)))"
        for h in ("h0", "h1")
        for j in range(8)
    )
    en, de, fr, es = (
        ("the", "and", "of"),
        ("der", "und", "nicht"),
        ("le", "et", "les"),
        ("el", "que", "los"),
    )

    def hits(markers):
        terms = " + ".join(
            f"((length(p) - length(replace(p, ' {m} ', ''))) // {len(m) + 2})"
            for m in markers
        )
        return f"({terms})"

    wc = "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END"
    punct = (
        "CASE WHEN length(text) = 0 THEN 0.0 ELSE "
        "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / length(text) END"
    )
    stop_hits = hits(en)
    stop_ratio = f"CASE WHEN {wc} = 0 THEN 0.0 ELSE {stop_hits} / {wc} END"

    d = {
        "crop_arithmetic": """
            SELECT l_orderkey, l_linenumber,
                   CAST(least(h, greatest(0, floor(h * top / 100.0))) AS BIGINT) AS y1,
                   CAST(least(h, greatest(0, floor(h * bottom / 100.0))) AS BIGINT) AS y2,
                   CAST(least(h, greatest(0, floor(h * bottom / 100.0))) AS BIGINT)
                 - CAST(least(h, greatest(0, floor(h * top / 100.0))) AS BIGINT) AS crop_height
            FROM (SELECT l_orderkey, l_linenumber, floor(l_extendedprice) AS h,
                         l_discount * 1000.0 AS top,
                         l_tax * 1000.0 + l_discount * 1000.0 AS bottom
                  FROM lineitem)
        """,
        "brace_balance": """
            SELECT event_id,
                   length(s) - length(replace(s, '{', '')) AS n_open,
                   length(s) - length(replace(s, '}', '')) AS n_close,
                   (length(s) - length(replace(s, '{', ''))) =
                   (length(s) - length(replace(s, '}', ''))) AS balanced
            FROM (SELECT event_id,
                         CASE WHEN event_id % 7 = 0 THEN props || '{' ELSE props END AS s
                  FROM events)
        """,
        "brace_span": """
            SELECT event_id,
                   CASE WHEN strpos(s, '{') > 0 AND strpos(reverse(s), '}') > 0
                             AND strpos(s, '{') < length(s) - strpos(reverse(s), '}') + 1
                        THEN substr(s, strpos(s, '{'),
                                    length(s) - strpos(reverse(s), '}') + 1 - strpos(s, '{') + 1)
                   END AS span
            FROM (SELECT event_id,
                         CASE WHEN event_id % 5 = 0 THEN replace(props, '}', '')
                              ELSE 'x' || props || 'y' END AS s
                  FROM events)
        """,
        "error_prefix_filter": """
            SELECT event_id, raw
            FROM (SELECT event_id,
                         CASE WHEN event_type = 'error' THEN 'Error: ' || props
                              ELSE props END AS raw
                  FROM events)
            WHERE raw NOT LIKE 'Error:%'
        """,
        "first_success_window": """
            SELECT user_id, event_id AS first_event_id, epoch_us(ts) AS first_ts_us
            FROM (SELECT user_id, event_id, ts,
                         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                  FROM events)
            WHERE rn = 1
        """,
        "broadcast_pattern_join": f"""
            SELECT dim.dpi, count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS total_chars
            FROM documents d
            JOIN (VALUES {_dim_values_sql()}) AS dim(source, dpi)
              ON d.source = dim.source
            GROUP BY dim.dpi
        """,
        "last_wins_merge": """
            SELECT user_id, value AS last_value
            FROM (SELECT user_id, value,
                         row_number() OVER (PARTITION BY user_id
                                            ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1
        """,
        "merge_collect_ordered": """
            SELECT user_id,
                   array_to_string(list(CAST(event_id AS VARCHAR)
                                        ORDER BY epoch_us(ts), event_id), ',') AS event_chain
            FROM events GROUP BY user_id
        """,
        "rollup_doc_metrics": """
            SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY ROLLUP(lang, source)
        """,
        "posexplode_tokens": """
            SELECT doc_id,
                   generate_subscripts(arr, 1) - 1 AS pos,
                   unnest(arr) AS word
            FROM (SELECT doc_id, string_split(text, ' ') AS arr
                  FROM documents WHERE doc_id < 50)
        """,
        "anti_join_resume": """
            SELECT lang, count(*) AS n_pending
            FROM documents
            WHERE doc_id % 10 >= 3
            GROUP BY lang
        """,
        "sub_key_prefix": """
            SELECT event_id,
                   printf('sub_%d_%s', CAST(event_id % 5 AS INT), event_type) AS merged_key
            FROM events
        """,
        "flatten_dotted": """
            SELECT event_id, 'props.k' AS flat_key,
                   json_extract_string(props, '$.k') AS flat_value
            FROM events
        """,
        "cell_row_assembly": """
            SELECT l_orderkey AS doc, l_linenumber AS cell_y, l_partkey AS cell_x,
                   row_number() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_linenumber, l_partkey, l_suppkey) AS cell_rank
            FROM lineitem WHERE l_orderkey < 200
        """,
        "exact_dedup": """
            SELECT md5(text) AS digest, count(*) AS cluster_size,
                   min(doc_id) AS keeper_doc_id
            FROM documents GROUP BY md5(text)
        """,
        "dedup_cluster_sizes": """
            SELECT cluster_size, count(*) AS n_clusters
            FROM (SELECT count(*) AS cluster_size FROM documents GROUP BY md5(text))
            GROUP BY cluster_size
        """,
        "minhash_signature": f"""
            SELECT doc_id, array_to_string({sig16}, ',') AS sig
            FROM (SELECT doc_id, {shingle5} AS sh FROM documents WHERE doc_id < 200)
        """,
        "minhash_lsh_pairs": f"""
            WITH hashed AS (
                SELECT doc_id,
                       list_transform(wsh, x -> md5('0|' || x)) AS h0,
                       list_transform(wsh, x -> md5('1|' || x)) AS h1
                FROM (SELECT doc_id, {shingle5} AS wsh FROM documents)
            ), sigs AS (
                SELECT doc_id, [{window_mins}] AS sig FROM hashed
            ), banded AS (
                SELECT doc_id, unnest([{band_keys}]) AS band_key FROM sigs
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b USING (band_key)
            WHERE a.doc_id < b.doc_id
        """,
        "edit_verified_pairs": f"""
            WITH hashed AS (
                SELECT doc_id,
                       list_transform(wsh, x -> md5('0|' || x)) AS h0,
                       list_transform(wsh, x -> md5('1|' || x)) AS h1
                FROM (SELECT doc_id, {shingle5} AS wsh FROM documents)
            ), sigs AS (
                SELECT doc_id, [{window_mins}] AS sig FROM hashed
            ), banded AS (
                SELECT doc_id, unnest([{band_keys}]) AS band_key FROM sigs
            ), pairs AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM banded a JOIN banded b USING (band_key)
                WHERE a.doc_id < b.doc_id
            ), scored AS (
                SELECT p.doc_a, p.doc_b,
                       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_distance,
                       CAST(greatest(length(a.text), length(b.text)) AS BIGINT) AS ml
                FROM pairs p
                JOIN documents a ON p.doc_a = a.doc_id
                JOIN documents b ON p.doc_b = b.doc_id
            )
            SELECT doc_a, doc_b, edit_distance,
                   CAST(CASE WHEN ml = 0 THEN 1000000
                        ELSE (ml - edit_distance) * 1000000 // ml
                        END AS BIGINT) AS edit_sim_ppm
            FROM scored WHERE edit_distance <= 7
        """,
        "source_vocab_overlap": """
            WITH words AS (
                SELECT source, unnest(string_split(lower(text), ' ')) AS word
                FROM documents
            ), hashed AS (
                SELECT source,
                       CAST('0x' || substr(md5('om|' || word), 1, 15)
                            AS BIGINT) AS h,
                       CAST(CAST('0x' || substr(md5('om|' || word), 16, 4)
                                 AS BIGINT) % 64 AS INT) AS bucket
                FROM words
            ), sk AS (
                SELECT source, bucket, min(h) AS mh
                FROM hashed GROUP BY source, bucket
            )
            SELECT a.source AS group_a, b.source AS group_b,
                   CAST(count(*) AS BIGINT) AS n_both,
                   CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_match,
                   CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
                        * 1000000 // count(*) AS BIGINT) AS jaccard_est_ppm
            FROM sk a JOIN sk b USING (bucket)
            WHERE a.source < b.source
            GROUP BY a.source, b.source
        """,
        "bow_dedup": """
            WITH twins AS (
                SELECT doc_id + 1000000 AS doc_id,
                       array_to_string(
                           list_sort(string_split(lower(text), ' ')), ' '
                       ) AS text
                FROM documents WHERE doc_id % 37 = 0
            ), alld AS (
                SELECT doc_id, text FROM documents
                UNION ALL SELECT doc_id, text FROM twins
            )
            SELECT md5(array_to_string(
                       list_sort(string_split(lower(text), ' ')), ' '
                   )) AS bow_digest,
                   CAST(count(*) AS BIGINT) AS cluster_size,
                   CAST(count(DISTINCT md5(text)) AS BIGINT)
                       AS n_exact_variants,
                   min(doc_id) AS keeper_doc_id
            FROM alld
            GROUP BY 1
            HAVING count(*) >= 2
        """,
        "semantic_decontamination": """
            WITH bench AS (
                SELECT vec_id AS bench_id, embedding::DOUBLE[] AS b
                FROM embeddings WHERE vec_id % 41 = 0
            ), corpus AS (
                SELECT vec_id, embedding::DOUBLE[] AS c
                FROM embeddings WHERE vec_id % 41 <> 0
            ), scored AS (
                SELECT corpus.vec_id, bench.bench_id,
                       CASE WHEN sqrt(list_dot_product(c, c)) *
                                 sqrt(list_dot_product(b, b)) = 0
                            THEN 0.0
                            ELSE list_dot_product(c, b) /
                                 (sqrt(list_dot_product(c, c)) *
                                  sqrt(list_dot_product(b, b)))
                       END AS cos
                FROM corpus CROSS JOIN bench
            ), best AS (
                SELECT vec_id, bench_id, cos,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cos DESC, bench_id ASC)
                           AS rn
                FROM scored
            )
            SELECT vec_id, bench_id, round(cos, 6) AS cosine
            FROM best WHERE rn = 1 AND cos >= 0.3
        """,
        "code_blocks": """
            WITH base AS (
                SELECT doc_id AS i,
                       'http://c' || (doc_id % 13) || '.example.com/p/'
                           || doc_id AS url
                FROM documents
            ), pre_blocks AS (
                SELECT url, CAST(k.k AS INT) AS block_idx, 'pre' AS tag,
                       CASE WHEN i % 2 = 0 THEN 'python' ELSE '' END
                           AS lang_hint,
                       'def f' || i || '_' || k.k || '(a):' || chr(10)
                           || '    return a & ' || k.k AS code_text
                FROM base CROSS JOIN (SELECT unnest([0, 1]) AS k) k
                WHERE k.k < i % 3
            ), inline_blocks AS (
                SELECT url, CAST(i % 3 AS INT) AS block_idx, 'code' AS tag,
                       '' AS lang_hint, 'x' || i || '=1' AS code_text
                FROM base WHERE i % 5 = 0
            ), tail_blocks AS (
                SELECT url,
                       CAST(i % 3 + CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END
                            AS INT) AS block_idx,
                       'pre' AS tag, '' AS lang_hint,
                       'tail d' || i AS code_text
                FROM base WHERE i % 7 = 0
            )
            SELECT url, block_idx, tag, lang_hint, code_text FROM pre_blocks
            UNION ALL SELECT url, block_idx, tag, lang_hint, code_text
            FROM inline_blocks
            UNION ALL SELECT url, block_idx, tag, lang_hint, code_text
            FROM tail_blocks
        """,
        "code_density": """
            WITH base AS (
                SELECT doc_id AS i,
                       'http://c' || (doc_id % 13) || '.example.com/p/'
                           || doc_id AS url
                FROM documents
            ), built AS (
                SELECT url,
                       '<html><body><script>var x=1;</script><p>intro d'
                       || i || '</p>'
                       || CASE WHEN 0 < i % 3 THEN
                            CASE WHEN i % 2 = 0
                                 THEN '<pre><code class="language-python">def f'
                                      || i || '_0(a):' || chr(10)
                                      || '    return a &amp; 0</code></pre>'
                                 ELSE '<pre>def f' || i || '_0(a):' || chr(10)
                                      || '    return a &amp; 0</pre>'
                            END ELSE '' END
                       || CASE WHEN 1 < i % 3 THEN
                            CASE WHEN i % 2 = 0
                                 THEN '<pre><code class="language-python">def f'
                                      || i || '_1(a):' || chr(10)
                                      || '    return a &amp; 1</code></pre>'
                                 ELSE '<pre>def f' || i || '_1(a):' || chr(10)
                                      || '    return a &amp; 1</pre>'
                            END ELSE '' END
                       || CASE WHEN i % 5 = 0
                               THEN '<p>see <code>x' || i || '=1</code> here</p>'
                               ELSE '' END
                       || CASE WHEN i % 7 = 0
                               THEN '<pre>tail d' || i ELSE '' END
                       || '</body></html>' AS html
                FROM base
            ), blocks AS (
                SELECT url,
                       'def f' || i || '_' || k.k || '(a):' || chr(10)
                           || '    return a & ' || k.k AS code_text
                FROM base CROSS JOIN (SELECT unnest([0, 1]) AS k) k
                WHERE k.k < i % 3
                UNION ALL
                SELECT url, 'x' || i || '=1' FROM base WHERE i % 5 = 0
                UNION ALL
                SELECT url, 'tail d' || i FROM base WHERE i % 7 = 0
            ), roll AS (
                SELECT url, CAST(count(*) AS BIGINT) AS nb,
                       CAST(sum(length(code_text)) AS BIGINT) AS cc
                FROM blocks GROUP BY url
            )
            SELECT b.url,
                   CAST(coalesce(r.nb, 0) AS BIGINT) AS n_code_blocks,
                   CAST(coalesce(r.cc, 0) AS BIGINT) AS code_chars,
                   CAST(coalesce(r.cc, 0) * 1000000 // length(b.html)
                        AS BIGINT) AS code_char_ppm
            FROM built b LEFT JOIN roll r USING (url)
        """,
        "otsu_moments": """
            WITH hist AS (
                SELECT least(n_chars // 8, 63) AS b, count(*) AS n
                FROM documents GROUP BY 1
            ), thr AS (SELECT unnest(range(1, 64)) AS thr_bin)
            SELECT thr_bin,
                   CAST(coalesce(sum(CASE WHEN b < thr_bin THEN n END), 0)
                        AS BIGINT) AS cnt_lo,
                   CAST(coalesce(sum(CASE WHEN b < thr_bin THEN n * b END), 0)
                        AS BIGINT) AS sum_lo,
                   CAST(coalesce(sum(CASE WHEN b >= thr_bin THEN n END), 0)
                        AS BIGINT) AS cnt_hi,
                   CAST(coalesce(sum(CASE WHEN b >= thr_bin THEN n * b END), 0)
                        AS BIGINT) AS sum_hi
            FROM thr CROSS JOIN hist
            GROUP BY thr_bin
        """,
        "mojibake_repair": """
            SELECT doc_id,
                   CASE doc_id % 5
                        WHEN 1 THEN 'caf' || chr(233) || ' ' || chr(8212)
                                    || ' d' || doc_id
                        WHEN 2 THEN 'caf' || chr(233) || ' ' || chr(8212)
                                    || ' d' || doc_id
                        WHEN 3 THEN 'it' || chr(8217) || 's d' || doc_id
                        WHEN 4 THEN chr(216) || 'x d' || doc_id
                        ELSE 'plain d' || doc_id
                   END AS repaired,
                   CAST(CASE doc_id % 5
                        WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 1
                        ELSE 0 END AS INT) AS rounds
            FROM documents
        """,
        "stitch_continuations": """
            WITH six AS (
                SELECT doc_id AS i, text,
                       'seg' || doc_id || 'a seg' || doc_id || 'b seg'
                       || doc_id || 'c seg' || doc_id || 'd seg' || doc_id
                       || 'e seg' || doc_id || 'f seg' || doc_id || 'g seg'
                       || doc_id || 'h' AS ov
                FROM documents WHERE doc_id % 6 = 0
            ), alld AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT i + 20000000, text || ' ' || ov FROM six
                UNION ALL
                SELECT i + 30000000, ov || ' continued tail of d' || i
                FROM six
            ), keyed AS (
                SELECT doc_id, ws
                FROM (SELECT doc_id,
                             list_filter(regexp_split_to_array(text, '\\s+'),
                                         x -> x <> '') AS ws
                      FROM alld)
                WHERE len(ws) >= 8
            ), tails AS (
                SELECT doc_id AS prev_doc,
                       array_to_string(ws[-8:], ' ') AS overlap_key
                FROM keyed
            ), heads AS (
                SELECT doc_id AS next_doc,
                       array_to_string(ws[1:8], ' ') AS overlap_key
                FROM keyed
            )
            SELECT prev_doc, next_doc, overlap_key
            FROM tails JOIN heads USING (overlap_key)
            WHERE prev_doc <> next_doc
        """,
        "rate_bursts": """
            WITH h AS (
                SELECT user_id AS actor,
                       epoch_us(ts) // 3600000000 AS hour_num,
                       CAST(count(*) AS BIGINT) AS n_events
                FROM events GROUP BY 1, 2
            ), wnd AS (
                SELECT actor, hour_num, n_events,
                       CAST(coalesce(sum(n_events) OVER (
                            PARTITION BY actor ORDER BY hour_num
                            RANGE BETWEEN 3 PRECEDING AND 1 PRECEDING), 0)
                            AS BIGINT) AS trailing_sum,
                       min(hour_num) OVER (PARTITION BY actor) AS fh
                FROM h
            )
            SELECT actor, hour_num, n_events, trailing_sum,
                   CAST(CASE WHEN n_events * 3 > 2 * trailing_sum
                        THEN 1 ELSE 0 END AS INT) AS is_burst
            FROM wnd WHERE hour_num >= fh + 3
        """,
        "heading_outline": """
            WITH base AS (
                SELECT doc_id AS i,
                       'http://s' || (doc_id % 11) || '.example.com/p/'
                           || doc_id AS url
                FROM documents
            ), h1 AS (
                SELECT url, CAST(0 AS INT) AS heading_idx, CAST(1 AS INT)
                           AS level,
                       'Title d' || i || ' & co' AS heading_text
                FROM base
            ), secs AS (
                SELECT url, CAST(1 + k.k AS INT) AS heading_idx,
                       CAST(2 AS INT) AS level,
                       'Sec ' || k.k || ' d' || i AS heading_text
                FROM base CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) k
                WHERE k.k < i % 4
            ), soup AS (
                SELECT url, CAST(1 + (i % 4) AS INT) AS heading_idx,
                       CAST(2 AS INT) AS level,
                       'Unclosed d' || i AS heading_text
                FROM base WHERE i % 5 = 0
                UNION ALL
                SELECT url, CAST(2 + (i % 4) AS INT), CAST(3 AS INT),
                       'Deep d' || i
                FROM base WHERE i % 5 = 0
            )
            SELECT url, heading_idx, level, heading_text FROM h1
            UNION ALL SELECT url, heading_idx, level, heading_text FROM secs
            UNION ALL SELECT url, heading_idx, level, heading_text FROM soup
        """,
        "heading_profile": """
            WITH base AS (
                SELECT doc_id AS i,
                       'http://s' || (doc_id % 11) || '.example.com/p/'
                           || doc_id AS url
                FROM documents
            )
            SELECT url,
                   CAST(1 + (i % 4)
                        + CASE WHEN i % 5 = 0 THEN 2 ELSE 0 END
                        AS BIGINT) AS n_headings,
                   CAST(1 AS BIGINT) AS n_h1,
                   CAST(CASE WHEN i % 5 = 0 THEN 3
                             WHEN i % 4 > 0 THEN 2
                             ELSE 1 END AS INT) AS max_level,
                   'Title d' || i || ' & co' AS title_candidate
            FROM base
        """,
        "section_chunks": """
            WITH base AS (
                SELECT doc_id AS i,
                       'http://s' || (doc_id % 11) || '.example.com/p/'
                           || doc_id AS url
                FROM documents
            ), h1s AS (
                SELECT url, CAST(0 AS INT) AS section_idx,
                       CAST(1 AS INT) AS level,
                       'Title d' || i || ' & co' AS title,
                       '' AS section_text
                FROM base
            ), secs AS (
                SELECT url, CAST(1 + k.k AS INT) AS section_idx,
                       CAST(2 AS INT) AS level,
                       'Sec ' || k.k || ' d' || i AS title,
                       'para ' || k.k AS section_text
                FROM base CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) k
                WHERE k.k < i % 4
            ), soup AS (
                SELECT url, CAST(1 + (i % 4) AS INT) AS section_idx,
                       CAST(2 AS INT) AS level,
                       'Unclosed d' || i AS title, '' AS section_text
                FROM base WHERE i % 5 = 0
                UNION ALL
                SELECT url, CAST(2 + (i % 4) AS INT), CAST(3 AS INT),
                       'Deep d' || i, ''
                FROM base WHERE i % 5 = 0
            )
            SELECT url, section_idx, level, title, section_text FROM h1s
            UNION ALL SELECT url, section_idx, level, title, section_text
            FROM secs
            UNION ALL SELECT url, section_idx, level, title, section_text
            FROM soup
        """,
        "zipf_curve": """
            WITH w AS (
                SELECT string_split(lower(text), ' ') AS ws FROM documents
            ), b AS (
                SELECT ws[i] || ' ' || ws[i + 1] AS bg
                FROM w, unnest(generate_series(1, len(ws) - 1)) t(i)
            ), c AS (
                SELECT bg, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1
            ), r AS (
                SELECT bg, n,
                       CAST(row_number() OVER (ORDER BY n DESC, bg ASC)
                            AS BIGINT) AS rank
                FROM c
            ), p AS (
                SELECT rank, bg AS bigram, n FROM r
                WHERE rank IN (1, 2, 4, 8, 16, 32, 64, 128, 256, 512)
            )
            SELECT p.rank, p.bigram, p.n,
                   r2.n AS next_n,
                   CAST(p.n * 1000000 // r2.n AS BIGINT) AS ratio_ppm
            FROM p LEFT JOIN r r2 ON r2.rank = p.rank * 2
        """,
        "url_shape": """
            WITH parts AS (
                SELECT doc_id,
                       CASE doc_id % 3
                            WHEN 0 THEN 'h' || (doc_id % 13) || '.example.com'
                            WHEN 1 THEN 'd' || doc_id
                                        || '-promo-99.example.com'
                            ELSE 'a.b.h' || (doc_id % 13) || '.example.com'
                       END AS host,
                       CASE doc_id % 4
                            WHEN 0 THEN '/'
                            WHEN 1 THEN '/p/' || doc_id
                            WHEN 2 THEN '/a/b/c%20d'
                            ELSE '/x'
                       END AS path,
                       CASE WHEN doc_id % 2 = 0
                            THEN '?q=1&r=' || (doc_id % 5) ELSE '' END
                           AS query
                FROM documents
            )
            SELECT doc_id,
                   CAST(length(host) - length(replace(host, '.', ''))
                        AS BIGINT) AS subdomain_depth,
                   CAST(length(host) - length(regexp_replace(host, '[0-9]',
                        '', 'g')) AS BIGINT) AS host_digits,
                   CAST(length(host) - length(replace(host, '-', ''))
                        AS BIGINT) AS host_hyphens,
                   CAST(length(path) - length(replace(path, '/', ''))
                        AS BIGINT) AS path_depth,
                   CAST(CASE WHEN query = '' THEN 0
                        ELSE length(query) - length(replace(query, '&', ''))
                             + 1 END AS BIGINT) AS n_params,
                   CAST(length(host || path || query)
                        - length(replace(host || path || query, '%', ''))
                        AS BIGINT) AS n_pct_escapes
            FROM parts
        """,
        "vocab_drift": """
            WITH words AS (
                SELECT source, (doc_id // 20) % 2 = 1 AS today,
                       unnest(string_split(lower(text), ' ')) AS word
                FROM documents
            ), y AS (
                SELECT DISTINCT source, word FROM words WHERE NOT today
            ), t AS (
                SELECT DISTINCT source, word FROM words WHERE today
            ), new_w AS (
                SELECT t.source, t.word FROM t
                LEFT JOIN y ON t.source = y.source AND t.word = y.word
                WHERE y.word IS NULL
            ), tot AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_today_words
                FROM t GROUP BY 1
            ), nw AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n_new_words
                FROM new_w GROUP BY 1
            )
            SELECT tot.source, tot.n_today_words,
                   CAST(coalesce(nw.n_new_words, 0) AS BIGINT) AS n_new_words,
                   CAST(coalesce(nw.n_new_words, 0) * 1000000
                        // tot.n_today_words AS BIGINT) AS new_word_ppm
            FROM tot LEFT JOIN nw ON tot.source = nw.source
        """,
        "list_items": """
            WITH base AS (
                SELECT doc_id AS i,
                       'http://l' || (doc_id % 7) || '.example.com/p/'
                           || doc_id AS url
                FROM documents
            ), outer_items AS (
                SELECT url, CAST(0 AS INT) AS list_idx, CAST(1 AS INT)
                           AS depth,
                       FALSE AS ordered, CAST(k.k AS INT) AS item_idx,
                       'item ' || k.k || ' of d' || i || ' & co'
                       || CASE WHEN k.k = 0 AND i % 3 = 0
                               THEN ' tail d' || i ELSE '' END AS item_text
                FROM base CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
                WHERE k.k <= i % 4
            ), subs AS (
                SELECT url, CAST(1 AS INT) AS list_idx, CAST(2 AS INT)
                           AS depth,
                       TRUE AS ordered, CAST(j.j AS INT) AS item_idx,
                       'sub ' || j.j || ' d' || i AS item_text
                FROM base CROSS JOIN (SELECT unnest([0, 1]) AS j) j
                WHERE i % 3 = 0
            )
            SELECT url, list_idx, depth, ordered, item_idx, item_text
            FROM outer_items
            UNION ALL
            SELECT url, list_idx, depth, ordered, item_idx, item_text
            FROM subs
        """,
        "centroid_drift": """
            WITH src AS (
                SELECT CAST(label AS VARCHAR) || '|'
                       || CAST((vec_id // 20) % 2 AS VARCHAR) AS grp,
                       embedding
                FROM embeddings
            ), idx AS (
                SELECT CAST(unnest(generate_series(0, 63)) AS INT) AS d
            ), sums AS (
                SELECT grp, i.d,
                       CAST(sum(CAST(floor(
                           CAST(embedding[i.d + 1] AS DOUBLE) * 1048576.0
                           + 0.5) AS BIGINT)) AS BIGINT) AS s
                FROM src CROSS JOIN idx i GROUP BY 1, 2
            ), cnt AS (
                SELECT grp, CAST(count(*) AS BIGINT) AS n FROM src GROUP BY 1
            ), vecs AS (
                SELECT grp, list(CAST(s AS DOUBLE) ORDER BY d) AS v
                FROM sums GROUP BY 1
            )
            SELECT CAST(string_split(a.grp, '|')[1] AS INT) AS label,
                   ca.n AS n_a, cb.n AS n_b,
                   round(list_dot_product(a.v, b.v)
                         / nullif(sqrt(list_dot_product(a.v, a.v))
                                  * sqrt(list_dot_product(b.v, b.v)), 0.0),
                         6) AS drift_cos
            FROM vecs a JOIN vecs b
              ON a.grp < b.grp
             AND string_split(a.grp, '|')[1] = string_split(b.grp, '|')[1]
            JOIN cnt ca ON ca.grp = a.grp
            JOIN cnt cb ON cb.grp = b.grp
        """,
        "markdown_render": """
            SELECT 'http://m' || (doc_id % 9) || '.example.com/p/'
                       || doc_id AS url,
                   array_to_string(list_filter([
                       '# Doc d' || doc_id || ' & co',
                       'intro text d' || doc_id,
                       CASE WHEN doc_id % 3 = 0
                            THEN '- alpha d' || doc_id || chr(10)
                                 || '- beta d' || doc_id
                            ELSE '' END,
                       CASE WHEN doc_id % 2 = 0
                            THEN '```python' || chr(10) || 'def f'
                                 || doc_id || '():' || chr(10)
                                 || '    return ' || doc_id || chr(10)
                                 || '```'
                            ELSE '' END,
                       CASE WHEN doc_id % 5 = 0
                            THEN '| H1 | H2 |' || chr(10)
                                 || '| --- | --- |' || chr(10)
                                 || '| a d' || doc_id || ' | b |'
                            ELSE '' END,
                       CASE WHEN doc_id % 7 = 0
                            THEN 'see `x' || doc_id || '` end'
                            ELSE 'outro d' || doc_id END
                   ], x -> x <> ''), chr(10) || chr(10)) AS markdown
            FROM documents
        """,
        "markup_invariant_dedup": """
            SELECT md5('## Title d' || doc_id || chr(10) || chr(10)
                       || 'body text d' || doc_id) AS md_digest,
                   CAST(2 AS BIGINT) AS cluster_size,
                   'http://i' || (doc_id % 5) || '.example.com/p/'
                       || doc_id AS keeper_url
            FROM documents WHERE doc_id % 11 = 0
        """,
        "image_text_pairs": """
            WITH base AS (
                SELECT doc_id AS i,
                       'http://f' || (doc_id % 7) || '.example.com/p/'
                           || doc_id AS url
                FROM documents
            )
            SELECT url, CAST(k.k AS INT) AS img_idx,
                   'http://f' || (i % 7) || '.example.com/img/' || i
                       || '_' || k.k || '.png' AS src,
                   'pic ' || k.k || ' of d' || i || ' & co' AS alt,
                   CASE WHEN k.k = 1 THEN 'ttl d' || i ELSE '' END AS title,
                   CASE WHEN k.k = 0 AND i % 4 = 0
                        THEN 'cap d' || i ELSE '' END AS caption,
                   CAST(0 AS INT) AS from_srcset
            FROM base CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) k
            WHERE k.k < i % 3
        """,
        "image_pair_filters": """
            WITH base AS (
                SELECT doc_id AS i,
                       'http://f' || (doc_id % 7) || '.example.com/p/'
                           || doc_id AS url
                FROM documents
            ), pairs AS (
                SELECT url, i, CAST(k.k AS INT) AS img_idx,
                       'http://f' || (i % 7) || '.example.com/img/' || i
                           || '_' || k.k || '.png' AS src,
                       'pic ' || k.k || ' of d' || i || ' & co' AS alt
                FROM base CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) k
                WHERE k.k < i % 3
            ), rew AS (
                SELECT url, img_idx,
                       CASE WHEN i % 5 = 2 AND img_idx = 0
                            THEN replace(src, '.png', '.php') ELSE src END
                           AS src,
                       CASE WHEN i % 7 = 1 AND img_idx = 1
                            THEN i || '_1.png'
                            WHEN i % 5 = 2 AND img_idx = 0 THEN 'x'
                            ELSE alt END AS alt
                FROM pairs
            ), flags AS (
                SELECT url, img_idx,
                       CASE WHEN alt = regexp_extract(src, '/([^/]+)$', 1)
                            THEN 1 ELSE 0 END AS alt_is_filename,
                       CASE WHEN length(alt) < 5 THEN 1 ELSE 0 END
                           AS alt_too_short,
                       CASE WHEN NOT regexp_matches(src,
                            '\\.(png|jpg|jpeg|gif|webp)$')
                            THEN 1 ELSE 0 END AS bad_extension
                FROM rew
            )
            SELECT url, img_idx,
                   CAST(alt_is_filename AS INT) AS alt_is_filename,
                   CAST(alt_too_short AS INT) AS alt_too_short,
                   CAST(bad_extension AS INT) AS bad_extension,
                   CAST(CASE WHEN alt_is_filename = 0 AND alt_too_short = 0
                             AND bad_extension = 0
                        THEN 1 ELSE 0 END AS INT) AS keep
            FROM flags
        """,
        "srcset_resolution": """
            SELECT 'http://r' || (doc_id % 7) || '.example.com/p/'
                       || doc_id AS url,
                   CASE WHEN doc_id % 5 = 0
                        THEN 'http://r' || (doc_id % 7)
                             || '.example.com/thumb_' || doc_id || '.png'
                        WHEN doc_id % 2 = 0
                        THEN 'http://r' || (doc_id % 7)
                             || '.example.com/img/' || doc_id || '_lg.png'
                        ELSE 'http://r' || (doc_id % 7)
                             || '.example.com/d2_' || doc_id || '.png'
                   END AS src,
                   'resp pic d' || doc_id AS alt,
                   CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END AS INT)
                       AS from_srcset
            FROM documents
        """,
        "declared_lang_mismatch": """
            SELECT doc_id,
                   CASE doc_id % 3 WHEN 0 THEN lang WHEN 1 THEN 'zz'
                        ELSE '' END AS declared_lang,
                   lang AS labeled_lang,
                   CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS INT)
                       AS mismatch
            FROM documents
        """,
        "page_profile": """
            WITH base AS (
                SELECT doc_id AS i,
                       'http://pp' || (doc_id % 7) || '.example.com/p/'
                           || doc_id AS url
                FROM documents
            )
            SELECT url,
                   CAST(length(array_to_string(list_filter([
                       '# Doc d' || i,
                       'intro d' || i || ' next',
                       CASE WHEN i % 3 = 0
                            THEN '- alpha d' || i || chr(10)
                                 || '- beta d' || i ELSE '' END,
                       CASE WHEN i % 2 = 0
                            THEN '```python' || chr(10) || 'def f' || i
                                 || '():' || chr(10) || '    return ' || i
                                 || chr(10) || '```' ELSE '' END,
                       'outro d' || i
                   ], x -> x <> ''), chr(10) || chr(10))) AS BIGINT)
                       AS md_chars,
                   CAST(1 AS BIGINT) AS n_headings,
                   CAST(CASE WHEN i % 3 = 0 THEN 2 ELSE 0 END AS BIGINT)
                       AS n_list_items,
                   CAST(CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
                       AS n_code_blocks,
                   CAST(CASE WHEN i % 2 = 0
                        THEN length('def f' || i || '():' || chr(10)
                                    || '    return ' || i)
                        ELSE 0 END AS BIGINT) AS code_chars,
                   CAST(CASE WHEN i % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
                       AS n_images,
                   CAST(1 AS BIGINT) AS n_links
            FROM base
        """,
        "title_body_coverage": """
            SELECT 'http://tb' || (doc_id % 3) || '.example.com/p/'
                       || doc_id AS url,
                   CAST(3 AS BIGINT) AS n_title_words,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END
                        AS BIGINT) AS n_covered,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 666666 ELSE 333333 END
                        AS BIGINT) AS coverage_ppm
            FROM documents
        """,
        "simhash": """
            WITH toks AS (
                SELECT doc_id, md5(unnest(string_split(lower(text), ' '))) AS h
                FROM documents WHERE doc_id < 200
            ), bits AS (
                SELECT doc_id, b.b AS b,
                       CASE WHEN ((strpos('0123456789abcdef', substr(h, (b.b // 4) + 1, 1)) - 1)
                                  >> (3 - (b.b % 4))) & 1 = 1
                            THEN 1 ELSE -1 END AS d
                FROM toks, (SELECT unnest(generate_series(0, 15)) AS b) b
            ), counters AS (
                SELECT doc_id, b, sum(d) AS c FROM bits GROUP BY doc_id, b
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN c > 0 THEN 1 << (15 - b) ELSE 0 END) AS INT) AS simhash
            FROM counters GROUP BY doc_id
        """,
        "ngram_jaccard_pairs": f"""
            WITH g AS (
                SELECT doc_id, list_distinct({shingle3}) AS grams
                FROM documents WHERE doc_id % 25 = 0
            )
            SELECT doc_a, doc_b, jaccard FROM (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       round(CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) = 0
                                  THEN 0.0
                                  ELSE len(list_intersect(a.grams, b.grams))
                                       / len(list_distinct(list_concat(a.grams, b.grams)))
                             END, 4) AS jaccard
                FROM g a JOIN g b ON a.doc_id < b.doc_id
            ) WHERE jaccard >= 0.12
        """,
        "cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
                       FROM embeddings WHERE vec_id < 5),
            scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       round(CASE WHEN sqrt(list_dot_product(q.qvec, q.qvec)) *
                                       sqrt(list_dot_product(e.embedding, e.embedding)) = 0
                                  THEN 0.0
                                  ELSE list_dot_product(q.qvec, e.embedding) /
                                       (sqrt(list_dot_product(q.qvec, q.qvec)) *
                                        sqrt(list_dot_product(e.embedding, e.embedding)))
                             END, 4) AS cos
                FROM (SELECT vec_id, embedding::DOUBLE[] AS embedding
                      FROM embeddings) e CROSS JOIN q
                WHERE e.vec_id != q.query_id
            )
            SELECT query_id, rank, neighbor_id, cos FROM (
                SELECT query_id, neighbor_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id ASC) AS rank
                FROM scored
            ) WHERE rank <= 10
        """,
        "ann_lsh_buckets": f"""
            WITH planes AS (SELECT * FROM (VALUES {_planes_sql()}) AS p(i, plane)),
            bucketed AS (
                SELECT e.vec_id,
                       CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.plane) >= 0
                                     THEN 1 << p.i ELSE 0 END) AS BIGINT) AS bucket
                FROM embeddings e CROSS JOIN planes p
                GROUP BY e.vec_id
            )
            SELECT bucket, count(*) AS n_vecs, min(vec_id) AS min_vec_id
            FROM bucketed GROUP BY bucket
        """,
        "ivf_assign_counts": """
            WITH cent AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
                          FROM embeddings WHERE vec_id < 16),
            assigned AS (
                SELECT vec_id, centroid_id FROM (
                    SELECT e.vec_id, c.centroid_id,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY round(list_dot_product(e.embedding::DOUBLE[], c.cvec), 4) DESC,
                                        c.centroid_id) AS rn
                    FROM embeddings e CROSS JOIN cent c
                ) WHERE rn = 1
            )
            SELECT centroid_id, count(*) AS n_vecs, min(vec_id) AS min_vec_id
            FROM assigned GROUP BY centroid_id
        """,
        "ivf_topk": """
            WITH cent AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
                          FROM embeddings WHERE vec_id < 16),
            assigned AS (
                SELECT vec_id, embedding, centroid_id FROM (
                    SELECT e.vec_id, e.embedding::DOUBLE[] AS embedding, c.centroid_id,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY round(list_dot_product(e.embedding::DOUBLE[], c.cvec), 4) DESC,
                                        c.centroid_id) AS rn
                    FROM embeddings e CROSS JOIN cent c
                ) WHERE rn = 1
            ),
            probes AS (
                SELECT query_id, qvec, centroid_id FROM (
                    SELECT q.vec_id AS query_id, q.embedding::DOUBLE[] AS qvec, c.centroid_id,
                           row_number() OVER (
                               PARTITION BY q.vec_id
                               ORDER BY round(list_dot_product(q.embedding::DOUBLE[], c.cvec), 4) DESC,
                                        c.centroid_id) AS rn
                    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 5
                ) WHERE rn <= 4
            ),
            scored AS (
                SELECT p.query_id, a.vec_id AS neighbor_id,
                       round(CASE WHEN sqrt(list_dot_product(p.qvec, p.qvec)) * sqrt(list_dot_product(a.embedding, a.embedding)) = 0 THEN 0.0 ELSE list_dot_product(p.qvec, a.embedding) / (sqrt(list_dot_product(p.qvec, p.qvec)) * sqrt(list_dot_product(a.embedding, a.embedding))) END, 4) AS score
                FROM assigned a JOIN probes p USING (centroid_id)
                WHERE a.vec_id != p.query_id
            )
            SELECT query_id, rank, neighbor_id, score FROM (
                SELECT query_id, neighbor_id, score,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, neighbor_id ASC) AS rank
                FROM scored
            ) WHERE rank <= 10
        """,
        "ivf_refined_counts": """
            WITH cent AS (SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
                          FROM embeddings WHERE vec_id < 16),
            a0 AS (
                SELECT vec_id, embedding, centroid_id FROM (
                    SELECT e.vec_id, e.embedding::DOUBLE[] AS embedding, c.centroid_id,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY round(list_dot_product(e.embedding::DOUBLE[], c.cvec), 4) DESC,
                                        c.centroid_id) AS rn
                    FROM embeddings e CROSS JOIN cent c
                ) WHERE rn = 1
            ),
            means AS (
                SELECT centroid_id, generate_subscripts(embedding, 1) AS pos,
                       unnest(embedding) AS v
                FROM a0
            ),
            m AS (
                SELECT centroid_id, pos, round(avg(v), 4) AS mv
                FROM means GROUP BY centroid_id, pos
            ),
            refined AS (
                SELECT centroid_id, list(mv ORDER BY pos) AS cvec
                FROM m GROUP BY centroid_id
            ),
            a1 AS (
                SELECT vec_id, centroid_id FROM (
                    SELECT e.vec_id, r.centroid_id,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY round(list_dot_product(e.embedding::DOUBLE[], r.cvec), 4) DESC,
                                        r.centroid_id) AS rn
                    FROM embeddings e CROSS JOIN refined r
                ) WHERE rn = 1
            ),
            n0 AS (SELECT centroid_id, count(*) AS n_initial FROM a0 GROUP BY centroid_id),
            n1 AS (SELECT centroid_id, count(*) AS n_refined FROM a1 GROUP BY centroid_id)
            SELECT COALESCE(n0.centroid_id, n1.centroid_id) AS centroid_id,
                   COALESCE(n0.n_initial, 0) AS n_initial,
                   COALESCE(n1.n_refined, 0) AS n_refined
            FROM n0 FULL OUTER JOIN n1 ON n0.centroid_id = n1.centroid_id
        """,
        "ann_multiprobe_topk": f"""
            WITH planes AS (SELECT * FROM (VALUES {_planes_sql()}) AS p(i, plane)),
            bucketed AS (
                SELECT e.vec_id, e.embedding::DOUBLE[] AS embedding,
                       CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.plane) >= 0
                                     THEN 1 << p.i ELSE 0 END) AS INT) AS bucket
                FROM embeddings e CROSS JOIN planes p
                GROUP BY e.vec_id, e.embedding::DOUBLE[]
            ),
            qprobe AS (
                SELECT b.vec_id AS query_id, b.embedding AS qvec,
                       xor(b.bucket, unnest([0, 1, 2, 4, 8, 3, 5, 9, 6, 10, 12])) AS bucket
                FROM bucketed b WHERE b.vec_id < 5
            ),
            scored AS (
                SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
                       round(CASE WHEN sqrt(list_dot_product(q.qvec, q.qvec)) * sqrt(list_dot_product(c.embedding, c.embedding)) = 0 THEN 0.0 ELSE list_dot_product(q.qvec, c.embedding) / (sqrt(list_dot_product(q.qvec, q.qvec)) * sqrt(list_dot_product(c.embedding, c.embedding))) END, 4) AS score
                FROM bucketed c JOIN qprobe q USING (bucket)
                WHERE c.vec_id != q.query_id
            )
            SELECT query_id, rank, neighbor_id, score FROM (
                SELECT query_id, neighbor_id, score,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, neighbor_id ASC) AS rank
                FROM scored
            ) WHERE rank <= 10
        """,
        "embedding_near_dupes": f"""
            WITH planes AS (SELECT * FROM (VALUES {_planes_sql()}) AS p(i, plane)),
            bucketed AS (
                SELECT e.vec_id, e.embedding::DOUBLE[] AS embedding,
                       CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.plane) >= 0
                                     THEN 1 << p.i ELSE 0 END) AS INT) AS bucket
                FROM embeddings e CROSS JOIN planes p
                GROUP BY e.vec_id, e.embedding::DOUBLE[]
            )
            SELECT id_a, id_b, cos FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       round(CASE WHEN sqrt(list_dot_product(a.embedding, a.embedding)) *
                                       sqrt(list_dot_product(b.embedding, b.embedding)) = 0
                                  THEN 0.0
                                  ELSE list_dot_product(a.embedding, b.embedding) /
                                       (sqrt(list_dot_product(a.embedding, a.embedding)) *
                                        sqrt(list_dot_product(b.embedding, b.embedding)))
                             END, 4) AS cos
                FROM bucketed a JOIN bucketed b USING (bucket)
                WHERE a.vec_id < b.vec_id
            ) WHERE cos >= 0.3
        """,
        "token_counts": f"""
            SELECT doc_id,
                   {wc} AS n_words,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
            FROM documents
        """,
        "quality_scores": f"""
            SELECT doc_id,
                   length(text) AS n_chars_actual,
                   {wc} AS n_words,
                   round({punct}, 4) AS punct_ratio,
                   round({stop_ratio}, 4) AS stopword_ratio,
                   round((
                       (CASE WHEN {wc} >= 20 THEN 1.0 ELSE {wc} / 20.0 END) +
                       (CASE WHEN {punct} <= 0.2 THEN 1.0
                             ELSE greatest(0.0, 1.0 - ({punct} - 0.2) * 5) END) +
                       (CASE WHEN {stop_ratio} >= 0.05 THEN 1.0
                             ELSE {stop_ratio} / 0.05 END)
                   ) / 3.0, 4) AS quality
            FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM documents)
        """,
        "lang_id": f"""
            SELECT doc_id, lang AS labeled,
                   CASE
                     WHEN h_en > 0 AND h_en = best THEN 'en'
                     WHEN h_de > 0 AND h_de = best THEN 'de'
                     WHEN h_fr > 0 AND h_fr = best THEN 'fr'
                     WHEN h_es > 0 AND h_es = best THEN 'es'
                     ELSE 'und'
                   END AS guessed
            FROM (
                SELECT doc_id, lang,
                       {hits(en)} AS h_en, {hits(de)} AS h_de,
                       {hits(fr)} AS h_fr, {hits(es)} AS h_es,
                       greatest({hits(en)}, {hits(de)}, {hits(fr)}, {hits(es)}) AS best
                FROM (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents)
            )
        """,
        "fingerprints": """
            SELECT doc_id,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
            FROM documents
        """,
        "winnow_fingerprints": """
            WITH norm AS (
                SELECT doc_id,
                       lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS s
                FROM documents WHERE doc_id < 100
            ), hashed AS (
                SELECT doc_id,
                       list_transform(
                           generate_series(1, greatest(0, length(s) - 7)),
                           i -> md5(substr(s, i, 8))) AS gh
                FROM norm
            ), winnowed AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(1, greatest(0, len(gh) - 5)),
                           i -> list_min(gh[i:i+5]))) AS fps
                FROM hashed
                WHERE len(gh) >= 6
            )
            SELECT doc_id, unnest(fps) AS fp FROM winnowed
        """,
        "host_skew_counts": """
            SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY source
        """,
        "skew_join_salted": """
            WITH pages AS (
                SELECT doc_id, n_chars,
                       CASE WHEN doc_id % 2 = 0 THEN 'heavy.example.com'
                            ELSE 'h' || (doc_id % 97) || '.example.com'
                       END AS host
                FROM documents
            ), dim AS (
                SELECT 'heavy.example.com' AS host,
                       length('heavy.example.com') AS prio
                UNION ALL
                SELECT 'h' || i || '.example.com',
                       length('h' || i || '.example.com')
                FROM generate_series(0, 96) t(i)
            )
            SELECT doc_id % 10 AS bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars + prio) AS BIGINT) AS total_weight
            FROM pages JOIN dim USING (host)
            GROUP BY 1
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
                   count(*) AS count_order,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_e4
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "shipping_priority": """
            SELECT l_orderkey, revenue_e4, orderdate_us, o_orderpriority FROM (
                SELECT l.l_orderkey,
                       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4,
                       epoch_us(o.o_orderdate) AS orderdate_us,
                       o.o_orderpriority
                FROM customer c
                JOIN orders o ON o.o_custkey = c.c_custkey
                JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                WHERE c.c_mktsegment = 'BUILDING'
                  AND o.o_orderdate < TIMESTAMP '1998-01-01'
                  AND l.l_shipdate > TIMESTAMP '1998-01-01'
                GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
            )
            ORDER BY revenue_e4 DESC, l_orderkey ASC
            LIMIT 10
        """,
        "local_supplier_volume": """
            SELECT n.n_name,
                   CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4,
                   count(*) AS n_lineitems
            FROM region r
            JOIN nation n ON n.n_regionkey = r.r_regionkey
            JOIN customer c ON c.c_nationkey = n.n_nationkey
            JOIN orders o ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
                           AND s.s_nationkey = c.c_nationkey
            WHERE r.r_name = 'ASIA'
            GROUP BY n.n_name
        """,
        "cube_metrics": """
            SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY CUBE(lang, source)
        """,
        "percentile_chars": """
            SELECT lang,
                   round(quantile_cont(n_chars, 0.25), 4) AS p25,
                   round(quantile_cont(n_chars, 0.5), 4) AS p50,
                   round(quantile_cont(n_chars, 0.75), 4) AS p75,
                   max(n_chars) AS p100
            FROM documents GROUP BY lang
        """,
        "window_tumbling_events": """
            SELECT epoch_us(date_trunc('day', ts)) AS day_us, event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events GROUP BY 1, 2
        """,
        "asof_join": """
            SELECT p.event_id, c.event_id AS click_id, epoch_us(c.ts) AS click_ts
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "range_join": """
            SELECT o.o_orderpriority,
                   count(*) AS n_shipped_30d,
                   CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents_30d
            FROM lineitem l
            JOIN orders o
              ON l.l_orderkey = o.o_orderkey
             AND l.l_shipdate >= o.o_orderdate
             AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
            GROUP BY o.o_orderpriority
        """,
        "session_windows": """
            WITH flagged AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 43200000000
                            THEN 1 ELSE 0 END AS brk
                FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), sess AS (
                SELECT user_id, ts, value,
                       sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
                FROM flagged
            )
            SELECT user_id, epoch_us(min(ts)) AS session_start_us,
                   count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM sess GROUP BY user_id, sid
        """,
        "near_dedup_survivors": f"""
            WITH hashed AS (
                SELECT doc_id,
                       list_transform(wsh, x -> md5('0|' || x)) AS h0,
                       list_transform(wsh, x -> md5('1|' || x)) AS h1
                FROM (SELECT doc_id, {shingle5} AS wsh FROM documents)
            ), sigs AS (
                SELECT doc_id, [{window_mins}] AS sig FROM hashed
            ), banded AS (
                SELECT doc_id, unnest([{band_keys}]) AS band_key FROM sigs
            ), losers AS (
                SELECT DISTINCT b.doc_id AS doc_id
                FROM banded a JOIN banded b USING (band_key)
                WHERE a.doc_id < b.doc_id
            )
            SELECT lang, count(*) AS n_survivors
            FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM losers)
            GROUP BY lang
        """,
        "incremental_dedup": f"""
            WITH hashed AS (
                SELECT doc_id,
                       list_transform(wsh, x -> md5('0|' || x)) AS h0,
                       list_transform(wsh, x -> md5('1|' || x)) AS h1
                FROM (SELECT doc_id, {shingle5} AS wsh FROM documents)
            ), sigs AS (
                SELECT doc_id, [{window_mins}] AS sig FROM hashed
            ), banded AS (
                SELECT doc_id, unnest([{band_keys}]) AS band_key FROM sigs
            ), coll AS (
                SELECT DISTINCT b.doc_id
                FROM banded a JOIN banded b USING (band_key)
                WHERE a.doc_id < b.doc_id
            ), dup AS (
                SELECT DISTINCT b.doc_id
                FROM documents a JOIN documents b
                  ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
            )
            SELECT doc_id, lang FROM documents
            WHERE doc_id >= 400
              AND doc_id NOT IN (SELECT doc_id FROM coll)
              AND doc_id NOT IN (SELECT doc_id FROM dup)
        """,
        "dedup_components": f"""
            WITH RECURSIVE hashed AS (
                SELECT doc_id,
                       list_transform(wsh, x -> md5('0|' || x)) AS h0,
                       list_transform(wsh, x -> md5('1|' || x)) AS h1
                FROM (SELECT doc_id, {shingle5} AS wsh FROM documents)
            ), sigs AS (
                SELECT doc_id, [{window_mins}] AS sig FROM hashed
            ), banded AS (
                SELECT doc_id, unnest([{band_keys}]) AS band_key FROM sigs
            ), pairs AS (
                SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
                FROM banded a JOIN banded b USING (band_key)
                WHERE a.doc_id < b.doc_id
            ), edges AS (
                SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
            ), reach AS (
                SELECT u, v FROM edges
                UNION
                SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
            )
            SELECT u AS doc_id, least(u, min(v)) AS component
            FROM reach GROUP BY u
        """,
        "soft_dedup_weights": f"""
            WITH RECURSIVE hashed AS (
                SELECT doc_id,
                       list_transform(wsh, x -> md5('0|' || x)) AS h0,
                       list_transform(wsh, x -> md5('1|' || x)) AS h1
                FROM (SELECT doc_id, {shingle5} AS wsh FROM documents)
            ), sigs AS (
                SELECT doc_id, [{window_mins}] AS sig FROM hashed
            ), banded AS (
                SELECT doc_id, unnest([{band_keys}]) AS band_key FROM sigs
            ), pairs AS (
                SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
                FROM banded a JOIN banded b USING (band_key)
                WHERE a.doc_id < b.doc_id
            ), edges AS (
                SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
            ), reach AS (
                SELECT u, v FROM edges
                UNION
                SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
            ), comp AS (
                SELECT u AS doc_id, least(u, min(v)) AS component
                FROM reach GROUP BY u
            ), allc AS (
                SELECT d.doc_id,
                       coalesce(c.component, d.doc_id) AS component
                FROM documents d LEFT JOIN comp c USING (doc_id)
            ), sz AS (
                SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
                FROM allc GROUP BY 1
            )
            SELECT a.doc_id, a.component, s.cluster_size,
                   CAST(1000000 // s.cluster_size AS BIGINT) AS weight_ppm
            FROM allc a JOIN sz s USING (component)
        """,
        "dedup_representatives": f"""
            WITH RECURSIVE hashed AS (
                SELECT doc_id,
                       list_transform(wsh, x -> md5('0|' || x)) AS h0,
                       list_transform(wsh, x -> md5('1|' || x)) AS h1
                FROM (SELECT doc_id, {shingle5} AS wsh FROM documents)
            ), sigs AS (
                SELECT doc_id, [{window_mins}] AS sig FROM hashed
            ), banded AS (
                SELECT doc_id, unnest([{band_keys}]) AS band_key FROM sigs
            ), pairs AS (
                SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
                FROM banded a JOIN banded b USING (band_key)
                WHERE a.doc_id < b.doc_id
            ), edges AS (
                SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
            ), reach AS (
                SELECT u, v FROM edges
                UNION
                SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
            ), comp AS (
                SELECT u AS doc_id, least(u, min(v)) AS component
                FROM reach GROUP BY u
            )
            SELECT component, doc_id FROM (
                SELECT c.component, c.doc_id,
                       row_number() OVER (
                           PARTITION BY c.component
                           ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
                FROM comp c JOIN documents d USING (doc_id)
            ) WHERE rn = 1
        """,
        "paragraph_dedup": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ), para AS (
                SELECT doc_id, t.k AS pidx,
                       array_to_string(
                           words[1 + t.k * 3 : t.k * 3 + 3], ' ') AS para
                FROM w, unnest(generate_series(0, (len(words) - 1) // 3))
                     AS t(k)
            ), flagged AS (
                SELECT doc_id, pidx, para,
                       (length(para) < 1) OR row_number() OVER (
                           PARTITION BY md5(para)
                           ORDER BY doc_id, pidx) = 1 AS kept
                FROM para
            )
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN kept THEN para END,
                                       chr(10) || chr(10) ORDER BY pidx),
                            '') AS dedup_text,
                   CAST(count(CASE WHEN kept THEN 1 END) AS BIGINT)
                       AS n_paras_kept,
                   CAST(count(*) - count(CASE WHEN kept THEN 1 END) AS BIGINT)
                       AS n_paras_dropped
            FROM flagged
            GROUP BY doc_id
        """,
        "host_lang_mixture": """
            WITH h AS (
                SELECT CASE WHEN doc_id % 2 = 0 THEN 'pure-' || lang
                            ELSE 'mixed-' || CAST(doc_id % 7 AS VARCHAR)
                       END AS host,
                       lang
                FROM documents
            ), pl AS (
                SELECT host, lang, CAST(count(*) AS BIGINT) AS c
                FROM h GROUP BY 1, 2
            )
            SELECT host,
                   CAST(sum(c) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_langs,
                   CAST(floor(1000000.0
                              * (sum(c) * sum(c) - sum(c * c))
                              / (sum(c) * sum(c))) AS BIGINT)
                       AS lang_gini_ppm
            FROM pl GROUP BY 1
        """,
        "pii_by_domain": """
            WITH s AS (
                SELECT CASE doc_id % 5
                            WHEN 0 THEN source || '.co.uk'
                            WHEN 1 THEN source || '.com'
                            WHEN 2 THEN source || '.org'
                            WHEN 3 THEN source || '.github.io'
                            ELSE NULL END AS pld,
                       text
                       || CASE WHEN doc_id % 3 = 0
                               THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                    || '@example.com'
                               ELSE '' END
                       || CASE WHEN doc_id % 4 = 0
                               THEN ' ref '
                                    || CAST(doc_id % 10000 + 1000000 AS VARCHAR)
                               ELSE '' END AS t
                FROM documents
            ), c AS (
                SELECT pld, length(t) AS n,
                       len(regexp_extract_all(t,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                           AS e,
                       len(regexp_extract_all(t, '[0-9]{7,}')) AS d
                FROM s
            )
            SELECT pld,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(e) AS BIGINT) AS n_emails,
                   CAST(sum(d) AS BIGINT) AS n_numbers,
                   CAST(floor(1000000.0 * (sum(e) + sum(d)) / sum(n))
                        AS BIGINT) AS pii_density_ppm
            FROM c GROUP BY 1
        """,
        "tokenizer_fertility": f"""
            WITH toks AS (
                SELECT lang, unnest(string_split(lower(text), ' ')) AS word
                FROM documents
            ), dim AS (
                SELECT word, s FROM (
                    SELECT word, {_bpe_encode_sql_expr()} AS s
                    FROM (SELECT DISTINCT word FROM toks)
                )
            ), np AS (
                SELECT word,
                       (length(s) - length(replace(s, '~', ''))) // 2 - 1
                           AS n_pieces
                FROM dim
            )
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(n_pieces) AS BIGINT) AS n_pieces_total,
                   CAST(floor(1000000.0 * sum(n_pieces) / count(*))
                        AS BIGINT) AS fertility_ppm
            FROM toks JOIN np USING (word)
            GROUP BY 1
        """,
        "bpe_encode": f"""
            WITH w AS (
                SELECT CASE doc_id % 6
                            WHEN 0 THEN 'lowest'
                            WHEN 1 THEN 'newest'
                            WHEN 2 THEN 'widest'
                            WHEN 3 THEN 'lower'
                            WHEN 4 THEN 'low'
                            ELSE 'wilder' END AS word
                FROM documents
            ), c AS (
                SELECT word, CAST(count(*) AS BIGINT) AS n_docs
                FROM w GROUP BY 1
            ), e AS (
                SELECT word, {_bpe_encode_sql_expr()} AS s
                FROM (SELECT DISTINCT word FROM w)
            )
            SELECT e.word,
                   replace(trim(s, '~'), '~~', '|') AS token_str,
                   CAST((length(s) - length(replace(s, '~', ''))) // 2 - 1
                        AS BIGINT) AS n_pieces,
                   c.n_docs
            FROM e JOIN c USING (word)
        """,
        "label_propagation": """
            WITH n AS (SELECT count(*) AS nn FROM documents),
            links AS (
                SELECT d.doc_id % 23 AS src_h,
                       CASE WHEN j.j = 0 THEN d.doc_id % 23
                            ELSE ((d.doc_id * 7 + j.j * 13 + 1) % n.nn) % 23
                       END AS dst_h
                FROM documents d CROSS JOIN n
                CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) j
                WHERE j.j < d.doc_id % 4
            ), e AS (
                SELECT src_h, dst_h, CAST(count(*) AS BIGINT) AS w
                FROM links WHERE src_h <> dst_h GROUP BY 1, 2
            ), seeds AS (
                SELECT h, 'cat' || (h % 3) AS label
                FROM (SELECT unnest(range(23)) AS h) WHERE h % 4 = 1
            ), s1 AS (
                SELECT e.dst_h AS h, l.label, sum(e.w) AS mass
                FROM e JOIN seeds l ON e.src_h = l.h GROUP BY 1, 2
            ), p1 AS (
                SELECT h, label FROM (
                    SELECT h, label,
                           row_number() OVER (PARTITION BY h
                                              ORDER BY mass DESC, label ASC)
                               AS rn
                    FROM s1) WHERE rn = 1
            ), l1 AS (
                SELECT h, label FROM seeds
                UNION ALL
                SELECT h, label FROM p1
                WHERE h NOT IN (SELECT h FROM seeds)
            ), s2 AS (
                SELECT e.dst_h AS h, l.label, sum(e.w) AS mass
                FROM e JOIN l1 l ON e.src_h = l.h GROUP BY 1, 2
            ), p2 AS (
                SELECT h, label FROM (
                    SELECT h, label,
                           row_number() OVER (PARTITION BY h
                                              ORDER BY mass DESC, label ASC)
                               AS rn
                    FROM s2) WHERE rn = 1
            ), l2 AS (
                SELECT h, label FROM seeds
                UNION ALL
                SELECT h, label FROM p2
                WHERE h NOT IN (SELECT h FROM seeds)
            )
            SELECT 'h' || h || '.example.com' AS host, label,
                   CAST(CASE WHEN h IN (SELECT h FROM seeds)
                        THEN 1 ELSE 0 END AS INT) AS is_seed
            FROM l2
        """,
        "ppjoin_pairs": """
            WITH base AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
            ), corpus AS (
                SELECT doc_id, text FROM base
                UNION ALL
                SELECT doc_id + 10000000,
                       array_to_string(
                           w[1:greatest(1, CAST(floor(
                               len(w) * ((doc_id % 10) + 1) / 10.0
                           ) AS INT))], ' ')
                FROM (SELECT doc_id,
                             list_filter(regexp_split_to_array(text, '\\s+'),
                                         x -> x <> '') AS w
                      FROM base)
            ), sets AS (
                SELECT doc_id AS key,
                       list_distinct(list_filter(
                           regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '')) AS toks
                FROM corpus
            )
            SELECT a.key AS key_a, b.key AS key_b,
                   CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT)
                       AS n_inter,
                   CAST(len(a.toks) + len(b.toks)
                        - len(list_intersect(a.toks, b.toks)) AS BIGINT)
                       AS n_union,
                   CAST(floor(1000000.0 * len(list_intersect(a.toks, b.toks))
                        / (len(a.toks) + len(b.toks)
                           - len(list_intersect(a.toks, b.toks))))
                        AS BIGINT) AS jaccard_ppm
            FROM sets a JOIN sets b ON a.key < b.key
            WHERE len(a.toks) > 0 AND len(b.toks) > 0
              AND 1000000 * len(list_intersect(a.toks, b.toks))
                  >= 600000 * (len(a.toks) + len(b.toks)
                               - len(list_intersect(a.toks, b.toks)))
        """,
        "html_table_cells": """
            WITH d AS (
                SELECT doc_id AS did, source AS src,
                       2 + doc_id % 3 AS r_max,
                       2 + doc_id % 2 AS c,
                       (doc_id % 5 = 0) AS s,
                       (doc_id % 7 = 0) AS v,
                       (doc_id % 11 = 0) AS nst
                FROM documents
            ), outer_cells AS (
                SELECT did, src, r.r, j.j, c,
                       CASE WHEN r.r = 1 AND s AND j.j > 0 THEN j.j + 1
                            ELSE j.j END AS col,
                       CASE WHEN r.r = 1 AND s AND j.j = 0 THEN 2
                            ELSE 1 END AS cs,
                       CASE WHEN r.r = 1 AND v AND j.j = c - 1 THEN 2
                            ELSE 1 END AS rs
                FROM d
                CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS r) r
                CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) j
                WHERE r.r <= r_max
                  AND (CASE WHEN r.r = 2 AND v THEN j.j < c - 1
                       ELSE j.j < c END)
            )
            SELECT 'http://t' || (did % 17) || '.example.com/t/' || did AS url,
                   CAST(0 AS INT) AS table_idx,
                   CAST(r AS INT) AS row_idx,
                   CAST(col AS INT) AS col_idx,
                   CAST(rs AS INT) AS rowspan,
                   CAST(cs AS INT) AS colspan,
                   CAST(CASE WHEN r = 0 THEN 1 ELSE 0 END AS INT)
                       AS header_flag,
                   CASE WHEN r = 0 THEN 'Hdr ' || j || ' d' || did
                        ELSE 'r' || r || 'c' || j || ' d' || did
                             || ' & ' || src END AS cell_text
            FROM outer_cells
            UNION ALL
            SELECT 'http://t' || (did % 17) || '.example.com/t/' || did,
                   CAST(1 AS INT), CAST(0 AS INT), CAST(0 AS INT),
                   CAST(1 AS INT), CAST(1 AS INT), CAST(0 AS INT),
                   'inner d' || did
            FROM d WHERE nst
        """,
        "table_shapes": """
            WITH d AS (
                SELECT doc_id AS did,
                       2 + doc_id % 3 AS r_max,
                       2 + doc_id % 2 AS c,
                       (doc_id % 5 = 0) AS s,
                       (doc_id % 7 = 0) AS v,
                       (doc_id % 11 = 0) AS nst
                FROM documents
            ), cells AS (
                SELECT did, 0 AS tbl, r.r AS row_idx,
                       CASE WHEN r.r = 1 AND s AND j.j > 0 THEN j.j + 1
                            ELSE j.j END
                       + CASE WHEN r.r = 1 AND s AND j.j = 0 THEN 2
                              ELSE 1 END AS reach,
                       CASE WHEN r.r = 0 THEN 1 ELSE 0 END AS hdr
                FROM d
                CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS r) r
                CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) j
                WHERE r.r <= r_max
                  AND (CASE WHEN r.r = 2 AND v THEN j.j < c - 1
                       ELSE j.j < c END)
                UNION ALL
                SELECT did, 1, 0, 1, 0 FROM d WHERE nst
            )
            SELECT 'http://t' || (did % 17) || '.example.com/t/' || did AS url,
                   CAST(tbl AS INT) AS table_idx,
                   CAST(max(row_idx) + 1 AS INT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_cells,
                   CAST(sum(hdr) AS BIGINT) AS n_header_cells,
                   CAST(max(reach) AS INT) AS n_col_slots
            FROM cells GROUP BY did, tbl
        """,
        "bot_regularity": """
            WITH g AS (
                SELECT user_id AS actor,
                       (epoch_us(ts)
                        - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                  ORDER BY epoch_us(ts),
                                                           event_id))
                       // 60000000 AS gap
                FROM events
            ), a AS (
                SELECT actor,
                       CAST(count(*) AS BIGINT) AS n_gaps,
                       CAST(sum(gap) AS BIGINT) AS s,
                       CAST(sum(gap * gap) AS BIGINT) AS sq
                FROM g WHERE gap IS NOT NULL GROUP BY 1
            )
            SELECT actor, n_gaps,
                   CAST(s // n_gaps AS BIGINT) AS mean_gap_units,
                   CAST((1000000 * (n_gaps * sq - s * s)) // (s * s)
                        AS BIGINT) AS cv2_ppm
            FROM a WHERE n_gaps >= 4 AND s > 0
        """,
        "matryoshka_recall": """
            WITH ranked AS (
                SELECT dim, query_id, neighbor_id FROM (
                    SELECT dim, query_id, neighbor_id,
                           row_number() OVER (PARTITION BY dim, query_id
                                              ORDER BY cos DESC,
                                                       neighbor_id ASC) AS rank
                    FROM (
                        SELECT d.dim, q.vec_id AS query_id,
                               e.vec_id AS neighbor_id,
                               round(CASE WHEN
                                   sqrt(list_dot_product(
                                       (q.embedding::DOUBLE[])[1:d.dim],
                                       (q.embedding::DOUBLE[])[1:d.dim]))
                                 * sqrt(list_dot_product(
                                       (e.embedding::DOUBLE[])[1:d.dim],
                                       (e.embedding::DOUBLE[])[1:d.dim])) = 0
                                 THEN 0.0
                                 ELSE list_dot_product(
                                       (q.embedding::DOUBLE[])[1:d.dim],
                                       (e.embedding::DOUBLE[])[1:d.dim])
                                   / (sqrt(list_dot_product(
                                        (q.embedding::DOUBLE[])[1:d.dim],
                                        (q.embedding::DOUBLE[])[1:d.dim]))
                                    * sqrt(list_dot_product(
                                        (e.embedding::DOUBLE[])[1:d.dim],
                                        (e.embedding::DOUBLE[])[1:d.dim])))
                               END, 4) AS cos
                        FROM embeddings e
                        CROSS JOIN (SELECT * FROM embeddings
                                    WHERE vec_id < 8) q
                        CROSS JOIN (SELECT unnest([16, 32, 64]) AS dim) d
                        WHERE e.vec_id != q.vec_id
                    )
                ) WHERE rank <= 10
            ), fullk AS (
                SELECT query_id, neighbor_id FROM ranked WHERE dim = 64
            )
            SELECT f.query_id, CAST(t.dim AS INT) AS trunc_dim,
                   CAST(count(*) AS BIGINT) AS n_overlap,
                   CAST(floor(1000000.0 * count(*) / 10) AS BIGINT)
                       AS recall_ppm
            FROM fullk f
            JOIN ranked t ON t.dim != 64 AND t.query_id = f.query_id
                         AND t.neighbor_id = f.neighbor_id
            GROUP BY 1, 2
        """,
        "scd2_history": """
            WITH snaps AS (
                SELECT DISTINCT
                       'h' || CAST(doc_id % 10 AS VARCHAR) AS host,
                       CASE WHEN doc_id % 10 % 2 = 0
                            THEN 'pol' || CAST((doc_id % 10 + d.d) % 4
                                               AS VARCHAR)
                            ELSE 'pol' || CAST(doc_id % 10 % 4 AS VARCHAR)
                       END AS policy,
                       CAST(d.d AS BIGINT) AS as_of
                FROM documents, (VALUES (1), (2), (3)) d(d)
            ), flagged AS (
                SELECT host, policy, as_of,
                       CASE WHEN lag(policy) OVER w IS DISTINCT FROM policy
                            THEN 1 ELSE 0 END AS chg
                FROM snaps
                WINDOW w AS (PARTITION BY host ORDER BY as_of)
            ), grp AS (
                SELECT host, policy, as_of,
                       sum(chg) OVER (PARTITION BY host ORDER BY as_of
                                      ROWS UNBOUNDED PRECEDING) AS g
                FROM flagged
            ), isl AS (
                SELECT host, policy, g,
                       min(as_of) AS valid_from, max(as_of) AS mx
                FROM grp GROUP BY 1, 2, 3
            ), mxg AS (
                SELECT host, max(g) AS maxg FROM isl GROUP BY 1
            )
            SELECT i.host, i.policy,
                   CAST(i.valid_from AS BIGINT) AS valid_from,
                   CASE WHEN i.g = m.maxg THEN NULL
                        ELSE CAST(i.mx + 1 AS BIGINT) END AS valid_to
            FROM isl i JOIN mxg m USING (host)
        """,
        "sitemap_coverage": """
            WITH d AS (
                SELECT DISTINCT
                       'http://h' || CAST(doc_id % 6 AS VARCHAR)
                       || '.example.com/p/' || CAST(doc_id % 20 AS VARCHAR)
                           AS u
                FROM documents
            ), c AS (
                SELECT DISTINCT
                       'http://h' || CAST(doc_id % 6 AS VARCHAR)
                       || '.example.com/p/'
                       || CAST(doc_id % 20 + 5 AS VARCHAR) AS u
                FROM documents
            ), j AS (
                SELECT coalesce(d.u, c.u) AS u,
                       d.u IS NOT NULL AS ind,
                       c.u IS NOT NULL AS inc
                FROM d FULL OUTER JOIN c ON d.u = c.u
            ), per AS (
                SELECT 'h' || regexp_extract(u,
                           'http://h([0-9]+)\\.example\\.com', 1)
                       || '.example.com' AS host,
                       CAST(sum(CASE WHEN ind THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_sitemap,
                       CAST(sum(CASE WHEN inc THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_crawled,
                       CAST(sum(CASE WHEN ind AND inc THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_both
                FROM j GROUP BY 1
            )
            SELECT host, n_sitemap, n_crawled, n_both,
                   CASE WHEN n_sitemap > 0
                        THEN CAST(floor(1000000.0 * n_both / n_sitemap)
                                  AS BIGINT) END AS coverage_ppm,
                   CASE WHEN n_crawled > 0
                        THEN CAST(floor(1000000.0 * (n_crawled - n_both)
                                        / n_crawled) AS BIGINT)
                        END AS undeclared_ppm
            FROM per
        """,
        "link_churn": """
            WITH stable AS (
                SELECT DISTINCT 'h' || CAST(doc_id % 8 AS VARCHAR) AS s,
                       'kept' || CAST(doc_id % 5 AS VARCHAR) AS d
                FROM documents
            ), p AS (
                SELECT * FROM stable
                UNION
                SELECT DISTINCT 'h' || CAST(doc_id % 8 AS VARCHAR),
                       'old' || CAST(doc_id % 4 AS VARCHAR)
                FROM documents
            ), c AS (
                SELECT * FROM stable
                UNION
                SELECT DISTINCT 'h' || CAST(doc_id % 8 AS VARCHAR),
                       'new' || CAST(doc_id % 4 AS VARCHAR)
                FROM documents
            ), a AS (
                SELECT s, CAST(count(*) AS BIGINT) AS n FROM
                    (SELECT * FROM c EXCEPT SELECT * FROM p) GROUP BY 1
            ), r AS (
                SELECT s, CAST(count(*) AS BIGINT) AS n FROM
                    (SELECT * FROM p EXCEPT SELECT * FROM c) GROUP BY 1
            ), st AS (
                SELECT s, CAST(count(*) AS BIGINT) AS n FROM
                    (SELECT * FROM p INTERSECT SELECT * FROM c) GROUP BY 1
            ), hosts AS (
                SELECT DISTINCT s FROM
                    (SELECT s FROM p UNION ALL SELECT s FROM c)
            )
            SELECT h.s AS host,
                   coalesce(a.n, 0) AS n_added,
                   coalesce(r.n, 0) AS n_removed,
                   coalesce(st.n, 0) AS n_stable,
                   CAST(floor(1000000.0
                              * (coalesce(a.n, 0) + coalesce(r.n, 0))
                              / (coalesce(a.n, 0) + coalesce(r.n, 0)
                                 + coalesce(st.n, 0))) AS BIGINT)
                       AS churn_ppm
            FROM hosts h
            LEFT JOIN a ON a.s = h.s
            LEFT JOIN r ON r.s = h.s
            LEFT JOIN st ON st.s = h.s
        """,
        "hits_scores": """
            WITH raw AS (
                SELECT CASE WHEN doc_id % 10 < 5 OR doc_id % 10 >= 8
                            THEN 'hub' || CAST(doc_id % 2 AS VARCHAR)
                            ELSE 'n' || CAST(doc_id % 11 AS VARCHAR)
                       END AS s,
                       CASE WHEN doc_id % 10 < 5
                            THEN 'auth' || CAST(doc_id % 5 AS VARCHAR)
                            WHEN doc_id % 10 IN (5, 6, 7)
                            THEN 'n' || CAST(doc_id % 11 + 1 AS VARCHAR)
                            ELSE 'n' || CAST(doc_id % 11 AS VARCHAR)
                       END AS d
                FROM documents
            ), e AS (
                SELECT DISTINCT s, d FROM raw WHERE s <> d
            ), nodes AS (
                SELECT DISTINCT node FROM (
                    SELECT s AS node FROM e UNION ALL SELECT d FROM e)
            ), h0 AS (
                SELECT node, CAST(1000000 AS BIGINT) AS x FROM nodes
            ), a1r AS (
                SELECT n.node, coalesce(sum(h.x), 0) AS x
                FROM nodes n
                LEFT JOIN e ON e.d = n.node
                LEFT JOIN h0 h ON h.node = e.s
                GROUP BY 1
            ), a1 AS (
                SELECT node, CASE WHEN (SELECT max(x) FROM a1r) > 0
                    THEN (x * 1000000) // (SELECT max(x) FROM a1r)
                    ELSE 0 END AS x FROM a1r
            ), h1r AS (
                SELECT n.node, coalesce(sum(a.x), 0) AS x
                FROM nodes n
                LEFT JOIN e ON e.s = n.node
                LEFT JOIN a1 a ON a.node = e.d
                GROUP BY 1
            ), h1 AS (
                SELECT node, CASE WHEN (SELECT max(x) FROM h1r) > 0
                    THEN (x * 1000000) // (SELECT max(x) FROM h1r)
                    ELSE 0 END AS x FROM h1r
            ), a2r AS (
                SELECT n.node, coalesce(sum(h.x), 0) AS x
                FROM nodes n
                LEFT JOIN e ON e.d = n.node
                LEFT JOIN h1 h ON h.node = e.s
                GROUP BY 1
            ), a2 AS (
                SELECT node, CASE WHEN (SELECT max(x) FROM a2r) > 0
                    THEN (x * 1000000) // (SELECT max(x) FROM a2r)
                    ELSE 0 END AS x FROM a2r
            ), h2r AS (
                SELECT n.node, coalesce(sum(a.x), 0) AS x
                FROM nodes n
                LEFT JOIN e ON e.s = n.node
                LEFT JOIN a2 a ON a.node = e.d
                GROUP BY 1
            ), h2 AS (
                SELECT node, CASE WHEN (SELECT max(x) FROM h2r) > 0
                    THEN (x * 1000000) // (SELECT max(x) FROM h2r)
                    ELSE 0 END AS x FROM h2r
            )
            SELECT a2.node AS host,
                   CAST(a2.x AS BIGINT) AS authority_ppm,
                   CAST(h2.x AS BIGINT) AS hub_ppm
            FROM a2 JOIN h2 USING (node)
        """,
        "link_reciprocity": """
            WITH raw AS (
                SELECT CASE
                         WHEN doc_id % 10 < 4
                         THEN 'x' || CAST(doc_id % 4 AS VARCHAR)
                         WHEN doc_id % 10 IN (4, 5, 6)
                         THEN 'c' || CAST(doc_id % 6 AS VARCHAR)
                         WHEN doc_id % 10 IN (7, 8) THEN 'p0'
                         ELSE 'p1' END AS s,
                       CASE
                         WHEN doc_id % 10 < 4
                         THEN 'x' || CAST((doc_id % 4
                              + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END)
                              % 4 AS VARCHAR)
                         WHEN doc_id % 10 IN (4, 5, 6)
                         THEN 'c' || CAST(doc_id % 6 + 1 AS VARCHAR)
                         WHEN doc_id % 10 IN (7, 8)
                         THEN 'p' || CAST(doc_id % 2 + 1 AS VARCHAR)
                         ELSE 'p0' END AS d
                FROM documents
            ), e AS (
                SELECT DISTINCT s, d FROM raw WHERE s <> d
            ), o AS (
                SELECT s AS host, CAST(count(*) AS BIGINT) AS n_out
                FROM e GROUP BY 1
            ), r AS (
                SELECT a.s AS host, CAST(count(*) AS BIGINT) AS n_reciprocal
                FROM e a JOIN e b ON a.s = b.d AND a.d = b.s
                GROUP BY 1
            )
            SELECT o.host, o.n_out,
                   coalesce(r.n_reciprocal, 0) AS n_reciprocal,
                   CAST(floor(1000000.0 * coalesce(r.n_reciprocal, 0)
                              / o.n_out) AS BIGINT) AS reciprocity_ppm
            FROM o LEFT JOIN r USING (host)
        """,
        "first_seen_attribution": """
            WITH f AS (
                SELECT md5(array_to_string(
                           string_split(lower(text), ' ')[1:3], ' '))
                           AS digest,
                       'h' || CAST(doc_id % 13 AS VARCHAR) AS host,
                       CAST(1700000000 + (doc_id * 37) % 16 AS BIGINT) AS ts,
                       doc_id
                FROM documents
            ), ranked AS (
                SELECT digest, host, ts,
                       row_number() OVER (PARTITION BY digest
                                          ORDER BY ts, doc_id) AS rn
                FROM f
            ), firsts AS (
                SELECT digest, host AS first_host, ts AS first_ts
                FROM ranked WHERE rn = 1
            ), sizes AS (
                SELECT digest,
                       CAST(count(*) AS BIGINT) AS n_copies,
                       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
                       CAST(min(ts) AS BIGINT) AS mn
                FROM f GROUP BY 1
            )
            SELECT s.digest, fi.first_host, s.mn AS first_ts,
                   s.n_copies, s.n_hosts
            FROM sizes s JOIN firsts fi USING (digest)
            WHERE s.n_copies >= 2
        """,
        "cocitation_farms": """
            WITH e AS (
                SELECT DISTINCT
                       CASE WHEN doc_id % 10 < 5
                            THEN 's' || CAST(doc_id % 9 AS VARCHAR)
                            WHEN doc_id % 2 = 0
                            THEN 's' || CAST(doc_id % 17 % 9 AS VARCHAR)
                            ELSE 's' || CAST((doc_id % 17 + 3) % 9 AS VARCHAR)
                       END AS s,
                       CASE WHEN doc_id % 10 < 5
                            THEN 'farm' || CAST(doc_id % 5 AS VARCHAR)
                            ELSE 'n' || CAST(doc_id % 17 AS VARCHAR)
                       END AS d
                FROM documents
            ), indeg AS (
                SELECT d, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1
            ), fan AS (
                SELECT s FROM e GROUP BY s
                HAVING count(*) BETWEEN 2 AND 200
            ), co AS (
                SELECT a.d AS host_a, b.d AS host_b,
                       CAST(count(*) AS BIGINT) AS n_cociting
                FROM e a
                JOIN e b ON a.s = b.s AND a.d < b.d
                JOIN fan ON fan.s = a.s
                GROUP BY 1, 2
            )
            SELECT host_a, host_b, n_cociting,
                   ia.n AS n_in_a, ib.n AS n_in_b,
                   CAST(floor(1000000.0 * n_cociting
                              / (ia.n + ib.n - n_cociting)) AS BIGINT)
                       AS jaccard_ppm
            FROM co
            JOIN indeg ia ON ia.d = co.host_a
            JOIN indeg ib ON ib.d = co.host_b
            WHERE floor(1000000.0 * n_cociting
                        / (ia.n + ib.n - n_cociting)) >= 400000
        """,
        "kn_continuation": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split(lower(text), ' ')) AS w,
                       generate_subscripts(
                           string_split(lower(text), ' '), 1) AS pos
                FROM documents
            ), big AS (
                SELECT DISTINCT a.w AS l, b.w AS r
                FROM toks a
                JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            ), nn AS (
                SELECT CAST(count(*) AS BIGINT) AS n FROM big
            ), nl AS (
                SELECT r AS w, CAST(count(*) AS BIGINT) AS n_left
                FROM big GROUP BY 1
            ), nr AS (
                SELECT l AS w, CAST(count(*) AS BIGINT) AS n_right
                FROM big GROUP BY 1
            ), raw AS (
                SELECT w, CAST(count(*) AS BIGINT) AS n_tokens
                FROM toks GROUP BY 1
            )
            SELECT raw.w, raw.n_tokens,
                   coalesce(nl.n_left, 0) AS n_left,
                   coalesce(nr.n_right, 0) AS n_right,
                   CAST(floor(1000000.0 * coalesce(nl.n_left, 0) / nn.n)
                        AS BIGINT) AS pcont_ppm
            FROM raw
            LEFT JOIN nl ON nl.w = raw.w
            LEFT JOIN nr ON nr.w = raw.w
            CROSS JOIN nn
            WHERE raw.n_tokens >= 5
        """,
        "shard_manifest": """
            WITH d AS (
                SELECT CAST(doc_id % 8 AS INT) AS shard, doc_id,
                       length(coalesce(text, '')) AS len,
                       CAST('0x' || substr(
                           md5(CAST(doc_id AS VARCHAR) || ':'
                               || md5(coalesce(text, ''))),
                           1, 15) AS BIGINT) AS fp
                FROM documents
            )
            SELECT shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len) AS BIGINT) AS n_chars,
                   min(doc_id) AS min_key,
                   max(doc_id) AS max_key,
                   bit_xor(fp) AS content_fp
            FROM d GROUP BY 1
        """,
        "containment_pairs": """
            WITH d AS (
                SELECT doc_id,
                       (doc_id // 4) * 100
                       + CASE WHEN doc_id % 4 = 0 THEN 0
                              ELSE (doc_id % 4) * 10 END AS s,
                       CASE WHEN doc_id % 4 = 0 THEN 60 ELSE 12 END AS len
                FROM documents
            ), sh AS (
                -- shingle 'w<j> w<j+1> w<j+2>' <-> start index j (bijective),
                -- so the shingle SET replays as an integer range
                SELECT doc_id, unnest(generate_series(s, s + len - 3)) AS j
                FROM d
            ), sz AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS c
                FROM sh GROUP BY 1
            ), co AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       CAST(count(*) AS BIGINT) AS n_common
                FROM sh a JOIN sh b ON a.j = b.j AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b, n_common, sa.c AS n_a, sb.c AS n_b,
                   CAST(floor(1000000.0 * n_common / sa.c) AS BIGINT)
                       AS cont_ab_ppm,
                   CAST(floor(1000000.0 * n_common / sb.c) AS BIGINT)
                       AS cont_ba_ppm
            FROM co
            JOIN sz sa ON sa.doc_id = co.doc_a
            JOIN sz sb ON sb.doc_id = co.doc_b
            WHERE greatest(floor(1000000.0 * n_common / sa.c),
                           floor(1000000.0 * n_common / sb.c)) >= 600000
        """,
        "domain_split": """
            WITH hp AS (
                SELECT doc_id, lang,
                       CASE doc_id % 5
                            WHEN 0 THEN source || '-x'
                                 || CAST(doc_id % 40 AS VARCHAR) || '.co.uk'
                            WHEN 1 THEN source || '-x'
                                 || CAST(doc_id % 40 AS VARCHAR) || '.com'
                            WHEN 2 THEN source || '-x'
                                 || CAST(doc_id % 40 AS VARCHAR) || '.org'
                            WHEN 3 THEN source || '-x'
                                 || CAST(doc_id % 40 AS VARCHAR) || '.github.io'
                            ELSE NULL END AS pld
                FROM documents
            ), b AS (
                SELECT pld,
                       ((strpos('0123456789abcdef',
                                substr(md5(pld), 1, 1)) - 1) * 16
                      + (strpos('0123456789abcdef',
                                substr(md5(pld), 2, 1)) - 1)) % 10 AS bucket
                FROM hp
            ), s AS (
                SELECT pld,
                       CASE WHEN pld IS NULL THEN 'train'
                            WHEN bucket < 1 THEN 'test'
                            WHEN bucket < 2 THEN 'val'
                            ELSE 'train' END AS split
                FROM b
            )
            SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT pld) AS BIGINT) AS n_plds
            FROM s GROUP BY 1
        """,
        "unicode_nfc_dedup": f"""
            WITH raw AS (
                SELECT doc_id,
                       CASE doc_id % 4
                            WHEN 0 THEN '{NFC_COMPOSED}'
                            WHEN 1 THEN '{NFC_DECOMPOSED}'
                            WHEN 2 THEN '{NFC_MIXED}'
                            ELSE '{NFC_JAMO}' END
                       || ' #' || CAST(doc_id % 25 AS VARCHAR) AS raw_text
                FROM documents
            ), n AS (
                SELECT doc_id, raw_text,
                       nfc_normalize(raw_text) AS nfc_text
                FROM raw
            )
            SELECT nfc_text,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT raw_text) AS BIGINT) AS n_forms,
                   min(doc_id) AS rep_doc_id,
                   CAST(sum(CASE WHEN raw_text <> nfc_text
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
            FROM n GROUP BY 1
        """,
        "registered_domains": """
            WITH hp AS (
                SELECT CASE doc_id % 5
                            WHEN 0 THEN 'www.' || source || '.co.uk'
                            WHEN 1 THEN source || '.com'
                            WHEN 2 THEN 'a.b.' || source || '.org'
                            WHEN 3 THEN 'cdn.' || source || '.github.io'
                            ELSE 'co.uk' END AS host,
                       CASE doc_id % 5
                            WHEN 0 THEN source || '.co.uk'
                            WHEN 1 THEN source || '.com'
                            WHEN 2 THEN source || '.org'
                            WHEN 3 THEN source || '.github.io'
                            ELSE NULL END AS pld
                FROM documents
            )
            SELECT host, pld, CAST(count(*) AS BIGINT) AS n_docs
            FROM hp GROUP BY 1, 2
        """,
        "redirect_chains": """
            WITH raw AS (
                SELECT doc_id,
                       'http://h' || CAST(doc_id % 23 AS VARCHAR)
                       || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS s,
                       CASE WHEN doc_id % 10 IN (1, 2, 3, 8)
                            THEN 'http://h' || CAST((doc_id - 1) % 23 AS VARCHAR)
                                 || '.example.com/p/'
                                 || CAST(doc_id - 1 AS VARCHAR)
                            WHEN doc_id % 10 = 9
                            THEN 'http://h' || CAST(doc_id % 23 AS VARCHAR)
                                 || '.example.com/p/'
                                 || CAST(doc_id AS VARCHAR)
                            ELSE 'http://h' || CAST((doc_id + 1) % 23 AS VARCHAR)
                                 || '.example.com/p/'
                                 || CAST(doc_id + 1 AS VARCHAR)
                       END AS d
                FROM documents WHERE doc_id % 10 IN (1, 2, 3, 7, 8, 9)
            ), e AS (
                SELECT s, min(d) AS d FROM raw GROUP BY s
            ), m1 AS (
                SELECT s AS url, d AS final_url, 1 AS n_hops FROM e
            ), m2 AS (
                SELECT m.url,
                       COALESCE(e.d, m.final_url) AS final_url,
                       m.n_hops + CASE WHEN e.d IS NULL THEN 0 ELSE 1 END
                           AS n_hops
                FROM m1 m LEFT JOIN e ON e.s = m.final_url
            ), m3 AS (
                SELECT m.url,
                       COALESCE(e.d, m.final_url) AS final_url,
                       m.n_hops + CASE WHEN e.d IS NULL THEN 0 ELSE 1 END
                           AS n_hops
                FROM m2 m LEFT JOIN e ON e.s = m.final_url
            ), m4 AS (
                SELECT m.url,
                       COALESCE(e.d, m.final_url) AS final_url,
                       m.n_hops + CASE WHEN e.d IS NULL THEN 0 ELSE 1 END
                           AS n_hops
                FROM m3 m LEFT JOIN e ON e.s = m.final_url
            )
            SELECT m.url, m.final_url, CAST(m.n_hops AS INT) AS n_hops,
                   e.s IS NULL AS resolved
            FROM m4 m LEFT JOIN e ON e.s = m.final_url
        """,
        "charset_sniff": """
            SELECT 'http://h' || CAST(doc_id % 23 AS VARCHAR)
                   || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
                   CASE doc_id % 4
                        WHEN 0 THEN 'utf-8'
                        WHEN 1 THEN 'iso-8859-1'
                        WHEN 2 THEN 'windows-1252'
                        ELSE 'utf-8' END AS charset,
                   CASE doc_id % 4
                        WHEN 0 THEN 'bom'
                        WHEN 1 THEN 'meta-charset'
                        WHEN 2 THEN 'meta-http-equiv'
                        ELSE 'default' END AS charset_source
            FROM documents
        """,
        "simhash_wide": """
            WITH toks AS (
                SELECT doc_id,
                       md5(unnest(string_split(lower(text), ' '))) AS h
                FROM documents WHERE doc_id < 300
            ), bits AS (
                SELECT doc_id, b.b AS b,
                       CASE WHEN ((strpos('0123456789abcdef',
                                          substr(h, (b.b // 4) + 1, 1)) - 1)
                                  >> (3 - (b.b % 4))) & 1 = 1
                            THEN 1 ELSE -1 END AS d
                FROM toks, (SELECT unnest(generate_series(0, 55)) AS b) b
            ), counters AS (
                SELECT doc_id, b, sum(d) AS c FROM bits GROUP BY 1, 2
            ), dh AS (
                SELECT doc_id,
                       CAST(sum(CASE WHEN c > 0
                                     THEN CAST(1 AS BIGINT) << (55 - b)
                                     ELSE 0 END) AS BIGINT) AS h
                FROM counters GROUP BY doc_id
            )
            SELECT doc_id, h AS simhash FROM dh
        """,
        "simhash_near_pairs": """
            WITH toks AS (
                SELECT doc_id,
                       md5(unnest(string_split(lower(text), ' '))) AS h
                FROM documents
            ), bits AS (
                SELECT doc_id, b.b AS b,
                       CASE WHEN ((strpos('0123456789abcdef',
                                          substr(h, (b.b // 4) + 1, 1)) - 1)
                                  >> (3 - (b.b % 4))) & 1 = 1
                            THEN 1 ELSE -1 END AS d
                FROM toks, (SELECT unnest(generate_series(0, 55)) AS b) b
            ), counters AS (
                SELECT doc_id, b, sum(d) AS c FROM bits GROUP BY 1, 2
            ), dh AS (
                SELECT doc_id,
                       CAST(sum(CASE WHEN c > 0
                                     THEN CAST(1 AS BIGINT) << (55 - b)
                                     ELSE 0 END) AS BIGINT) AS h
                FROM counters GROUP BY doc_id
            ), bands AS (
                SELECT doc_id, h, 0 AS bi, (h >> 42) & 16383 AS bv FROM dh
                UNION ALL SELECT doc_id, h, 1, (h >> 28) & 16383 FROM dh
                UNION ALL SELECT doc_id, h, 2, (h >> 14) & 16383 FROM dh
                UNION ALL SELECT doc_id, h, 3, h & 16383 FROM dh
            )
            SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b,
                   CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
            FROM bands a JOIN bands b
              ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.h, b.h)) <= 3
        """,
        "feed_harvest": """
            SELECT 'http://' || source || '.example.com/feed.xml' AS feed_url,
                   'rss' AS kind,
                   'http://' || source || '.example.com/p/'
                   || CAST(doc_id AS VARCHAR) AS link,
                   'Doc ' || CAST(doc_id AS VARCHAR) || ' & more' AS title,
                   '2024-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                       AS published,
                   'tag:' || source || ':' || CAST(doc_id AS VARCHAR)
                       AS entry_id
            FROM documents
            UNION ALL
            SELECT 'http://atom.example.com/feed.atom', 'atom',
                   'http://atom.example.com/a/' || CAST(doc_id AS VARCHAR),
                   'A' || CAST(doc_id AS VARCHAR),
                   '2024-04-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0'),
                   'urn:' || CAST(doc_id AS VARCHAR)
            FROM documents WHERE doc_id < 40
        """,
        "hreflang_clusters": """
            SELECT 'http://site.example.com/de/g/'
                   || CAST(doc_id // 5 AS VARCHAR) AS cluster_key,
                   CAST(count(*) AS BIGINT) AS n_pages,
                   CAST(5 AS INT) AS n_langs,
                   'de,en,es,fr,zh' AS langs
            FROM documents GROUP BY doc_id // 5
        """,
        "sitemap_harvest": """
            SELECT 'http://' || source || '.example.com/sitemap.xml'
                       AS sitemap_url,
                   'urlset' AS kind,
                   'http://' || source || '.example.com/p/'
                   || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS loc,
                   '2024-03-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                       AS lastmod,
                   CASE WHEN doc_id % 3 = 0 THEN 'daily' ELSE 'weekly' END
                       AS changefreq,
                   '0.' || CAST(doc_id % 10 AS VARCHAR) AS priority
            FROM documents
            UNION ALL
            SELECT DISTINCT 'http://index.example.com/sitemap_index.xml',
                   'sitemapindex',
                   'http://' || source || '.example.com/sitemap.xml',
                   '2024-04-01', NULL, NULL
            FROM documents
        """,
        "page_metadata": """
            SELECT 'http://h' || CAST(doc_id % 23 AS VARCHAR)
                   || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
                   'Doc ' || CAST(doc_id AS VARCHAR) || ' & ' || source
                       AS title,
                   CASE WHEN doc_id % 2 = 1
                        THEN 'http://h' || CAST((doc_id - 1) % 23 AS VARCHAR)
                             || '.example.com/p/' || CAST(doc_id - 1 AS VARCHAR)
                   END AS canonical,
                   'lang=' || lang || ' len=' || CAST(n_chars AS VARCHAR)
                       AS meta_description,
                   CASE WHEN doc_id % 5 = 0 THEN 'noindex'
                        ELSE 'index,follow' END AS meta_robots,
                   CAST(3 AS INT) AS n_meta_tags
            FROM documents
        """,
        "canonical_dedup": """
            WITH pages AS (
                SELECT doc_id,
                       'http://h' || CAST(doc_id % 23 AS VARCHAR)
                       || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
                       CASE WHEN doc_id % 2 = 1
                            THEN 'http://h' || CAST((doc_id - 1) % 23 AS VARCHAR)
                                 || '.example.com/p/'
                                 || CAST(doc_id - 1 AS VARCHAR)
                       END AS canonical
                FROM documents
            )
            SELECT coalesce(canonical, url) AS canonical_target,
                   CAST(count(*) AS BIGINT) AS n_pages,
                   min(url) AS keeper_url
            FROM pages GROUP BY 1
        """,
        "host_mirrors": """
            WITH pages AS (
                SELECT source || '.example.com' AS host, md5(text) AS fp
                FROM documents
                UNION ALL
                SELECT 'mirror-' || source || '.example.net', md5(text)
                FROM documents WHERE doc_id % 2 = 0
                UNION ALL
                SELECT 'cdn-' || source || '.example.org', md5(text)
                FROM documents WHERE doc_id % 4 = 0
            ), d AS (
                SELECT DISTINCT host, fp FROM pages
            ), sizes AS (
                SELECT host, CAST(count(*) AS BIGINT) AS sz FROM d GROUP BY 1
            ), co AS (
                SELECT a.host AS host_a, b.host AS host_b,
                       CAST(count(*) AS BIGINT) AS n_common
                FROM d a JOIN d b ON a.fp = b.fp AND a.host < b.host
                GROUP BY 1, 2
            )
            SELECT co.host_a, co.host_b, co.n_common,
                   sa.sz AS n_a, sb.sz AS n_b,
                   CAST(floor(1000000.0 * co.n_common
                              / (sa.sz + sb.sz - co.n_common)) AS BIGINT)
                       AS jaccard_ppm
            FROM co
            JOIN sizes sa ON sa.host = co.host_a
            JOIN sizes sb ON sb.host = co.host_b
            WHERE floor(1000000.0 * co.n_common
                        / (sa.sz + sb.sz - co.n_common)) >= 100000
        """,
        "recrawl_tiers": """
            WITH o_snap AS (
                SELECT doc_id, text, source || '.example.com' AS host
                FROM documents WHERE doc_id % 10 <> 0
            ), n_snap AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
                            ELSE text END AS text,
                       source || '.example.com' AS host
                FROM documents WHERE doc_id % 10 <> 1
            ), diff AS (
                SELECT coalesce(n.host, o.host) AS host,
                       CASE WHEN o.doc_id IS NULL THEN 'added'
                            WHEN n.doc_id IS NULL THEN 'removed'
                            WHEN o.text = n.text THEN 'unchanged'
                            ELSE 'changed' END AS ct
                FROM o_snap o FULL OUTER JOIN n_snap n ON o.doc_id = n.doc_id
            ), agg AS (
                SELECT host,
                       CAST(sum(CASE WHEN ct IN ('changed', 'unchanged')
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
                       CAST(sum(CASE WHEN ct = 'changed' THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_changed,
                       CAST(sum(CASE WHEN ct = 'added' THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_added,
                       CAST(sum(CASE WHEN ct = 'removed' THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_removed
                FROM diff GROUP BY host
            ), ppm AS (
                SELECT *,
                       CASE WHEN n_common = 0 THEN CAST(-1 AS BIGINT)
                            ELSE CAST(floor(1000000.0 * n_changed / n_common)
                                      AS BIGINT) END AS change_ppm
                FROM agg
            )
            SELECT host, n_common, n_changed, n_added, n_removed, change_ppm,
                   CASE WHEN n_common = 0 THEN 'new'
                        WHEN change_ppm >= 500000 THEN 'daily'
                        WHEN change_ppm >= 100000 THEN 'weekly'
                        WHEN change_ppm >= 1 THEN 'monthly'
                        ELSE 'quarterly' END AS tier
            FROM ppm
        """,
        "good_turing": """
            WITH toks AS (
                SELECT unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            ), tc AS (
                SELECT w, count(*) AS r FROM toks GROUP BY w
            ), fof AS (
                SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM tc GROUP BY r
            )
            SELECT a.r, a.n_r,
                   CAST(COALESCE(b.n_r, 0) AS BIGINT) AS n_r_next,
                   CAST(floor(1000000.0 * (a.r + 1) * COALESCE(b.n_r, 0)
                              / a.n_r) AS BIGINT) AS rstar_ppm
            FROM fof a LEFT JOIN fof b ON b.r = a.r + 1
        """,
        "url_template_farms": """
            WITH f AS (
                SELECT d.text,
                       d.source || '.example.com' AS host,
                       CASE WHEN d.doc_id % 4 = 0
                            THEN '/archive/'
                                 || CAST(2000 + d.doc_id % 25 AS VARCHAR)
                                 || '/' || CAST(d.doc_id AS VARCHAR)
                            ELSE '/' || d.lang || '/p/'
                                 || CAST(d.doc_id AS VARCHAR)
                                 || '?sess='
                                 || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 10)
                                 || '&page=' || CAST(d.doc_id % 5 AS VARCHAR)
                       END AS pq
                FROM documents d
            ), t AS (
                SELECT host,
                       regexp_replace(
                           regexp_replace(pq, '[0-9a-f]{8,}', '<h>', 'g'),
                           '[0-9]+', '<n>', 'g') AS template,
                       md5(text) AS fp
                FROM f
            )
            SELECT host, template,
                   CAST(count(*) AS BIGINT) AS n_pages,
                   CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_texts,
                   CAST(floor(1000000.0 * (count(*) - count(DISTINCT fp))
                              / count(*)) AS BIGINT) AS dup_ratio_ppm
            FROM t GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        "url_dedup": """
            WITH u AS (
                SELECT doc_id, n_chars,
                       'https://' ||
                       CASE WHEN doc_id % 2 = 0
                            THEN upper(source || '.example.com')
                            ELSE source || '.example.com' END ||
                       CASE WHEN doc_id % 11 = 0 THEN ':443' ELSE '' END ||
                       '/page/' || CAST(doc_id % 50 AS VARCHAR) ||
                       CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END ||
                       CASE WHEN doc_id % 3 = 0
                            THEN '?utm_source=feed&id='
                                 || CAST(doc_id % 50 AS VARCHAR)
                            WHEN doc_id % 3 = 1
                            THEN '?id=' || CAST(doc_id % 50 AS VARCHAR)
                            ELSE '' END ||
                       CASE WHEN doc_id % 5 = 0
                            THEN '#section-' || CAST(doc_id AS VARCHAR)
                            ELSE '' END AS url
                FROM documents
            ), q AS (
                SELECT doc_id, n_chars, url,
                       -- array_to_string([]) is NULL in DuckDB ('' in Spark)
                       coalesce(array_to_string(list_sort(list_filter(
                           string_split(
                               regexp_extract(url, '\\?([^#]*)', 1), '&'),
                           x -> len(x) > 0 AND NOT regexp_matches(
                               x, '^(utm_[a-z]+|fbclid|gclid|ref)='))),
                           '&'), '') AS qs
                FROM u
            ), canon AS (
                SELECT doc_id, n_chars,
                       regexp_replace(lower(regexp_extract(url,
                           '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)', 1)),
                           ':(80|443)$', '') ||
                       regexp_replace(regexp_extract(url,
                           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
                           '/+$', '') ||
                       CASE WHEN qs = '' THEN '' ELSE '?' || qs END
                           AS canonical_url
                FROM q
            ), ranked AS (
                SELECT canonical_url, doc_id, n_chars,
                       row_number() OVER (PARTITION BY canonical_url
                           ORDER BY n_chars DESC, doc_id ASC) AS rn,
                       count(*) OVER (PARTITION BY canonical_url)
                           AS n_versions,
                       max(n_chars) OVER (PARTITION BY canonical_url)
                           AS best_n_chars
                FROM canon
            )
            SELECT canonical_url, doc_id AS keeper_doc_id,
                   CAST(n_versions AS BIGINT) AS n_versions, best_n_chars
            FROM ranked WHERE rn = 1
        """,
        "set_ops": """
            (SELECT doc_id, lang FROM documents WHERE doc_id % 3 = 0
             UNION ALL
             SELECT doc_id, lang FROM documents WHERE doc_id % 3 = 1)
            EXCEPT ALL
            SELECT doc_id, lang FROM documents WHERE doc_id % 6 = 0
        """,
        "distinct_counts": """
            SELECT source, count(DISTINCT lang) AS n_langs, count(*) AS n_docs
            FROM documents GROUP BY source
        """,
        "repetition_signals": """
            WITH w AS (
                SELECT doc_id, len(string_split(lower(text), ' ')) AS n_words,
                       string_split(lower(text), ' ') AS words
                FROM documents
            ), bg AS (
                SELECT doc_id,
                       words[i] || ' ' || words[i + 1] AS bg
                FROM w, unnest(generate_series(1, len(words) - 1)) AS t(i)
            ), counts AS (
                SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg
            ), agg AS (
                SELECT doc_id, max(c) AS top_bigram_count,
                       CAST(sum(c) AS BIGINT) AS n_bigrams
                FROM counts GROUP BY doc_id
            )
            SELECT w.doc_id, w.n_words,
                   COALESCE(agg.n_bigrams, 0) AS n_bigrams,
                   round(CASE WHEN COALESCE(agg.n_bigrams, 0) = 0 THEN 0.0
                              ELSE agg.top_bigram_count / agg.n_bigrams END, 4)
                       AS top_bigram_frac
            FROM w LEFT JOIN agg ON w.doc_id = agg.doc_id
        """,
        "script_mix": """
            WITH p AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 7 = 1 THEN ' привет мир' ELSE '' END
                       || CASE WHEN doc_id % 11 = 3 THEN ' 垃圾邮件' ELSE '' END
                       AS t
                FROM documents
            ),
            c AS (
                SELECT doc_id,
                       length(t) - length(regexp_replace(t, '[\\p{Latin}]', '', 'g')) AS n_latin,
                       length(t) - length(regexp_replace(t, '[\\p{Cyrillic}]', '', 'g')) AS n_cyrillic,
                       length(t) - length(regexp_replace(t, '[\\p{Han}]', '', 'g')) AS n_han
                FROM p
            )
            SELECT doc_id,
                   CAST(n_latin AS BIGINT) AS n_latin,
                   CAST(n_cyrillic AS BIGINT) AS n_cyrillic,
                   CAST(n_han AS BIGINT) AS n_han,
                   CAST((n_latin > 0)::INT + (n_cyrillic > 0)::INT
                        + (n_han > 0)::INT AS INT) AS n_scripts,
                   CAST(((n_latin > 0)::INT + (n_cyrillic > 0)::INT
                        + (n_han > 0)::INT >= 2) AS INT) AS mixed_script
            FROM c
        """,
        "char_diversity": """
            WITH ch AS (
                SELECT doc_id, unnest(string_split(text, '')) AS c
                FROM documents
            ), f AS (
                SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k
                FROM ch WHERE c <> '' GROUP BY 1, 2
            ), a AS (
                SELECT doc_id,
                       CAST(sum(k) AS BIGINT) AS n,
                       CAST(count(*) AS BIGINT) AS distinct_chars,
                       max(k) AS mx,
                       CAST(sum(k * k) AS BIGINT) AS s2,
                       CAST(sum(CASE WHEN regexp_matches(c, '^[A-Za-z]$')
                                     THEN k ELSE 0 END) AS BIGINT) AS na
                FROM f GROUP BY 1
            )
            SELECT doc_id, n AS n_chars_seen, distinct_chars,
                   CAST(floor(1000000.0 * mx / n) AS BIGINT) AS top_char_ppm,
                   CAST(floor(1000000.0 * (n * n - s2) / (n * n)) AS BIGINT)
                       AS gini_ppm,
                   CAST(floor(1000000.0 * na / n) AS BIGINT) AS alpha_ppm
            FROM a
        """,
        "json_struct_extract": """
            SELECT event_id,
                   CAST(json_extract(props, '$.k') AS INT) AS k,
                   CAST(json_extract(props, '$.k') AS INT) % 10 AS k_mod10,
                   CASE WHEN json_extract(props, '$.k') IS NOT NULL
                        THEN '{"k":' || json_extract(props, '$.k') || '}'
                   END AS rt
            FROM events
        """,
        "pivot_event_matrix": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'click') AS n_click,
                   count(*) FILTER (event_type = 'error') AS n_error,
                   count(*) FILTER (event_type = 'purchase') AS n_purchase,
                   count(*) FILTER (event_type = 'signup') AS n_signup,
                   count(*) FILTER (event_type = 'view') AS n_view
            FROM events GROUP BY user_id
        """,
        "map_event_stats": """
            WITH c AS (
                SELECT user_id, event_type, count(*) AS c
                FROM events GROUP BY user_id, event_type
            )
            SELECT user_id, count(*) AS n_kinds,
                   array_to_string(list(event_type || '=' || CAST(c AS VARCHAR)
                                        ORDER BY event_type), ',') AS stats
            FROM c GROUP BY user_id
        """,
        "training_prep": f"""
            WITH passed AS (
                SELECT doc_id, text, lang, n_chars
                FROM (SELECT doc_id, text, lang, n_chars,
                             ' ' || lower(text) || ' ' AS p
                      FROM documents WHERE lang IN ('en', 'zh', 'de'))
                WHERE round((
                       (CASE WHEN {wc} >= 20 THEN 1.0 ELSE {wc} / 20.0 END) +
                       (CASE WHEN {punct} <= 0.2 THEN 1.0
                             ELSE greatest(0.0, 1.0 - ({punct} - 0.2) * 5) END) +
                       (CASE WHEN {stop_ratio} >= 0.05 THEN 1.0
                             ELSE {stop_ratio} / 0.05 END)
                   ) / 3.0, 4) >= 0.5
            ), base AS (
                SELECT * FROM passed
                WHERE doc_id IN (SELECT min(doc_id) FROM passed GROUP BY md5(text))
            ), hashed AS (
                SELECT doc_id,
                       list_transform(wsh, x -> md5('0|' || x)) AS h0,
                       list_transform(wsh, x -> md5('1|' || x)) AS h1
                FROM (SELECT doc_id, {shingle5} AS wsh FROM base)
            ), sigs AS (
                SELECT doc_id, [{window_mins}] AS sig FROM hashed
            ), banded AS (
                SELECT doc_id, unnest([{band_keys}]) AS band_key FROM sigs
            ), losers AS (
                SELECT DISTINCT b.doc_id AS doc_id
                FROM banded a JOIN banded b USING (band_key)
                WHERE a.doc_id < b.doc_id
            ), survivors AS (
                SELECT doc_id, lang, n_chars FROM base
                WHERE doc_id NOT IN (SELECT doc_id FROM losers)
            ), bkt AS (
                SELECT lang, n_chars,
                       ((strpos('0123456789abcdef',
                                substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                      + (strpos('0123456789abcdef',
                                substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 10
                           AS bucket
                FROM survivors
            )
            SELECT CASE WHEN bucket = 0 THEN 'test'
                        WHEN bucket = 1 THEN 'val'
                        ELSE 'train' END AS split,
                   lang, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM bkt GROUP BY 1, 2
        """,
        "hash_split": """
            WITH b AS (
                SELECT doc_id, lang,
                       ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 10 AS bucket
                FROM documents
            )
            SELECT CASE WHEN bucket = 0 THEN 'test'
                        WHEN bucket = 1 THEN 'val'
                        ELSE 'train' END AS split,
                   lang, count(*) AS n_docs
            FROM b GROUP BY 1, 2
        """,
        "topk_docs": """
            SELECT doc_id, n_chars, lang FROM documents
            ORDER BY n_chars DESC, doc_id ASC LIMIT 20
        """,
        "unpivot_event_matrix": """
            SELECT user_id, event_type, count(*) AS n
            FROM events GROUP BY user_id, event_type
        """,
        "global_row_numbers": """
            SELECT doc_id, n_chars,
                   row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM documents
        """,
        "source_quality_audit": """
            WITH f AS (
                SELECT source,
                       text IS NULL AS is_null,
                       length(COALESCE(text, '')) = 0 AS is_empty,
                       length(COALESCE(text, '')) < 20 AS is_short,
                       count(*) OVER (PARTITION BY md5(COALESCE(text, ''))) > 1
                           AS is_dup,
                       lang NOT IN ('en', 'zh', 'de', 'fr', 'es') AS is_badlang
                FROM documents
            )
            SELECT source, count(*) AS n_docs,
                   CAST(sum(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
                   CAST(sum(CASE WHEN is_empty THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text,
                   CAST(sum(CASE WHEN is_short THEN 1 ELSE 0 END) AS BIGINT) AS n_short_text,
                   CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_content,
                   CAST(sum(CASE WHEN is_badlang THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_lang
            FROM f GROUP BY source
        """,
        "top_words": """
            SELECT w, count(*) AS n
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                  FROM documents)
            GROUP BY w
            ORDER BY n DESC, w ASC
            LIMIT 20
        """,
        "grouping_sets_metrics": """
            SELECT lang, source, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents
            GROUP BY GROUPING SETS ((lang), (source))
        """,
        "rolling_user_spend": """
            SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS rolling_cents_3,
                   CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS n_in_frame
            FROM events
        """,
        "attribution_join": """
            SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
                   epoch_us(p.ts) AS purchase_ts_us, epoch_us(c.ts) AS click_ts_us
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id
             AND c.ts <= p.ts
             AND c.ts >= p.ts - INTERVAL 2 HOUR
        """,
        "pii_scrub": """
            WITH s AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com tel 555'
                            || CAST(doc_id % 10000 + 10000 AS VARCHAR) AS t
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(
                       regexp_replace(t,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                       '[0-9]{7,}')) AS BIGINT) AS n_numbers,
                   md5(regexp_replace(
                       regexp_replace(t,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                       '[0-9]{7,}', '<NUM>', 'g')) AS scrubbed_fp
            FROM s
        """,
        "decontamination": """
            WITH sh5 AS (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, greatest(0,
                               len(string_split(lower(text), ' ')) - 4)),
                           i -> array_to_string(
                               string_split(lower(text), ' ')[i:i+4], ' ')))
                           AS sh
                FROM documents
            ), b AS (
                SELECT DISTINCT sh FROM sh5 WHERE doc_id % 10 = 7
            )
            SELECT c.doc_id, count(DISTINCT c.sh) AS n_shared
            FROM (SELECT * FROM sh5 WHERE doc_id % 10 != 7) c
            JOIN b USING (sh)
            GROUP BY c.doc_id
        """,
        # identical to the `decontamination` oracle BY DESIGN: blooms have
        # no false negatives and the exact confirm join erases the false
        # positives, so the prefiltered result must equal the plain join.
        "bloom_decontamination": """
            WITH sh5 AS (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, greatest(0,
                               len(string_split(lower(text), ' ')) - 4)),
                           i -> array_to_string(
                               string_split(lower(text), ' ')[i:i+4], ' ')))
                           AS sh
                FROM documents
            ), b AS (
                SELECT DISTINCT sh FROM sh5 WHERE doc_id % 10 = 7
            )
            SELECT c.doc_id, count(DISTINCT c.sh) AS n_shared
            FROM (SELECT * FROM sh5 WHERE doc_id % 10 != 7) c
            JOIN b USING (sh)
            GROUP BY c.doc_id
        """,
        "chunk_documents": """
            WITH w AS (
                SELECT doc_id, string_split(lower(text), ' ') AS words
                FROM documents WHERE doc_id < 200
            ), c AS (
                SELECT doc_id, t.k,
                       words[1 + t.k * 48 : t.k * 48 + 64] AS chunk
                FROM w, unnest(generate_series(0, (len(words) - 1) // 48)) AS t(k)
            )
            SELECT doc_id, k AS chunk_idx,
                   CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
                   md5(array_to_string(chunk, ' ')) AS chunk_fp
            FROM c
        """,
        "stratified_sample": """
            WITH b AS (
                SELECT doc_id, lang,
                       ((strpos('0123456789abcdef',
                                substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                      + (strpos('0123456789abcdef',
                                substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 100
                           AS bucket,
                       CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 100
                                 WHEN 'de' THEN 100 WHEN 'fr' THEN 25
                                 WHEN 'es' THEN 25 ELSE 0 END AS rate
                FROM documents
            )
            SELECT lang, count(*) AS n_kept, min(doc_id) AS min_doc_id
            FROM b WHERE bucket < rate GROUP BY lang
        """,
        "word_rarity_scores": """
            WITH w AS (
                SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
                FROM documents
            ), f AS (
                SELECT word, count(*) AS n FROM w GROUP BY word
            )
            SELECT doc_id, count(*) AS n_words,
                   CAST(sum(CASE WHEN f.n <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_rare,
                   round(CAST(sum(f.n) AS BIGINT) / count(*), 4)
                       AS mean_word_freq
            FROM w JOIN f USING (word)
            GROUP BY doc_id
        """,
        "semi_join_priority": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders o
            WHERE EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_discount >= 0.05
                  AND l.l_shipdate > o.o_orderdate
            )
            GROUP BY o_orderpriority
        """,
        "image_features": f"""
            WITH {_IMAGE_STATS_SQL}
            , hs AS (
                SELECT doc_id,
                       string_agg(CAST(c AS VARCHAR), ',' ORDER BY b) AS hist
                FROM histfull GROUP BY doc_id
            )
            SELECT m.doc_id, 'png' AS media_kind,
                   round(m.mean_p / 255.0, 6) AS mean_px,
                   round(sd.std_p / 255.0, 4) AS std_px,
                   hs.hist
            FROM m JOIN sd USING (doc_id) JOIN hs USING (doc_id)
        """,
        # T117: dHash bit b (row r=b//7, col c=b%7) compares text codepoints
        # at positions r*8+c and r*8+c+1 (pad 32 past the 64-char window) —
        # the same pixels the renderer drew, so the packed BIGINT is bitwise
        "image_dhash": """
            WITH px AS (
                SELECT d.doc_id, t.b,
                       CASE WHEN length(d.text) >= (t.b // 7) * 8 + (t.b % 7) + 1
                            THEN least(ascii(substr(d.text,
                                 (t.b // 7) * 8 + (t.b % 7) + 1, 1)), 255)
                            ELSE 32 END AS p1,
                       CASE WHEN length(d.text) >= (t.b // 7) * 8 + (t.b % 7) + 2
                            THEN least(ascii(substr(d.text,
                                 (t.b // 7) * 8 + (t.b % 7) + 2, 1)), 255)
                            ELSE 32 END AS p2
                FROM documents d, unnest(generate_series(0, 55)) AS t(b)
            )
            SELECT doc_id, 'png' AS media_kind,
                   CAST(sum(CASE WHEN p1 > p2
                                 THEN CAST(1 AS BIGINT) << (55 - b)
                                 ELSE 0 END) AS BIGINT) AS dhash,
                   CAST(56 AS INT) AS n_bits
            FROM px GROUP BY doc_id
        """,
        "image_dhash_pairs": """
            WITH px AS (
                SELECT d.doc_id, t.b,
                       CASE WHEN length(d.text) >= (t.b // 7) * 8 + (t.b % 7) + 1
                            THEN least(ascii(substr(d.text,
                                 (t.b // 7) * 8 + (t.b % 7) + 1, 1)), 255)
                            ELSE 32 END AS p1,
                       CASE WHEN length(d.text) >= (t.b // 7) * 8 + (t.b % 7) + 2
                            THEN least(ascii(substr(d.text,
                                 (t.b // 7) * 8 + (t.b % 7) + 2, 1)), 255)
                            ELSE 32 END AS p2
                FROM documents d, unnest(generate_series(0, 55)) AS t(b)
            ), dh AS (
                SELECT doc_id,
                       CAST(sum(CASE WHEN p1 > p2
                                     THEN CAST(1 AS BIGINT) << (55 - b)
                                     ELSE 0 END) AS BIGINT) AS h
                FROM px GROUP BY doc_id
            ), bands AS (
                SELECT doc_id, h, 0 AS bi, (h >> 37) & 524287 AS bv FROM dh
                UNION ALL
                SELECT doc_id, h, 1, (h >> 18) & 524287 FROM dh
                UNION ALL
                SELECT doc_id, h, 2, h & 262143 FROM dh
            )
            SELECT DISTINCT a.doc_id AS key_a, b.doc_id AS key_b,
                   CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
            FROM bands a JOIN bands b
              ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.h, b.h)) <= 2
        """,
        # T17 oracles (the T33 trick): DuckDB replays the deterministic
        # container arithmetic — codepoint-PNG pixel stats for the metadata
        # decode, fixed glyph metrics for the frame dimensions
        "multimodal_stub": f"""
            WITH {_IMAGE_STATS_SQL}
            SELECT m.doc_id, 'png' AS media_kind,
                   CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
                   round(m.mean_p, 6) AS mean_px
            FROM m
        """,
        "multimodal_frames": f"""
            SELECT d.doc_id, f.frame_idx,
                   CAST(CASE WHEN d.doc_id < 10 THEN {_frame_dims()[1]}
                             ELSE {_frame_dims()[2]} END AS INT) AS width,
                   CAST({_frame_dims()[0]} AS INT) AS height
            FROM documents d
            CROSS JOIN (VALUES (0), (2)) f(frame_idx)
            WHERE d.doc_id < 60
        """,
        "image_near_dupes": f"""
            WITH {_IMAGE_STATS_SQL}
            , vecs AS (
                SELECT m.doc_id,
                       ([m.mean_p / 255.0, sd.std_p / 255.0] || hl.hl) AS v
                FROM m JOIN sd USING (doc_id)
                JOIN (SELECT doc_id, list(c / 64.0 ORDER BY b) AS hl
                      FROM histfull GROUP BY doc_id) hl USING (doc_id)
            ), planes AS (
                SELECT * FROM (VALUES {_planes18_sql()}) AS p(i, plane)
            ), bucketed AS (
                SELECT v.doc_id, v.v,
                       CAST(sum(CASE WHEN list_dot_product(v.v, p.plane) >= 0
                                     THEN 1 << p.i ELSE 0 END) AS BIGINT) AS bucket
                FROM vecs v CROSS JOIN planes p GROUP BY v.doc_id, v.v
            )
            SELECT id_a, id_b, cos FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) *
                                       sqrt(list_dot_product(b.v, b.v)) = 0
                                  THEN 0.0
                                  ELSE list_dot_product(a.v, b.v) /
                                       (sqrt(list_dot_product(a.v, a.v)) *
                                        sqrt(list_dot_product(b.v, b.v)))
                             END, 4) AS cos
                FROM bucketed a JOIN bucketed b USING (bucket)
                WHERE a.doc_id < b.doc_id
            ) WHERE cos >= 0.9999
        """,
        "packing_stats": """
            WITH RECURSIVE chunks AS (
                SELECT doc_id, k.k AS chunk_idx,
                       least(64, n - k.k * 48) AS tok
                FROM (SELECT doc_id,
                             len(string_split(lower(text), ' ')) AS n
                      FROM documents WHERE doc_id < 100) d,
                     unnest(generate_series(
                         0, CAST(floor((d.n - 1) / 48) AS INT))) AS k(k)
            ), ordered AS (
                SELECT row_number() OVER (ORDER BY doc_id, chunk_idx) AS rn,
                       tok
                FROM chunks
            ), fit AS (
                SELECT rn, tok, tok AS filled, 0 AS bin
                FROM ordered WHERE rn = 1
                UNION ALL
                SELECT o.rn, o.tok,
                       CASE WHEN f.filled + o.tok > 160
                            THEN o.tok ELSE f.filled + o.tok END AS filled,
                       CASE WHEN f.filled + o.tok > 160
                            THEN f.bin + 1 ELSE f.bin END AS bin
                FROM fit f JOIN ordered o ON o.rn = f.rn + 1
            )
            SELECT 'p0_b' || CAST(bin AS VARCHAR) AS bin_id,
                   count(*) AS n_chunks,
                   CAST(sum(tok) AS BIGINT) AS tokens,
                   round(sum(tok) / 160.0, 4) AS fill_frac
            FROM fit GROUP BY bin
        """,
        "host_link_graph": f"""
            WITH {_LINK_EDGES_SQL}
            SELECT 'h' || CAST(src_h AS VARCHAR) || '.example.com' AS src_host,
                   'h' || CAST(dst_h AS VARCHAR) || '.example.com' AS dst_host,
                   count(*) AS weight
            FROM links GROUP BY src_h, dst_h
        """,
        "anchor_texts": f"""
            WITH {_LINK_EDGES_SQL}
            SELECT 'h' || CAST(dst_h AS VARCHAR) || '.example.com' AS dst_host,
                   count(*) AS in_links,
                   count(DISTINCT 'to ' || CAST(t AS VARCHAR))
                       AS n_anchor_texts,
                   min('to ' || CAST(t AS VARCHAR)) AS first_anchor
            FROM links GROUP BY dst_h
        """,
        "host_pagerank": f"""
            WITH {_LINK_EDGES_SQL},
            edges AS (
                SELECT src_h, dst_h, CAST(count(*) AS DOUBLE) AS w
                FROM links GROUP BY src_h, dst_h
            ),
            nodes AS (
                SELECT DISTINCT h FROM (
                    SELECT src_h AS h FROM edges
                    UNION ALL SELECT dst_h FROM edges
                )
            ),
            nc AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM nodes),
            outw AS (SELECT src_h, sum(w) AS ow FROM edges GROUP BY src_h),
            r0 AS (
                SELECT h, CAST(1 AS DOUBLE) / nc.c AS r
                FROM nodes CROSS JOIN nc
            ),
            {_pagerank_iter_sql("0", "1")},
            {_pagerank_iter_sql("1", "2")},
            {_pagerank_iter_sql("2", "3")}
            SELECT 'h' || CAST(h AS VARCHAR) || '.example.com' AS host,
                   round(r, 6) AS pr
            FROM r3
        """,
        "host_trustrank": f"""
            WITH {_LINK_EDGES_SQL},
            edges AS (
                SELECT src_h, dst_h, CAST(count(*) AS DOUBLE) AS w
                FROM links GROUP BY src_h, dst_h
            ),
            nodes AS (
                SELECT DISTINCT h FROM (
                    SELECT src_h AS h FROM edges
                    UNION ALL SELECT dst_h FROM edges
                )
            ),
            seeds AS (SELECT h FROM nodes WHERE h % 5 = 0),
            sc AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM seeds),
            outw AS (SELECT src_h, sum(w) AS ow FROM edges GROUP BY src_h),
            tn AS (
                SELECT nodes.h,
                       CASE WHEN s.h IS NULL THEN CAST(0 AS DOUBLE)
                            ELSE CAST(1 AS DOUBLE) / sc.c END AS tele
                FROM nodes CROSS JOIN sc
                LEFT JOIN seeds s ON s.h = nodes.h
            ),
            r0 AS (SELECT h, tele AS r FROM tn),
            {_trustrank_iter_sql("0", "1")},
            {_trustrank_iter_sql("1", "2")},
            {_trustrank_iter_sql("2", "3")}
            SELECT 'h' || CAST(r3.h AS VARCHAR) || '.example.com' AS host,
                   round(r3.r, 6) AS trust,
                   tn.tele > 0 AS is_seed
            FROM r3 JOIN tn ON tn.h = r3.h
        """,
        "quota_sample": """
            SELECT doc_id, lang, pick_rank FROM (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY md5('quota|' || CAST(doc_id AS VARCHAR)),
                                    doc_id) AS pick_rank
                FROM documents
            ) WHERE pick_rank <= 40
        """,
        "snapshot_diff": """
            WITH o_snap AS (
                SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 <> 0
            ), n_snap AS (
                SELECT doc_id, lang,
                       CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
                            ELSE text END AS text
                FROM documents WHERE doc_id % 10 <> 1
            )
            SELECT coalesce(n.lang, o.lang) AS lang,
                   CASE WHEN o.doc_id IS NULL THEN 'added'
                        WHEN n.doc_id IS NULL THEN 'removed'
                        WHEN o.text = n.text THEN 'unchanged'
                        ELSE 'changed' END AS change_type,
                   count(*) AS n
            FROM o_snap o FULL OUTER JOIN n_snap n ON o.doc_id = n.doc_id
            GROUP BY 1, 2
        """,
        "token_budget_select": f"""
            WITH scored AS (
                SELECT doc_id,
                       CAST({wc} AS BIGINT) AS n_words,
                       CAST(CASE WHEN {wc} = 0 THEN 0
                            ELSE ({stop_hits} * 1000) // {wc} END
                            AS BIGINT) AS score
                FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p
                      FROM documents)
            ),
            tot AS (
                SELECT (3 * CAST(sum(n_words) AS BIGINT)) // 10 AS budget
                FROM scored
            ),
            run AS (
                SELECT doc_id, score, n_words,
                       sum(n_words) OVER (ORDER BY score DESC, doc_id
                                          ROWS UNBOUNDED PRECEDING) AS cum
                FROM scored
            )
            SELECT r.doc_id, r.score, r.n_words,
                   CAST(r.cum AS BIGINT) AS cum_words
            FROM run r, tot t
            WHERE r.cum <= t.budget
        """,
        "snapshot_timetravel": """
            SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0
        """,
        "snapshot_pruned_scan": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id % 2 = 0
              AND doc_id >= (SELECT (7 * count(*)) // 10 FROM documents)
        """,
        "datasource_scan": """
            WITH spanx AS (
                SELECT min(doc_id) AS lo, max(doc_id) - min(doc_id) + 1 AS sp
                FROM documents
            )
            SELECT doc_id, lang, n_chars AS chars FROM documents
            WHERE doc_id >= (SELECT lo + sp // 10 FROM spanx)
              AND doc_id < (SELECT lo + (8 * sp) // 10 FROM spanx)
              AND doc_id % 10 <> 4
        """,
        "ivm_lang_stats": """
            WITH spanx AS (
                SELECT min(doc_id) AS lo, max(doc_id) - min(doc_id) + 1 AS sp
                FROM documents
            ),
            final_state AS (
                SELECT doc_id, lang, n_chars FROM documents
                WHERE doc_id >= (SELECT lo + sp // 10 FROM spanx)
                  AND doc_id % 10 <> 7
                UNION ALL
                SELECT doc_id, lang, n_chars + 1000000 AS n_chars
                FROM documents WHERE doc_id % 10 = 7
                UNION ALL
                SELECT doc_id, lang, n_chars + 5000000 AS n_chars
                FROM documents WHERE doc_id % 100 = 3
            )
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars
            FROM final_state GROUP BY lang
        """,
        "runtime_filter_join": """
            SELECT doc_id, lang, n_chars, doc_id % 7 AS dim_tag
            FROM documents WHERE doc_id % 97 = 0
        """,
        "snapshot_fast_count": """
            WITH spanx AS (
                SELECT min(doc_id) AS lo, max(doc_id) - min(doc_id) + 1 AS sp
                FROM documents
            )
            SELECT CAST(count(*) AS BIGINT) AS n_rows FROM documents
            WHERE doc_id % 2 = 1
               OR doc_id >= (SELECT lo + sp // 10 FROM spanx)
        """,
        "cdc_dedup_index": """
            WITH final_state AS (
                SELECT doc_id, text FROM documents
                WHERE doc_id % 10 NOT IN (3, 7)
                UNION ALL
                SELECT doc_id, text || ' revised' AS text
                FROM documents WHERE doc_id % 10 = 7
            )
            SELECT doc_id, md5(text) AS digest FROM final_state
        """,
        "analyze_columns": """
            WITH spanx AS (
                SELECT min(doc_id) AS lo, max(doc_id) - min(doc_id) + 1 AS sp
                FROM documents
            ),
            fs AS (
                SELECT doc_id, lang, n_chars FROM documents
                WHERE doc_id >= (SELECT lo + sp // 10 FROM spanx)
            )
            SELECT 'doc_id' AS col,
                   CAST(count(*) - count(doc_id) AS BIGINT) AS n_nulls,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS ndv,
                   CAST(min(doc_id) AS VARCHAR) AS min_str,
                   CAST(max(doc_id) AS VARCHAR) AS max_str
            FROM fs
            UNION ALL
            SELECT 'lang',
                   CAST(count(*) - count(lang) AS BIGINT),
                   CAST(count(DISTINCT lang) AS BIGINT),
                   CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
            FROM fs
            UNION ALL
            SELECT 'n_chars',
                   CAST(count(*) - count(n_chars) AS BIGINT),
                   CAST(count(DISTINCT n_chars) AS BIGINT),
                   CAST(min(n_chars) AS VARCHAR),
                   CAST(max(n_chars) AS VARCHAR)
            FROM fs
        """,
        "auto_join_plan": """
            SELECT doc_id, lang, n_chars, doc_id % 7 AS dim_tag
            FROM documents WHERE doc_id % 97 = 0
        """,
        "eq_delete_upsert": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id % 10 NOT IN (3, 7)
            UNION ALL
            SELECT doc_id, lang, n_chars + 1000000 AS n_chars
            FROM documents WHERE doc_id % 10 = 7
            UNION ALL
            SELECT doc_id, lang, n_chars + 5000000 AS n_chars
            FROM documents WHERE doc_id % 100 = 3
        """,
        "changelog_scan": """
            SELECT doc_id, lang, n_chars,
                   'insert' AS change_type, CAST(1 AS BIGINT) AS commit_id
            FROM documents
            UNION ALL
            SELECT doc_id, lang, n_chars,
                   'delete' AS change_type, CAST(2 AS BIGINT) AS commit_id
            FROM documents WHERE doc_id % 10 = 3
            UNION ALL
            SELECT doc_id, lang, n_chars,
                   'delete' AS change_type, CAST(3 AS BIGINT) AS commit_id
            FROM documents WHERE doc_id % 10 = 7
            UNION ALL
            SELECT doc_id, lang, n_chars + 1000000 AS n_chars,
                   'insert' AS change_type, CAST(3 AS BIGINT) AS commit_id
            FROM documents WHERE doc_id % 10 = 7
            UNION ALL
            SELECT doc_id, lang, n_chars + 5000000 AS n_chars,
                   'insert' AS change_type, CAST(4 AS BIGINT) AS commit_id
            FROM documents WHERE doc_id % 100 = 3
        """,
        "hidden_partition_scan": """
            WITH rng AS (
                SELECT min(doc_id) AS lo,
                       max(doc_id) - min(doc_id) AS span
                FROM documents
            )
            SELECT d.doc_id, d.lang, d.n_chars
            FROM documents d, rng r
            WHERE d.lang = 'en'
              AND d.doc_id < r.lo + (6 * r.span) // 10
        """,
        "schema_evolution_scan": """
            SELECT doc_id,
                   CAST(n_chars AS BIGINT) AS score,
                   lang AS language,
                   CAST(NULL AS INTEGER) AS flag,
                   CAST(NULL AS BIGINT) AS tokens
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id,
                   CAST(n_chars AS BIGINT) AS score,
                   lang AS language,
                   CAST(doc_id % 7 AS INTEGER) AS flag,
                   CAST(n_chars * 2 AS BIGINT) AS tokens
            FROM documents WHERE doc_id % 2 = 1
        """,
        "snapshot_metadata_audit": """
            WITH c AS (
                SELECT count(*) FILTER (WHERE doc_id % 2 = 0) AS ce,
                       count(*) FILTER (WHERE doc_id % 2 = 1) AS co
                FROM documents
            )
            SELECT CAST(1 AS BIGINT) AS snapshot_id,
                   'append' AS operation,
                   CAST(ce AS BIGINT) AS added_rows,
                   CAST(ce AS BIGINT) AS total_data_rows
            FROM c
            UNION ALL
            SELECT 2, 'append', CAST(co AS BIGINT), CAST(ce + co AS BIGINT)
            FROM c
            UNION ALL
            SELECT 3, 'alter-schema', 0, CAST(ce + co AS BIGINT)
            FROM c
        """,
        "consumer_tail_delta": """
            SELECT doc_id, lang, n_chars
            FROM documents
            WHERE doc_id % 2 = 1
        """,
        "bucket_local_join": """
            SELECT d.doc_id, d.lang, d.n_chars, e.label
            FROM documents d
            JOIN embeddings e ON d.doc_id = e.vec_id
        """,
        "snapshot_rollback_read": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id % 2 = 0 OR doc_id % 4 = 1
        """,
        "streaming_upsert_state": """
            SELECT doc_id, lang,
                   CASE WHEN doc_id % 3 = 0 THEN n_chars * 10
                        ELSE n_chars END AS val
            FROM documents
        """,
        "bloom_pruned_lookup": """
            SELECT doc_id, lang, n_chars,
                   'https://ex.org/' || doc_id AS url
            FROM documents
            WHERE doc_id = (SELECT min(doc_id) FROM documents)
        """,
        "merge_when_clauses": """
            SELECT doc_id, lang,
                   CASE WHEN doc_id % 4 = 1 THEN n_chars * 10
                        ELSE n_chars END AS val
            FROM documents
            WHERE doc_id % 4 IN (1, 2)
        """,
        "auc_exact": """
            WITH scored AS (
                SELECT (doc_id * 37) % 1000
                       + (CASE WHEN doc_id % 7 < 2 THEN 100 ELSE 0 END) AS s,
                       CASE WHEN doc_id % 7 < 2 THEN 1 ELSE 0 END AS y
                FROM documents
            ),
            hist AS (
                SELECT s, count(*) AS cnt, sum(y) AS pos
                FROM scored GROUP BY s
            ),
            cum AS (
                SELECT s, cnt, pos,
                       sum(cnt) OVER (ORDER BY s
                                      ROWS UNBOUNDED PRECEDING) AS cum
                FROM hist
            )
            SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
                   CAST(sum(cnt) - sum(pos) AS BIGINT) AS n_neg,
                   CAST(sum(pos * (2 * cum - cnt + 1))
                        - sum(pos) * (sum(pos) + 1) AS BIGINT) AS auc_num,
                   CAST(2 * sum(pos) * (sum(cnt) - sum(pos)) AS BIGINT)
                       AS auc_den
            FROM cum
        """,
        "reliability_bins": """
            WITH scored AS (
                SELECT (doc_id * 37) % 1000
                       + (CASE WHEN doc_id % 7 < 2 THEN 100 ELSE 0 END) AS s,
                       CASE WHEN doc_id % 7 < 2 THEN 1 ELSE 0 END AS y
                FROM documents
            )
            SELECT CAST(s // 100 AS BIGINT) AS bin,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(sum(s) AS BIGINT) AS sum_score
            FROM scored
            GROUP BY 1
            ORDER BY 1
        """,
        "delete_mask_compaction": """
            WITH rng AS (
                SELECT min(doc_id) AS lo,
                       max(doc_id) - min(doc_id) AS span
                FROM documents
            )
            SELECT d.doc_id, d.lang, d.n_chars
            FROM documents d, rng r
            WHERE d.doc_id >= r.lo + (2 * r.span) // 10
              AND d.doc_id < r.lo + (9 * r.span) // 10
        """,
        "partial_compaction_scan": """
            WITH rng AS (
                SELECT min(doc_id) AS lo,
                       (max(doc_id) - min(doc_id)) // 10 AS tenth
                FROM documents
            )
            SELECT d.doc_id, d.lang, d.n_chars
            FROM documents d, rng r
            WHERE d.doc_id >= r.lo + r.tenth
        """,
        "snapshot_mor_delete": """
            WITH rng AS (
                SELECT min(doc_id) AS lo,
                       max(doc_id) - min(doc_id) AS span
                FROM documents
            )
            SELECT d.doc_id, d.lang, d.n_chars
            FROM documents d, rng r
            WHERE d.doc_id < r.lo + (9 * r.span) // 10
              AND d.doc_id >= r.lo + r.span // 10
        """,
        "snapshot_tag_read": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id % 3 < 2
        """,
        "zorder_pruning_audit": """
            WITH rng AS (
                SELECT min(doc_id) AS lo_d,
                       (max(doc_id) - min(doc_id) + 256) // 256 AS step_d,
                       min(n_chars) AS lo_c,
                       (max(n_chars) - min(n_chars) + 256) // 256 AS step_c
                FROM documents
            ),
            q AS (
                SELECT (d.doc_id - r.lo_d) // r.step_d AS qd,
                       (d.n_chars - r.lo_c) // r.step_c AS qc,
                       d.doc_id, d.n_chars
                FROM documents d, rng r
            ),
            z AS (
                SELECT doc_id, n_chars,
                       ( ((qd >> 0) & 1) * 2   + ((qc >> 0) & 1) * 1
                       + ((qd >> 1) & 1) * 8   + ((qc >> 1) & 1) * 4
                       + ((qd >> 2) & 1) * 32  + ((qc >> 2) & 1) * 16
                       + ((qd >> 3) & 1) * 128 + ((qc >> 3) & 1) * 64
                       + ((qd >> 4) & 1) * 512 + ((qc >> 4) & 1) * 256
                       + ((qd >> 5) & 1) * 2048  + ((qc >> 5) & 1) * 1024
                       + ((qd >> 6) & 1) * 8192  + ((qc >> 6) & 1) * 4096
                       + ((qd >> 7) & 1) * 32768 + ((qc >> 7) & 1) * 16384
                       ) AS zv
                FROM q
            )
            SELECT CAST(zv >> 10 AS BIGINT) AS z_bucket,
                   count(*) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS min_doc_id,
                   CAST(max(doc_id) AS BIGINT) AS max_doc_id,
                   CAST(min(n_chars) AS BIGINT) AS min_n_chars,
                   CAST(max(n_chars) AS BIGINT) AS max_n_chars
            FROM z GROUP BY 1 ORDER BY 1
        """,
        "snapshot_merge": """
            WITH merged AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 10 = 0 THEN text || ' [merged]'
                            ELSE text END AS text,
                       lang, n_chars
                FROM documents
                UNION ALL
                SELECT doc_id + 1000000, 'inserted ' || doc_id, lang, n_chars
                FROM documents WHERE doc_id % 100 = 0
            )
            SELECT doc_id, lang, n_chars, md5(text) AS text_md5 FROM merged
        """,
        "snapshot_changes": """
            SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 <> 0
        """,
        "blocklist_filter": """
            WITH pages AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 4 = 0 THEN
                                CASE WHEN doc_id % 8 = 0 THEN 'ADS.Example.COM'
                                     ELSE 'ads.example.com' END
                            WHEN doc_id % 4 = 1 THEN source || '.example.com'
                            WHEN doc_id % 4 = 2
                                THEN 'cdn.' || source || '.tracker.net'
                            ELSE upper(source) || '.news.example.org'
                       END AS host
                FROM documents
            ), bl AS (
                SELECT unnest(['ads.example.com', 'tracker.net',
                               'spam.example.org']) AS suffix
            )
            SELECT lower(host) AS host, count(*) AS n,
                   CAST(sum(doc_id) AS BIGINT) AS id_sum
            FROM pages p
            WHERE NOT EXISTS (
                SELECT 1 FROM bl b
                WHERE lower(p.host) = b.suffix
                   OR lower(p.host) LIKE '%.' || b.suffix)
            GROUP BY 1
        """,
        "tfidf_top_terms": """
            WITH words AS (
                SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            ), tf AS (
                SELECT doc_id, w, count(*) AS tf FROM words GROUP BY 1, 2
            ), dfreq AS (
                SELECT w, count(*) AS df FROM tf GROUP BY 1
            ), nd AS (
                SELECT count(*) AS n_docs FROM documents
            )
            SELECT doc_id, w, tf, round(tf * n_docs / df, 6) AS tfidf
            FROM tf JOIN dfreq USING (w) CROSS JOIN nd
            WHERE doc_id % 17 = 0
            QUALIFY row_number() OVER (
                PARTITION BY doc_id
                ORDER BY tf * n_docs / df DESC, w ASC) <= 3
        """,
        "bigram_lm_scores": """
            WITH toks AS (
                SELECT doc_id,
                       generate_subscripts(string_split(lower(text), ' '), 1)
                           AS pos,
                       unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            ), bg AS (
                SELECT * FROM (
                    SELECT doc_id, w AS w1,
                           lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
                               AS w2
                    FROM toks
                ) WHERE w2 IS NOT NULL
            ), c2 AS (
                SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY 1, 2
            ), c1 AS (
                SELECT w1, count(*) AS n1 FROM bg GROUP BY 1
            ), scored AS (
                SELECT b.doc_id,
                       CAST(floor(n2 * 1000000 / n1) AS BIGINT) AS q
                FROM bg b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
                WHERE b.doc_id % 13 = 0
            )
            SELECT doc_id, count(*) AS n_bigrams,
                   CAST(sum(q) AS BIGINT) AS lm_score_sum,
                   round(CAST(sum(q) AS BIGINT) / count(*), 4)
                       AS avg_bigram_q
            FROM scored GROUP BY 1
        """,
        "normalized_dedup": f"""
            WITH v AS (
                SELECT doc_id,
                       unnest([text,
                               regexp_replace(
                                   translate(text, ' -',
                                             chr(8195) || chr(8211)),
                                   'e', 'e' || chr(8203), 'g')]) AS v
                FROM documents WHERE doc_id < 300
            )
            SELECT doc_id,
                   count(*) AS n_variants,
                   count(DISTINCT v) AS n_raw_forms,
                   count(DISTINCT md5({_NORM_V_SQL})) AS n_norm_forms,
                   min(md5({_NORM_V_SQL})) AS norm_fp
            FROM v GROUP BY doc_id
        """,
        "rank_prioritized_docs": f"""
            WITH {_LINK_EDGES_SQL},
            edges AS (
                SELECT src_h, dst_h, CAST(count(*) AS DOUBLE) AS w
                FROM links GROUP BY src_h, dst_h
            ),
            nodes AS (
                SELECT DISTINCT h FROM (
                    SELECT src_h AS h FROM edges
                    UNION ALL SELECT dst_h FROM edges
                )
            ),
            nc AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM nodes),
            outw AS (SELECT src_h, sum(w) AS ow FROM edges GROUP BY src_h),
            r0 AS (
                SELECT h, CAST(1 AS DOUBLE) / nc.c AS r
                FROM nodes CROSS JOIN nc
            ),
            {_pagerank_iter_sql("0", "1")},
            {_pagerank_iter_sql("1", "2")},
            {_pagerank_iter_sql("2", "3")},
            top_hosts AS (
                SELECT 'h' || CAST(h AS VARCHAR) || '.example.com' AS host,
                       round(r, 6) AS host_pr
                FROM r3
                ORDER BY round(r, 6) DESC, host ASC
                LIMIT 8
            )
            SELECT d.doc_id,
                   'h' || CAST(d.doc_id % 23 AS VARCHAR) || '.example.com'
                       AS host,
                   t.host_pr
            FROM documents d
            JOIN top_hosts t
              ON t.host = 'h' || CAST(d.doc_id % 23 AS VARCHAR)
                          || '.example.com'
        """,
        "quality_funnel": f"""
            WITH noisy AS (
                SELECT CASE doc_id % 7
                    WHEN 0 THEN text || ' !!!###$$$%%%&&&*** ((()))___+++===???'
                    WHEN 1 THEN text || ' 101 202 303 404 505 606 707 808 909 111 222 333'
                    WHEN 2 THEN text || ' ' || repeat('z', 200) || ' '
                                || repeat('z', 200) || ' ' || repeat('z', 200)
                    ELSE text END AS text
                FROM documents
            ), base AS (
                SELECT text, ' ' || lower(text) || ' ' AS p FROM noisy
            ), labeled AS (
                SELECT CASE
                    WHEN (({wc}) >= 15) IS NOT TRUE THEN 'min_words'
                    WHEN (({wc}) <= 95) IS NOT TRUE THEN 'max_words'
                    WHEN (length(regexp_replace(text, '\\s', '', 'g')) / ({wc}) >= 2.0
                          AND length(regexp_replace(text, '\\s', '', 'g')) / ({wc}) <= 12.0)
                         IS NOT TRUE THEN 'mean_word_len'
                    WHEN (({punct}) <= 0.1) IS NOT TRUE THEN 'punct_ratio'
                    WHEN (len(regexp_extract_all(text, '[0-9]+')) / ({wc}) <= 0.1)
                         IS NOT TRUE THEN 'digit_frac'
                    WHEN (({stop_ratio}) >= 0.02) IS NOT TRUE THEN 'stopword_floor'
                    ELSE 'keep' END AS rule
                FROM base
            ), counts AS (
                SELECT rule, count(*) AS n FROM labeled GROUP BY rule
            ), dim AS (
                SELECT * FROM (VALUES
                    (1, 'min_words'), (2, 'max_words'), (3, 'mean_word_len'),
                    (4, 'punct_ratio'), (5, 'digit_frac'), (6, 'stopword_floor')
                ) AS d(rule_idx, rule)
            ), tot AS (SELECT sum(n) AS t FROM counts),
            j AS (
                SELECT d.rule_idx, d.rule, COALESCE(c.n, 0) AS n_dropped
                FROM dim d LEFT JOIN counts c USING (rule)
            )
            SELECT rule_idx, rule, n_in, n_dropped,
                   n_in - n_dropped AS n_out
            FROM (
                SELECT rule_idx, rule,
                       CAST(t - COALESCE(sum(n_dropped) OVER (
                           ORDER BY rule_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS BIGINT) AS n_in,
                       CAST(n_dropped AS BIGINT) AS n_dropped
                FROM j CROSS JOIN tot
            )
        """,
        "robots_filter": f"""
            WITH pages AS (
                SELECT doc_id, source || '.example.com' AS host,
                       CASE doc_id % 6
                           WHEN 0 THEN '/admin/' || CAST(doc_id % 50 AS VARCHAR)
                           WHEN 1 THEN '/static/js/' || CAST(doc_id % 50 AS VARCHAR)
                           WHEN 2 THEN '/article/' || CAST(doc_id % 50 AS VARCHAR)
                           WHEN 3 THEN '/article/draft/' || CAST(doc_id % 50 AS VARCHAR)
                           WHEN 4 THEN '/'
                           ELSE '/api/v1/' || CAST(doc_id % 50 AS VARCHAR)
                       END AS path
                FROM documents
            ), rules AS (
                SELECT * FROM (VALUES {_robots_rules_sql()}) AS r(host, prefix, allow)
            ), decided AS (
                SELECT p.doc_id, p.host,
                       max(CASE WHEN r.prefix IS NOT NULL
                                     AND starts_with(p.path, r.prefix)
                                THEN length(r.prefix) * 2 + CAST(r.allow AS INT)
                                ELSE -1 END) AS rnk
                FROM pages p LEFT JOIN rules r ON p.host = r.host
                GROUP BY p.doc_id, p.host
            )
            SELECT host,
                   CAST(sum(CASE WHEN rnk < 0 OR rnk % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
                   CAST(sum(CASE WHEN rnk < 0 OR rnk % 2 = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_blocked,
                   CAST(sum(CASE WHEN rnk < 0 OR rnk % 2 = 1 THEN doc_id ELSE 0 END) AS BIGINT) AS allowed_id_sum
            FROM decided GROUP BY host
        """,
        "politeness_schedule": """
            WITH f AS (
                SELECT 'h' || CAST(user_id % 25 AS VARCHAR) AS host,
                       epoch_us(ts) AS ts_us, event_id
                FROM events
            ), staged AS (
                SELECT host, ts_us, event_id,
                       CAST(row_number() OVER w - 1 AS BIGINT) AS k,
                       ts_us - CAST(row_number() OVER w - 1 AS BIGINT) * 5000000 AS base
                FROM f WINDOW w AS (PARTITION BY host ORDER BY ts_us, event_id)
            ), sched AS (
                SELECT host, ts_us,
                       k * 5000000 + max(base) OVER (
                           PARTITION BY host ORDER BY ts_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS sched_us
                FROM staged
            )
            SELECT host, count(*) AS n_fetches,
                   CAST(sum(sched_us - ts_us) AS BIGINT) AS total_wait_us,
                   CAST(max(sched_us) - min(ts_us) AS BIGINT) AS makespan_us
            FROM sched GROUP BY host
        """,
        "perplexity_buckets": """
            WITH toks AS (
                SELECT doc_id,
                       generate_subscripts(string_split(lower(text), ' '), 1) AS pos,
                       unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            ), bg AS (
                SELECT * FROM (
                    SELECT doc_id, w AS w1,
                           lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
                    FROM toks
                ) WHERE w2 IS NOT NULL
            ), c2 AS (
                SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY 1, 2
            ), c1 AS (
                SELECT w1, count(*) AS n1 FROM bg GROUP BY 1
            ), per_doc AS (
                SELECT b.doc_id,
                       round(sum(CAST(floor(n2 * 1000000 / n1) AS BIGINT)) / count(*), 4) AS avg_q
                FROM bg b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
                GROUP BY b.doc_id
            ), scored AS (
                SELECT p.doc_id, p.avg_q, d.lang
                FROM per_doc p JOIN documents d USING (doc_id)
            ), dist AS (
                SELECT lang, avg_q, count(*) AS c,
                       CAST(sum(doc_id) AS BIGINT) AS ids,
                       min(avg_q) AS mn, max(avg_q) AS mx
                FROM scored GROUP BY lang, avg_q
            ), cum AS (
                SELECT lang, avg_q, c, ids,
                       sum(c) OVER (PARTITION BY lang ORDER BY avg_q
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_le,
                       sum(c) OVER (PARTITION BY lang) AS n
                FROM dist
            ), lab AS (
                SELECT lang, avg_q, c, ids,
                       CAST(floor((3 * cum_le + n - 1) / n) AS INT) AS idx
                FROM cum
            )
            SELECT lang,
                   CASE idx WHEN 1 THEN 'tail' WHEN 2 THEN 'middle'
                            ELSE 'head' END AS bucket,
                   CAST(sum(c) AS BIGINT) AS n_docs,
                   CAST(sum(ids) AS BIGINT) AS id_sum,
                   min(avg_q) AS min_q, max(avg_q) AS max_q
            FROM lab GROUP BY 1, 2
        """,
        "encoding_anomalies": f"""
            WITH corrupted AS (
                SELECT doc_id,
                       CASE doc_id % 9
                           WHEN 0 THEN replace(text, 'e', 'Ã©')
                           WHEN 1 THEN text || ' â€œquotedâ€' || chr(157)
                                       || ' Â· â€“ mixed'
                           WHEN 2 THEN replace(text, 'a', chr(65533))
                           WHEN 3 THEN text || chr(7) || chr(1) || chr(31)
                           ELSE text END AS text
                FROM documents
            ), sig AS (
                SELECT doc_id, text,
                       {_moji_sql()} AS n_mojibake,
                       (length(text) - length(replace(text, chr(65533), ''))) AS n_repl,
                       len(regexp_extract_all(text,
                           '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')) AS n_ctrl
                FROM corrupted
            )
            SELECT doc_id, n_mojibake, n_repl, n_ctrl,
                   CASE WHEN length(text) = 0 THEN 0.0
                        ELSE round((2 * n_mojibake + n_repl + n_ctrl)
                                   / length(text), 6) END AS anomaly
            FROM sig
        """,
        "corpus_card": f"""
            WITH sig AS (
                SELECT doc_id, lang,
                       {wc} AS wcnt,
                       CAST(round(round((
                           (CASE WHEN {wc} >= 20 THEN 1.0 ELSE {wc} / 20.0 END) +
                           (CASE WHEN {punct} <= 0.2 THEN 1.0
                                 ELSE greatest(0.0, 1.0 - ({punct} - 0.2) * 5) END) +
                           (CASE WHEN {stop_ratio} >= 0.05 THEN 1.0
                                 ELSE {stop_ratio} / 0.05 END)
                       ) / 3.0, 4) * 10000) AS BIGINT) AS q_e4,
                       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
                       CASE WHEN ({wc}) >= 15 AND ({wc}) <= 95
                                 AND length(regexp_replace(text, '\\s', '', 'g')) / ({wc}) >= 2.0
                                 AND length(regexp_replace(text, '\\s', '', 'g')) / ({wc}) <= 12.0
                                 AND ({punct}) <= 0.1
                                 AND len(regexp_extract_all(text, '[0-9]+')) / ({wc}) <= 0.1
                                 AND ({stop_ratio}) >= 0.02
                            THEN 1 ELSE 0 END AS keep
                FROM (SELECT doc_id, lang, text, ' ' || lower(text) || ' ' AS p
                      FROM documents)
            ), fpc AS (
                SELECT fp, count(*) AS c FROM sig GROUP BY fp
            ), j AS (
                SELECT s.*, f.c FROM sig s JOIN fpc f USING (fp)
            )
            SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang_g,
                   count(*) AS n_docs,
                   CAST(sum(wcnt) AS BIGINT) AS total_words,
                   CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
                   round(CAST(sum(q_e4) AS BIGINT) / count(*), 4) AS mean_quality_e4,
                   CAST(sum(keep) AS BIGINT) AS n_kept
            FROM j
            GROUP BY GROUPING SETS ((lang), ())
        """,
        "winnow_pairs": """
            WITH norm AS (
                SELECT doc_id,
                       lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS s
                FROM documents WHERE doc_id < 100
            ), hashed AS (
                SELECT doc_id,
                       list_transform(
                           generate_series(1, greatest(0, length(s) - 7)),
                           i -> md5(substr(s, i, 8))) AS gh
                FROM norm
            ), winnowed AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(1, greatest(0, len(gh) - 5)),
                           i -> list_min(gh[i:i+5]))) AS fps
                FROM hashed
                WHERE len(gh) >= 6
            ), fps AS (
                SELECT doc_id, unnest(fps) AS fp FROM winnowed
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM fps a JOIN fps b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING count(*) >= 10
        """,
        "boilerplate_lines": """
            WITH twin AS (
                SELECT doc_id, source,
                       'HEADER ' || source || chr(10)
                       || CASE WHEN doc_id % 5 = 0
                               THEN 'NAV | Home | About' || chr(10) ELSE '' END
                       || text
                       || CASE WHEN doc_id % 2 = 0
                               THEN chr(10) || 'Copyright Example Corp' ELSE '' END
                           AS t
                FROM documents
            ), lined AS (
                SELECT doc_id, source,
                       generate_subscripts(string_split(t, chr(10)), 1) AS lidx,
                       unnest(string_split(t, chr(10))) AS line
                FROM twin
            ), freq AS (
                SELECT source, line, count(DISTINCT doc_id) AS nd
                FROM lined WHERE length(line) >= 1
                GROUP BY 1, 2
            ), flagged AS (
                SELECT l.doc_id, l.source, l.lidx, l.line,
                       CASE WHEN length(l.line) < 1 THEN TRUE
                            WHEN f.nd IS NULL OR f.nd < 3 THEN TRUE
                            ELSE FALSE END AS kept
                FROM lined l
                LEFT JOIN freq f ON f.source = l.source AND f.line = l.line
            )
            SELECT doc_id, source,
                   md5(coalesce(string_agg(line, chr(10) ORDER BY lidx)
                                FILTER (WHERE kept), '')) AS text_fp,
                   CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
                   CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_lines_dropped
            FROM flagged GROUP BY 1, 2
        """,
        "crawl_budget": """
            WITH demands AS (
                SELECT 'h' || CAST(user_id % 40 AS VARCHAR) AS host,
                       count(*) AS demand
                FROM events GROUP BY 1
            ), hist AS (
                SELECT demand AS v, count(*) AS nh FROM demands GROUP BY 1
                UNION ALL SELECT 0, 0
            ), cum AS (
                SELECT v, nh,
                       sum(v * nh) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) AS cum_d,
                       sum(nh) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) AS cum_nh,
                       sum(nh) OVER () AS tot_nh
                FROM hist
            ), bp0 AS (
                SELECT v, (tot_nh - cum_nh) AS n_gt,
                       (cum_d + v * (tot_nh - cum_nh)) AS A
                FROM cum
                WHERE (cum_d + v * (tot_nh - cum_nh)) <= 6000
                ORDER BY v DESC LIMIT 1
            ), bp AS (
                SELECT CASE WHEN n_gt > 0
                            THEN v + CAST(floor((6000 - A) / n_gt) AS BIGINT)
                            ELSE v END AS level,
                       A, v, n_gt
                FROM bp0
            ), bp2 AS (
                SELECT level,
                       6000 - (A + (level - v) * n_gt) AS leftover
                FROM bp
            ), ranked AS (
                SELECT d.host, d.demand, b.level, b.leftover,
                       d.demand > b.level AS capped,
                       CASE WHEN d.demand > b.level THEN
                           row_number() OVER (
                               PARTITION BY (d.demand > b.level)
                               ORDER BY d.demand DESC, d.host ASC)
                       END AS rk
                FROM demands d CROSS JOIN bp2 b
            )
            SELECT host, CAST(demand AS BIGINT) AS demand,
                   CAST(least(demand, level)
                        + CASE WHEN capped AND rk <= leftover THEN 1 ELSE 0 END
                        AS BIGINT) AS alloc
            FROM ranked
        """,
        "exact_substring_dedup": """
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS t FROM documents
            ), wins AS (
                SELECT doc_id, i - 1 AS widx,
                       md5(array_to_string(t[i:i+7], ' ')) AS digest
                FROM toks, unnest(range(1, len(t) - 8 + 2)) AS u(i)
            ), dup AS (
                SELECT digest FROM wins GROUP BY 1 HAVING count(*) >= 2
            ), starts AS (
                SELECT doc_id, widx FROM wins
                WHERE digest IN (SELECT digest FROM dup)
            ), tokrows AS (
                SELECT doc_id,
                       generate_subscripts(t, 1) - 1 AS tidx,
                       unnest(t) AS tok
                FROM toks
            ), kept AS (
                SELECT r.doc_id, r.tidx, r.tok,
                       NOT EXISTS (
                           SELECT 1 FROM starts s
                           WHERE s.doc_id = r.doc_id
                             AND r.tidx >= s.widx AND r.tidx < s.widx + 8
                       ) AS keep
                FROM tokrows r
            )
            SELECT doc_id,
                   md5(coalesce(string_agg(tok, ' ' ORDER BY tidx)
                                FILTER (WHERE keep), '')) AS text_fp,
                   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_tokens_kept,
                   CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
                       AS n_tokens_dropped
            FROM kept GROUP BY 1
        """,
        "exact_substring_bytes": """
            WITH wins AS (
                SELECT doc_id, u.off AS off,
                       md5(substring(text, u.off + 1, 40)) AS digest
                FROM documents,
                     LATERAL unnest(range(0, length(text) - 40 + 1)) AS u(off)
            ), dup AS (
                SELECT digest FROM wins GROUP BY 1 HAVING count(*) >= 2
            ), starts AS (
                SELECT doc_id, off FROM wins
                WHERE digest IN (SELECT digest FROM dup)
            ), covered AS (
                SELECT DISTINCT s.doc_id, s.off + d.d AS pos
                FROM starts s, LATERAL unnest(range(0, 40)) AS d(d)
            ), chars AS (
                SELECT doc_id, u.i - 1 AS pos, substring(text, u.i, 1) AS ch
                FROM documents,
                     LATERAL unnest(range(1, length(text) + 1)) AS u(i)
            ), kept AS (
                SELECT c.doc_id, c.pos, c.ch, cv.pos IS NULL AS keep
                FROM chars c
                LEFT JOIN covered cv
                  ON cv.doc_id = c.doc_id AND cv.pos = c.pos
            )
            SELECT doc_id,
                   md5(coalesce(string_agg(ch, '' ORDER BY pos)
                                FILTER (WHERE keep), '')) AS text_fp,
                   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_bytes_kept,
                   CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
                       AS n_bytes_dropped
            FROM kept GROUP BY 1
        """,
        "phrase_search": f"""
            WITH w AS (
                SELECT doc_id, string_split(lower(text), ' ') AS ws
                FROM documents
            ), toks AS (
                SELECT doc_id, i - 1 AS pos, ws[i] AS term
                FROM w, unnest(generate_series(1, len(ws))) AS t(i)
            ), ph AS (
                SELECT query_id, string_split(lower(phrase), ' ') AS ps
                FROM (VALUES {_phrase_values()}) AS v(query_id, phrase)
            ), pt AS (
                SELECT query_id, i - 1 AS i, ps[i] AS term
                FROM ph, unnest(generate_series(1, len(ps))) AS t(i)
            ), pl AS (
                SELECT query_id, count(*) AS m FROM pt GROUP BY 1
            ), cand AS (
                SELECT pt.query_id, toks.doc_id, toks.pos - pt.i AS s, pt.i
                FROM toks JOIN pt ON toks.term = pt.term
                WHERE toks.pos - pt.i >= 0
            ), st AS (
                SELECT query_id, doc_id, s, count(DISTINCT i) AS hit
                FROM cand GROUP BY 1, 2, 3
            ), fm AS (
                SELECT st.query_id, st.doc_id, st.s
                FROM st JOIN pl ON pl.query_id = st.query_id
                WHERE st.hit = pl.m
            )
            SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_matches,
                   CAST(min(s) AS BIGINT) AS first_pos
            FROM fm GROUP BY 1, 2
        """,
        "bm25_topk": f"""
            WITH qt(query_id, term) AS (VALUES {_bm25_queries_sql()}),
            toks AS (
                SELECT doc_id,
                       len(string_split(text, ' ')) AS dl,
                       unnest(string_split(lower(text), ' ')) AS term
                FROM documents
            ), tf AS (
                SELECT term, doc_id, dl, count(*) AS tf
                FROM toks
                WHERE term IN (SELECT DISTINCT term FROM qt)
                GROUP BY 1, 2, 3
            ), dfd AS (
                SELECT term, count(*) AS df FROM tf GROUP BY 1
            ), stats AS (
                SELECT count(*) AS n,
                       sum(len(string_split(text, ' '))) / count(*) AS avgdl
                FROM documents
            ), contrib AS (
                SELECT q.query_id, t.doc_id,
                       CAST(floor(
                           1e6
                           * ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                           * ((t.tf * 2.2)
                              / (t.tf + 1.2 * (1.0 - 0.75
                                               + 0.75 * t.dl / s.avgdl)))
                       ) AS BIGINT) AS qv
                FROM tf t
                JOIN qt q USING (term)
                JOIN dfd d USING (term)
                CROSS JOIN stats s
            ), scored AS (
                SELECT query_id, doc_id,
                       CAST(sum(qv) AS BIGINT) AS bm25_scaled
                FROM contrib GROUP BY 1, 2
            )
            SELECT query_id, doc_id, bm25_scaled, CAST(rnk AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY bm25_scaled DESC, doc_id ASC) AS rnk
                FROM scored
            ) WHERE rnk <= 10
        """,
        "dsir_weights": """
            WITH toks AS (
                SELECT doc_id, lang = 'en' AS t,
                       substr(md5(unnest(string_split(lower(text), ' '))),
                              1, 2) AS b
                FROM documents
            ), c AS (
                SELECT doc_id, b, count(*) AS c, bool_or(t) AS t
                FROM toks GROUP BY 1, 2
            ), raw AS (
                SELECT b, CAST(sum(c) AS BIGINT) AS cq FROM c GROUP BY 1
            ), tgt AS (
                SELECT b, CAST(sum(c) AS BIGINT) AS ct
                FROM c WHERE t GROUP BY 1
            ), totals AS (
                SELECT (SELECT CAST(sum(cq) AS BIGINT) FROM raw) AS tq,
                       (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS tt
            ), dim AS (
                SELECT r.b,
                       CAST(floor(1e6 * ln(
                           ((coalesce(g.ct, 0) + 1) / (s.tt + 256))
                           / ((r.cq + 1) / (s.tq + 256))
                       )) AS BIGINT) AS lr
                FROM raw r LEFT JOIN tgt g USING (b) CROSS JOIN totals s
            )
            SELECT c.doc_id,
                   CAST(sum(c.c * d.lr) AS BIGINT) AS dsir_scaled,
                   CAST(sum(c.c) AS BIGINT) AS n_tokens
            FROM c JOIN dim d USING (b)
            GROUP BY 1
        """,
        "contamination_report": """
            WITH sh5 AS (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, greatest(0,
                               len(string_split(lower(text), ' ')) - 4)),
                           i -> array_to_string(
                               string_split(lower(text), ' ')[i:i+4], ' ')))
                           AS sh
                FROM documents
            ), b AS (
                SELECT DISTINCT doc_id, sh FROM sh5 WHERE doc_id % 10 = 7
            ), totals AS (
                SELECT doc_id, count(*) AS n_shingles FROM b GROUP BY 1
            ), hits AS (
                SELECT DISTINCT sh FROM sh5
                WHERE doc_id % 10 != 7
                  AND sh IN (SELECT sh FROM b)
            ), matched AS (
                SELECT doc_id, count(*) AS n_matched
                FROM b WHERE sh IN (SELECT sh FROM hits)
                GROUP BY 1
            )
            SELECT t.doc_id,
                   CAST(t.n_shingles AS BIGINT) AS n_shingles,
                   CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
                   round(coalesce(m.n_matched, 0) / t.n_shingles, 4)
                       AS overlap_pct,
                   coalesce(m.n_matched, 0) / t.n_shingles >= 0.3 AS dirty
            FROM totals t LEFT JOIN matched m USING (doc_id)
        """,
        "balanced_shards": """
            SELECT doc_id, n_chars, rank,
                   CAST(CASE WHEN ((rank - 1) // 7) % 2 = 0
                             THEN (rank - 1) % 7
                             ELSE 6 - ((rank - 1) % 7) END AS INT) AS shard
            FROM (
                SELECT doc_id, n_chars,
                       row_number() OVER (ORDER BY n_chars DESC, doc_id ASC)
                           AS rank
                FROM documents
            )
        """,
        "vocab_coverage": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            ), freq AS (
                SELECT w, count(*) AS n FROM toks GROUP BY 1
            ), vocab AS (
                SELECT w FROM (
                    SELECT w, row_number() OVER (ORDER BY n DESC, w ASC) AS r
                    FROM freq
                ) WHERE r <= 20
            )
            SELECT t.doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov,
                   round(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                         / count(*), 4) AS oov_pct
            FROM toks t LEFT JOIN vocab v ON v.w = t.w
            GROUP BY 1
        """,
        "alpha_sampling_quotas": """
            WITH counts AS (
                SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1
            ), w AS (
                SELECT lang, n_docs,
                       CAST(floor(1e6 * sqrt(n_docs)) AS BIGINT) AS w
                FROM counts
            ), dim AS (
                SELECT lang, n_docs, w,
                       (SELECT CAST(sum(w) AS BIGINT) FROM w) AS tw
                FROM w
            ), based AS (
                SELECT lang, n_docs, w,
                       (1000 * w) // tw AS base,
                       (1000 * w) % tw AS rem
                FROM dim
            ), lx AS (
                SELECT 1000 - CAST(sum(base) AS BIGINT) AS leftover
                FROM based
            ), ranked AS (
                SELECT *, row_number() OVER (ORDER BY rem DESC, lang ASC)
                           AS rk
                FROM based
            )
            SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
                   w AS weight_scaled,
                   CAST(base + CASE WHEN rk <= (SELECT leftover FROM lx)
                                    THEN 1 ELSE 0 END AS BIGINT) AS quota
            FROM ranked
        """,
        "category_drift": """
            WITH counts AS (
                SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                       event_type AS cat, count(*) AS n
                FROM events GROUP BY 1, 2
            ), dense AS (
                SELECT d.day, c.cat, coalesce(k.n, 0) AS n
                FROM (SELECT DISTINCT day FROM counts) d
                CROSS JOIN (SELECT DISTINCT cat FROM counts) c
                LEFT JOIN counts k ON k.day = d.day AND k.cat = c.cat
            ), tot AS (
                SELECT day, CAST(sum(n) AS BIGINT) AS n_tot
                FROM dense GROUP BY 1
            ), pair AS (
                SELECT a.day, a.cat, a.n, b.n AS n_prev,
                       ta.n_tot, tb.n_tot AS n_prev_tot
                FROM dense a
                JOIN dense b ON b.day + 1 = a.day AND b.cat = a.cat
                JOIN tot ta ON ta.day = a.day
                JOIN tot tb ON tb.day + 1 = a.day
            )
            SELECT strftime(day, '%Y-%m-%d') AS day,
                   CAST(sum(abs(n * n_prev_tot - n_prev * n_tot))
                        AS BIGINT) AS tvd_num,
                   CAST(2 * max(n_tot) * max(n_prev_tot) AS BIGINT)
                       AS tvd_den,
                   round(CAST(sum(abs(n * n_prev_tot - n_prev * n_tot))
                              AS BIGINT)
                         / CAST(2 * max(n_tot) * max(n_prev_tot) AS BIGINT),
                         6) AS tvd
            FROM pair GROUP BY 1
        """,
        "source_quality_priors": f"""
            WITH q AS (
                SELECT source,
                       CAST(round(round((
                           (CASE WHEN {wc} >= 20 THEN 1.0 ELSE {wc} / 20.0 END) +
                           (CASE WHEN {punct} <= 0.2 THEN 1.0
                                 ELSE greatest(0.0, 1.0 - ({punct} - 0.2) * 5) END) +
                           (CASE WHEN {stop_ratio} >= 0.05 THEN 1.0
                                 ELSE {stop_ratio} / 0.05 END)
                       ) / 3.0, 4) * 10000) AS BIGINT) AS q_e4
                FROM (SELECT source, text, ' ' || lower(text) || ' ' AS p
                      FROM documents)
            ), g AS (
                SELECT source, CAST(sum(q_e4) AS BIGINT) AS s,
                       CAST(count(*) AS BIGINT) AS n
                FROM q GROUP BY 1
            ), tot AS (
                SELECT CAST(sum(s) AS BIGINT) AS sg,
                       CAST(sum(n) AS BIGINT) AS ng
                FROM g
            )
            SELECT source, n,
                   round(s / n, 4) AS mean_raw,
                   round((s + 20 * (sg / ng)) / (n + 20), 4) AS mean_shrunk
            FROM g CROSS JOIN tot
        """,
        "pmi_collocations": """
            WITH toks AS (
                SELECT doc_id,
                       generate_subscripts(string_split(lower(text), ' '), 1)
                           AS pos,
                       unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            ), bg AS (
                SELECT * FROM (
                    SELECT w AS w1,
                           lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
                               AS w2
                    FROM toks
                ) WHERE w2 IS NOT NULL
            ), c2 AS (
                SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY 1, 2
            ), c1 AS (
                SELECT w, count(*) AS n1 FROM toks GROUP BY 1
            ), tot AS (
                SELECT (SELECT CAST(count(*) AS BIGINT) FROM toks) AS nu,
                       (SELECT CAST(count(*) AS BIGINT) FROM bg) AS nb
            ), cand AS (
                SELECT c2.w1, c2.w2, c2.n2,
                       a.n1 AS c1a, b.n1 AS c1b, t.nu, t.nb
                FROM c2
                JOIN c1 a ON a.w = c2.w1
                JOIN c1 b ON b.w = c2.w2
                CROSS JOIN tot t
                WHERE c2.n2 >= 5
            ), ranked AS (
                SELECT w1, w2, CAST(n2 AS BIGINT) AS n2,
                       CAST(floor(1e6 * ln(
                           (n2 * nu * nu) / (nb * c1a * c1b)
                       )) AS BIGINT) AS pmi_scaled
                FROM cand
            )
            SELECT w1, w2, n2, pmi_scaled, CAST(rnk AS INT) AS rnk
            FROM (
                SELECT *, row_number() OVER (
                    ORDER BY pmi_scaled DESC, w1 ASC, w2 ASC) AS rnk
                FROM ranked
            ) WHERE rnk <= 20
        """,
        "source_concentration": """
            WITH per AS (
                SELECT source, count(*) AS n FROM documents GROUP BY 1
            ), agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_sources,
                       CAST(sum(n * n) AS BIGINT) AS hhi_num,
                       CAST(sum(n) * sum(n) AS BIGINT) AS hhi_den,
                       CAST(max(n) AS BIGINT) AS top_n,
                       CAST(sum(n) AS BIGINT) AS n_total
                FROM per
            )
            SELECT n_sources, hhi_num, hhi_den,
                   round(hhi_num / hhi_den, 6) AS hhi,
                   round(top_n / n_total, 6) AS top_share
            FROM agg
        """,
        "dedup_cascade": f"""
            WITH ex AS (
                SELECT doc_id, text, md5(text) AS dig FROM documents
            ), exkeep AS (
                SELECT dig, min(doc_id) AS keep FROM ex GROUP BY 1
            ), exflag AS (
                SELECT e.doc_id, e.text, e.doc_id != k.keep AS drop_exact
                FROM ex e JOIN exkeep k USING (dig)
            ), surv1 AS (
                SELECT doc_id, text FROM exflag WHERE NOT drop_exact
            ), nrm AS (
                SELECT doc_id, text,
                       md5({normalize_text_sql("text", casefold=True)}) AS dig
                FROM surv1
            ), nkeep AS (
                SELECT dig, min(doc_id) AS keep FROM nrm GROUP BY 1
            ), nflag AS (
                SELECT n.doc_id, n.text, n.doc_id != k.keep AS drop_norm
                FROM nrm n JOIN nkeep k USING (dig)
            ), surv2 AS (
                SELECT doc_id, text FROM nflag WHERE NOT drop_norm
            ), hashed AS (
                SELECT doc_id,
                       list_transform(wsh, x -> md5('0|' || x)) AS h0,
                       list_transform(wsh, x -> md5('1|' || x)) AS h1
                FROM (SELECT doc_id, {shingle5} AS wsh FROM surv2)
            ), sigs AS (
                SELECT doc_id, [{window_mins}] AS sig FROM hashed
            ), banded AS (
                SELECT doc_id, unnest([{band_keys}]) AS band_key FROM sigs
            ), drop3 AS (
                SELECT DISTINCT b.doc_id
                FROM banded a JOIN banded b USING (band_key)
                WHERE a.doc_id < b.doc_id
            )
            SELECT d.doc_id,
                   CASE WHEN ef.drop_exact THEN 'exact'
                        WHEN nf.drop_norm THEN 'normalized'
                        WHEN d3.doc_id IS NOT NULL THEN 'near'
                        ELSE 'kept' END AS stage
            FROM documents d
            LEFT JOIN exflag ef ON ef.doc_id = d.doc_id
            LEFT JOIN nflag nf ON nf.doc_id = d.doc_id
            LEFT JOIN drop3 d3 ON d3.doc_id = d.doc_id
        """,
        "score_calibration": f"""
            WITH scored AS (
                SELECT doc_id, source,
                       round((
                           (CASE WHEN {wc} >= 20 THEN 1.0
                                 ELSE {wc} / 20.0 END) +
                           (CASE WHEN {punct} <= 0.2 THEN 1.0
                                 ELSE greatest(0.0,
                                               1.0 - ({punct} - 0.2) * 5) END) +
                           (CASE WHEN {stop_ratio} >= 0.05 THEN 1.0
                                 ELSE {stop_ratio} / 0.05 END)
                       ) / 3.0, 4) AS quality
                FROM (SELECT doc_id, source, text,
                             ' ' || lower(text) || ' ' AS p
                      FROM documents)
            )
            SELECT doc_id, source, quality,
                   round(percent_rank() OVER (PARTITION BY source
                                              ORDER BY quality ASC,
                                                       doc_id ASC),
                         6) AS pctile
            FROM scored
        """,
        "rendezvous_shards": """
            WITH cand AS (
                SELECT doc_id,
                       md5('hrw1|' || CAST(s AS VARCHAR) || '|'
                           || CAST(doc_id AS VARCHAR))
                       || ':' || lpad(CAST(s AS VARCHAR), 4, '0') AS wk
                FROM documents
                CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS s)
            )
            SELECT doc_id, CAST(substr(max(wk), 35, 4) AS INT) AS shard
            FROM cand GROUP BY doc_id
        """,
        "duplication_rate": """
            WITH occ AS (
                SELECT source,
                       unnest(list_transform(
                           generate_series(1, greatest(0,
                               len(string_split(lower(text), ' ')) - 4)),
                           i -> array_to_string(
                               string_split(lower(text), ' ')[i:i+4], ' ')))
                           AS sh
                FROM documents
            ), per_sg AS (
                SELECT source, sh, count(*) AS c FROM occ GROUP BY 1, 2
            ), tot AS (
                SELECT sh, CAST(sum(c) AS BIGINT) AS t FROM per_sg GROUP BY 1
            ), agg AS (
                SELECT p.source,
                       CAST(sum(p.c) AS BIGINT) AS n_grams,
                       CAST(sum(CASE WHEN t.t >= 2 THEN p.c ELSE 0 END)
                            AS BIGINT) AS n_dup_grams
                FROM per_sg p JOIN tot t USING (sh)
                GROUP BY 1
            )
            SELECT source, n_grams, n_dup_grams,
                   CAST((1000000 * n_dup_grams) // n_grams AS BIGINT)
                       AS dup_ppm
            FROM agg
        """,
        "ngram_novelty": """
            WITH sh5 AS (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, greatest(0,
                               len(string_split(lower(text), ' ')) - 4)),
                           i -> array_to_string(
                               string_split(lower(text), ' ')[i:i+4], ' ')))
                           AS sh
                FROM documents
            ), ref AS (
                SELECT DISTINCT sh FROM sh5 WHERE doc_id % 10 = 7
            ), corp AS (
                SELECT DISTINCT doc_id, sh FROM sh5 WHERE doc_id % 10 != 7
            ), agg AS (
                SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
                       CAST(sum(CASE WHEN r.sh IS NOT NULL THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_seen
                FROM corp c LEFT JOIN ref r USING (sh)
                GROUP BY 1
            )
            SELECT doc_id, n_shingles, n_seen,
                   CAST((1000000 * (n_shingles - n_seen)) // n_shingles
                        AS BIGINT) AS novelty_ppm
            FROM agg
        """,
        "curriculum_order": f"""
            WITH scored AS (
                SELECT doc_id,
                       round((
                           (CASE WHEN {wc} >= 20 THEN 1.0
                                 ELSE {wc} / 20.0 END) +
                           (CASE WHEN {punct} <= 0.2 THEN 1.0
                                 ELSE greatest(0.0,
                                               1.0 - ({punct} - 0.2) * 5) END) +
                           (CASE WHEN {stop_ratio} >= 0.05 THEN 1.0
                                 ELSE {stop_ratio} / 0.05 END)
                       ) / 3.0, 4) AS quality
                FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p
                      FROM documents)
            ), binned AS (
                SELECT doc_id, quality,
                       CAST(least(3, CAST(floor(quality * 4) AS INT)) AS INT)
                           AS bin,
                       md5('cur1:' || CAST(doc_id AS VARCHAR)) AS shuf
                FROM scored
            )
            SELECT doc_id, quality, bin,
                   CAST(row_number() OVER (PARTITION BY bin
                                           ORDER BY shuf ASC, doc_id ASC)
                        AS INT) AS pos_in_bin
            FROM binned
        """,
        "taxonomy_tags": f"""
            WITH tax AS (
                SELECT DISTINCT lower(term) AS term, topic
                FROM (VALUES {_taxonomy_values()}) AS t(term, topic)
            ), toks AS (
                SELECT doc_id,
                       unnest(string_split(lower(text), ' ')) AS tok
                FROM documents
            ), tagged AS (
                SELECT t.doc_id, x.topic, CAST(count(*) AS BIGINT) AS n_hits
                FROM toks t JOIN tax x ON t.tok = x.term
                GROUP BY 1, 2
            )
            SELECT d.lang, g.topic, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(g.n_hits) AS BIGINT) AS n_hits
            FROM tagged g JOIN documents d USING (doc_id)
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "bitext_alignment": """
            WITH l AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings WHERE label = 0),
            r AS (SELECT vec_id, embedding::DOUBLE[] AS v
                  FROM embeddings WHERE label = 1),
            s AS (
                SELECT l.vec_id AS src_id, r.vec_id AS tgt_id,
                       round(CASE WHEN sqrt(list_dot_product(l.v, l.v))
                                       * sqrt(list_dot_product(r.v, r.v)) = 0
                                  THEN 0.0
                                  ELSE list_dot_product(l.v, r.v)
                                       / (sqrt(list_dot_product(l.v, l.v))
                                          * sqrt(list_dot_product(r.v, r.v)))
                             END, 6) AS c
                FROM l CROSS JOIN r
            ), fwd AS (
                SELECT src_id, tgt_id, c,
                       row_number() OVER (PARTITION BY src_id
                                          ORDER BY c DESC, tgt_id ASC) AS rn
                FROM s
            ), f1 AS (
                SELECT src_id, tgt_id, c AS c1 FROM fwd WHERE rn = 1
            ), f2 AS (
                SELECT src_id, c AS c2 FROM fwd WHERE rn = 2
            ), bwd AS (
                SELECT tgt_id, src_id AS best_src FROM (
                    SELECT src_id, tgt_id,
                           row_number() OVER (PARTITION BY tgt_id
                                              ORDER BY c DESC, src_id ASC) AS rn
                    FROM s
                ) WHERE rn = 1
            )
            SELECT f1.src_id, f1.tgt_id, f1.c1 AS cos,
                   round(f1.c1 - f2.c2, 6) AS margin
            FROM f1 LEFT JOIN f2 USING (src_id)
            JOIN bwd ON bwd.tgt_id = f1.tgt_id AND bwd.best_src = f1.src_id
            ORDER BY f1.src_id
        """,
        "source_redundancy": """
            WITH src AS (
                SELECT d.source, e.embedding
                FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
            ), idx AS (
                SELECT CAST(unnest(generate_series(0, 63)) AS INT) AS d
            ), sums AS (
                SELECT source, i.d,
                       CAST(sum(CAST(floor(
                           CAST(embedding[i.d + 1] AS DOUBLE) * 1048576.0
                           + 0.5) AS BIGINT)) AS BIGINT) AS s
                FROM src CROSS JOIN idx i GROUP BY 1, 2
            ), cnt AS (
                SELECT source, CAST(count(*) AS BIGINT) AS n
                FROM src GROUP BY 1
            ), vecs AS (
                SELECT source, list(CAST(s AS DOUBLE) ORDER BY d) AS v
                FROM sums GROUP BY 1
            )
            SELECT a.source AS source_a, b.source AS source_b,
                   ca.n AS n_a, cb.n AS n_b,
                   round(list_dot_product(a.v, b.v)
                         / nullif(sqrt(list_dot_product(a.v, a.v))
                                  * sqrt(list_dot_product(b.v, b.v)), 0.0),
                         6) AS cos_centroid
            FROM vecs a JOIN vecs b ON a.source < b.source
            JOIN cnt ca ON ca.source = a.source
            JOIN cnt cb ON cb.source = b.source
        """,
        "pca_gram": """
            WITH q AS (
                SELECT list_transform(
                           embedding,
                           e -> CAST(floor(CAST(e AS DOUBLE) * 1048576.0
                                           + 0.5) AS BIGINT)) AS qs
                FROM embeddings
            ), idx AS (
                SELECT CAST(unnest(generate_series(0, 63)) AS INT) AS d
            ), pairs AS (
                SELECT a.d AS i, b.d AS j
                FROM idx a CROSS JOIN idx b WHERE b.d >= a.d
            )
            SELECT p.i, p.j,
                   CAST(sum(q.qs[p.i + 1] * q.qs[p.j + 1]) AS BIGINT) AS s
            FROM q CROSS JOIN pairs p GROUP BY 1, 2
            UNION ALL
            SELECT idx.d AS i, CAST(-1 AS INT) AS j,
                   CAST(sum(q.qs[idx.d + 1]) AS BIGINT) AS s
            FROM q CROSS JOIN idx GROUP BY 1, 2
            UNION ALL
            SELECT CAST(-1 AS INT), CAST(-1 AS INT),
                   CAST(count(*) AS BIGINT)
            FROM q
        """,
        "length_quantiles": """
            WITH v AS (
                SELECT lang, CAST(n_chars AS BIGINT) AS v
                FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0
            ), h AS (
                SELECT lang,
                       CASE WHEN v < 8 THEN CAST(v AS INT)
                            ELSE CAST((length(bin(v)) - 3) * 8
                                      + (v >> (length(bin(v)) - 4)) - 8 AS INT)
                       END AS bin_id
                FROM v
            ), hist AS (
                SELECT lang, bin_id, CAST(count(*) AS BIGINT) AS n
                FROM h GROUP BY 1, 2
            ), cum AS (
                SELECT lang, bin_id,
                       sum(n) OVER (PARTITION BY lang ORDER BY bin_id) AS c,
                       sum(n) OVER (PARTITION BY lang) AS nt
                FROM hist
            ), probes AS (
                SELECT cum.*, q.q_ppm
                FROM cum CROSS JOIN
                     (VALUES (500000), (900000), (990000)) q(q_ppm)
            ), best AS (
                SELECT lang, q_ppm, min(bin_id) AS bin_id,
                       CAST(max(nt) AS BIGINT) AS n_total
                FROM probes
                WHERE c >= (q_ppm * nt + 999999) // 1000000
                GROUP BY 1, 2
            )
            SELECT lang, q_ppm, n_total, bin_id,
                   CASE WHEN bin_id < 8 THEN CAST(bin_id AS BIGINT)
                        ELSE (CAST(1 AS BIGINT) << ((bin_id >> 3) + 2))
                             + CAST(bin_id & 7 AS BIGINT)
                               * (CAST(1 AS BIGINT) << ((bin_id >> 3) - 1))
                   END AS est_lo,
                   CASE WHEN bin_id < 8 THEN CAST(bin_id AS BIGINT)
                        ELSE (CAST(1 AS BIGINT) << ((bin_id >> 3) + 2))
                             + (CAST(bin_id & 7 AS BIGINT) + 1)
                               * (CAST(1 AS BIGINT) << ((bin_id >> 3) - 1)) - 1
                   END AS est_hi
            FROM best
        """,
        "vocab_growth": """
            WITH toks AS (
                SELECT CAST(doc_id % 10 AS INT) AS b,
                       unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            ), fanned AS (
                SELECT t.w, k.k AS sample_tenths
                FROM toks t
                JOIN (VALUES (2), (4), (6), (8), (10)) k(k) ON t.b < k.k
            ), st AS (
                SELECT sample_tenths, substr(md5(w), 1, 2) AS bucket,
                       trim(LEADING '0' FROM substr(md5(w), 3, 12)) AS s
                FROM fanned WHERE w IS NOT NULL
            ), regs AS (
                SELECT sample_tenths, bucket,
                       max(CASE WHEN s = '' THEN 49
                            ELSE 4 * (12 - length(s)) + 5
                                 - length(bin(instr('123456789abcdef',
                                                    substr(s, 1, 1))))
                       END) AS reg
                FROM st GROUP BY 1, 2
            ), agg AS (
                SELECT sample_tenths,
                       CAST(count(*) AS BIGINT) AS filled_buckets,
                       CAST(sum(CAST(1 AS BIGINT) << (49 - reg)) AS BIGINT)
                           AS ps
                FROM regs GROUP BY 1
            )
            SELECT sample_tenths, filled_buckets,
                   CAST(256 - filled_buckets AS BIGINT) AS zero_buckets,
                   CAST(ps + (256 - filled_buckets)
                             * (CAST(1 AS BIGINT) << 49) AS BIGINT)
                       AS scaled_sum,
                   round(__HLL_NUMER__
                         / CAST(ps + (256 - filled_buckets)
                                     * (CAST(1 AS BIGINT) << 49) AS DOUBLE),
                         4) AS est_raw
            FROM agg ORDER BY sample_tenths
        """.replace("__HLL_NUMER__", _hll_numer()),
        "hll_distinct_words": """
            WITH toks AS (
                SELECT lang, unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            ), st AS (
                SELECT lang, substr(md5(w), 1, 2) AS bucket,
                       trim(LEADING '0' FROM substr(md5(w), 3, 12)) AS s
                FROM toks WHERE w IS NOT NULL
            ), regs AS (
                SELECT lang, bucket,
                       max(CASE WHEN s = '' THEN 49
                            ELSE 4 * (12 - length(s)) + 5
                                 - length(bin(instr('123456789abcdef',
                                                    substr(s, 1, 1))))
                       END) AS reg
                FROM st GROUP BY 1, 2
            ), agg AS (
                SELECT lang, CAST(count(*) AS BIGINT) AS filled_buckets,
                       CAST(sum(CAST(1 AS BIGINT) << (49 - reg)) AS BIGINT)
                           AS ps
                FROM regs GROUP BY 1
            )
            SELECT lang, filled_buckets,
                   CAST(256 - filled_buckets AS BIGINT) AS zero_buckets,
                   CAST(ps + (256 - filled_buckets)
                             * (CAST(1 AS BIGINT) << 49) AS BIGINT)
                       AS scaled_sum,
                   round(__HLL_NUMER__
                         / CAST(ps + (256 - filled_buckets)
                                     * (CAST(1 AS BIGINT) << 49) AS DOUBLE),
                         4) AS est_raw
            FROM agg ORDER BY lang
        """.replace("__HLL_NUMER__", _hll_numer()),
        "cms_heavy_hitters": """
            WITH toks AS (
                SELECT unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            ), js AS (
                SELECT unnest([0, 1, 2, 3]) AS j
            ), sketch AS (
                SELECT j, substr(md5(w), j * 3 + 1, 3) AS cell,
                       CAST(count(*) AS BIGINT) AS c
                FROM toks CROSS JOIN js GROUP BY 1, 2
            ), probes AS (
                SELECT DISTINCT w FROM (
                    SELECT unnest(string_split(lower(text), ' ')) AS w
                    FROM documents WHERE doc_id % 37 = 0
                )
            ), probe_cells AS (
                SELECT p.w, s.j, substr(md5(p.w), s.j * 3 + 1, 3) AS cell
                FROM probes p CROSS JOIN js s
            ), est AS (
                SELECT pc.w,
                       CAST(min(coalesce(sk.c, 0)) AS BIGINT) AS est_count
                FROM probe_cells pc
                LEFT JOIN sketch sk USING (j, cell)
                GROUP BY 1
            )
            SELECT w AS token, est_count
            FROM est ORDER BY est_count DESC, w LIMIT 20
        """,
        "quality_classifier_scores": """
            WITH toks AS (
                SELECT doc_id,
                       substr(md5(unnest(string_split(lower(text), ' '))),
                              1, 2) AS b
                FROM documents
            ), c AS (
                SELECT doc_id, b, count(*) AS c FROM toks GROUP BY 1, 2
            ), m AS (
                SELECT doc_id,
                       CAST(sum(c * (ascii(substr(b, 1, 1)) * 31
                                     + ascii(substr(b, 2, 1)) - 2400))
                            AS BIGINT) AS margin,
                       CAST(sum(c) AS BIGINT) AS n_tokens
                FROM c GROUP BY 1
            )
            SELECT doc_id, margin, n_tokens, margin > 0 AS keep FROM m
        """,
        "semantic_dedup_survivors": """
            WITH cent AS (
                SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
                FROM embeddings WHERE vec_id < 16
            ), assigned AS (
                SELECT vec_id, embedding, centroid_id, affinity FROM (
                    SELECT e.vec_id, e.embedding::DOUBLE[] AS embedding,
                           c.centroid_id,
                           round(list_dot_product(e.embedding::DOUBLE[],
                                                  c.cvec), 4) AS affinity,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY round(list_dot_product(
                                   e.embedding::DOUBLE[], c.cvec), 4) DESC,
                                        c.centroid_id) AS rn
                    FROM embeddings e CROSS JOIN cent c
                ) WHERE rn = 1
            ), pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       a.affinity AS aff_a, b.affinity AS aff_b,
                       round(CASE WHEN
                           sqrt(list_dot_product(a.embedding, a.embedding)) *
                           sqrt(list_dot_product(b.embedding, b.embedding)) = 0
                           THEN 0.0
                           ELSE list_dot_product(a.embedding, b.embedding) /
                                (sqrt(list_dot_product(a.embedding, a.embedding)) *
                                 sqrt(list_dot_product(b.embedding, b.embedding)))
                       END, 4) AS cos
                FROM assigned a JOIN assigned b USING (centroid_id)
                WHERE a.vec_id < b.vec_id
            ), losers AS (
                SELECT DISTINCT
                       CASE WHEN aff_a > aff_b THEN id_a ELSE id_b END
                           AS vec_id
                FROM pairs WHERE cos >= 0.3
            )
            SELECT vec_id, centroid_id, affinity FROM assigned
            WHERE vec_id NOT IN (SELECT vec_id FROM losers)
        """,
        "weighted_sample": """
            WITH scored AS (
                SELECT doc_id, n_chars,
                       CAST(floor(1e6 * ln(
                           (('0x' || substr(md5('wsw|' ||
                               CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)
                           / 4503599627370497.0
                       )) AS BIGINT) AS priority_e6
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars > 0
            )
            SELECT doc_id, n_chars, priority_e6
            FROM scored
            ORDER BY priority_e6 / CAST(n_chars AS DOUBLE) DESC, doc_id
            LIMIT 50
        """,
        "bpe_pair_counts": """
            WITH wf AS (
                SELECT w AS word, count(*) AS freq FROM (
                    SELECT unnest(string_split(lower(text), ' ')) AS w
                    FROM documents
                ) WHERE w != '' GROUP BY 1
            ), prs AS (
                SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b,
                       freq
                FROM wf, unnest(generate_series(1, length(word) - 1)) AS t(i)
                UNION ALL
                SELECT substr(word, length(word), 1) AS a, '</w>' AS b, freq
                FROM wf
            )
            SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
            FROM prs GROUP BY 1, 2
            ORDER BY cnt DESC, a, b LIMIT 30
        """,
        "sq8_ann_topk": """
            WITH dims AS (
                SELECT i AS pos, min(x) AS mn, max(x) AS mx FROM (
                    SELECT unnest(embedding::DOUBLE[]) AS x,
                           unnest(generate_series(1, len(embedding))) AS i
                    FROM embeddings
                ) GROUP BY 1
            ), cb AS (
                SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx
                FROM dims
            ), recon AS (
                SELECT vec_id,
                       list_transform(embedding::DOUBLE[], (x, i) ->
                           cb.mn[i] + (CASE WHEN cb.mx[i] = cb.mn[i] THEN 0.0
                               ELSE least(254.0, greatest(0.0,
                                    floor((x - cb.mn[i])
                                          / (cb.mx[i] - cb.mn[i]) * 254.0)))
                           END) * ((cb.mx[i] - cb.mn[i]) / 254.0)) AS r
                FROM embeddings, cb
            ), qs AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS q
                FROM embeddings WHERE vec_id < 5
            ), approx AS (
                SELECT query_id, c.vec_id,
                       round(CASE WHEN sqrt(list_dot_product(q, q)) *
                                       sqrt(list_dot_product(c.r, c.r)) = 0
                             THEN 0.0
                             ELSE list_dot_product(q, c.r) /
                                  (sqrt(list_dot_product(q, q)) *
                                   sqrt(list_dot_product(c.r, c.r)))
                             END, 6) AS ascore
                FROM recon c CROSS JOIN qs WHERE c.vec_id != query_id
            ), short AS (
                SELECT query_id, vec_id FROM (
                    SELECT query_id, vec_id,
                           row_number() OVER (PARTITION BY query_id
                               ORDER BY ascore DESC, vec_id) AS sr
                    FROM approx
                ) WHERE sr <= 40
            ), exact AS (
                SELECT s.query_id, s.vec_id,
                       round(CASE WHEN sqrt(list_dot_product(q.q, q.q)) *
                                  sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                        e.embedding::DOUBLE[]))
                                  = 0
                             THEN 0.0
                             ELSE list_dot_product(q.q, e.embedding::DOUBLE[]) /
                                  (sqrt(list_dot_product(q.q, q.q)) *
                                   sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                         e.embedding::DOUBLE[])))
                             END, 6) AS score
                FROM short s
                JOIN embeddings e USING (vec_id)
                JOIN qs q USING (query_id)
            )
            SELECT query_id, rank, vec_id AS neighbor_id, score FROM (
                SELECT query_id, vec_id, score,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, vec_id) AS rank
                FROM exact
            ) WHERE rank <= 10
        """,
        "curation_pipeline": """
            WITH toks AS (
                SELECT doc_id,
                       substr(md5(unnest(string_split(lower(text), ' '))),
                              1, 2) AS b
                FROM documents
            ), c AS (
                SELECT doc_id, b, count(*) AS c FROM toks GROUP BY 1, 2
            ), margins AS (
                SELECT doc_id,
                       CAST(sum(c * (ascii(substr(b, 1, 1)) * 31
                                     + ascii(substr(b, 2, 1)) - 2400))
                            AS BIGINT) AS margin
                FROM c GROUP BY 1
            ), kept AS (
                SELECT d.doc_id, d.text, d.n_chars, m.margin
                FROM documents d JOIN margins m USING (doc_id)
                WHERE m.margin > -11000
            ), uniq AS (
                SELECT * FROM kept
                WHERE doc_id IN (
                    SELECT min(doc_id) FROM kept GROUP BY md5(text)
                )
            ), scored AS (
                SELECT doc_id, n_chars, margin,
                       CAST(floor(1e6 * ln(
                           (('0x' || substr(md5('cur|' ||
                               CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)
                           / 4503599627370497.0
                       )) AS BIGINT) AS priority_e6
                FROM uniq
                WHERE n_chars IS NOT NULL AND n_chars > 0
            )
            SELECT doc_id, n_chars, priority_e6, margin
            FROM scored
            ORDER BY priority_e6 / CAST(n_chars AS DOUBLE) DESC, doc_id
            LIMIT 25
        """,
        "stupid_backoff_scores": """
            WITH toks AS (
                SELECT doc_id, w, row_number() OVER (
                    PARTITION BY doc_id ORDER BY pos) AS pos
                FROM (
                    SELECT doc_id,
                           unnest(string_split(lower(text), ' ')) AS w,
                           generate_subscripts(
                               string_split(lower(text), ' '), 1) AS pos
                    FROM documents
                )
            ), tri AS (
                SELECT a.doc_id, a.w AS w1, b.w AS w2, c.w AS w3
                FROM toks a
                JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
            ), c3 AS (
                SELECT w1, w2, w3, count(*) AS n3 FROM tri
                GROUP BY 1, 2, 3 HAVING count(*) >= 2
            ), c12 AS (
                SELECT w1, w2, count(*) AS n12 FROM tri GROUP BY 1, 2
            ), b23 AS (
                SELECT w2, w3, count(*) AS n23 FROM tri
                GROUP BY 1, 2 HAVING count(*) >= 2
            ), c2 AS (
                SELECT w2, count(*) AS n2 FROM tri GROUP BY 1
            ), u3 AS (
                SELECT w3, count(*) AS nu FROM tri GROUP BY 1
            ), tot AS (
                SELECT count(*) AS nn FROM tri
            ), scored AS (
                SELECT t.doc_id,
                       CASE WHEN c3.n3 IS NOT NULL
                                THEN floor(c3.n3 * 1000000 / c12.n12)
                            WHEN b23.n23 IS NOT NULL
                                THEN floor(b23.n23 * 400000 / c2.n2)
                            ELSE floor(u3.nu * 160000 / tot.nn)
                       END AS q,
                       CASE WHEN c3.n3 IS NOT NULL THEN 0
                            WHEN b23.n23 IS NOT NULL THEN 1 ELSE 2
                       END AS lvl
                FROM tri t
                LEFT JOIN c3 USING (w1, w2, w3)
                JOIN c12 USING (w1, w2)
                LEFT JOIN b23 USING (w2, w3)
                JOIN c2 USING (w2)
                JOIN u3 USING (w3)
                CROSS JOIN tot
                WHERE t.doc_id % 11 = 0
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_trigrams,
                   CAST(sum(q) AS BIGINT) AS sb_score_sum,
                   CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_tri,
                   CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_bi,
                   CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_uni,
                   round(sum(q) / count(*), 4) AS avg_sb_q
            FROM scored GROUP BY 1
        """,
        "weighted_quota_sample": """
            SELECT lang, doc_id, n_chars,
                   CAST(floor(1e6 * ln(
                       (('0x' || substr(md5('wq|' ||
                           CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)
                       / 4503599627370497.0
                   )) AS BIGINT) AS priority_e6
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 0
            QUALIFY row_number() OVER (
                PARTITION BY lang
                ORDER BY priority_e6 / CAST(n_chars AS DOUBLE) DESC, doc_id
            ) <= 10
        """,
        "hard_negatives": """
            WITH cent AS (
                SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cvec
                FROM embeddings WHERE vec_id < 16
            ), assigned AS (
                SELECT vec_id, embedding, centroid_id, label FROM (
                    SELECT e.vec_id, e.embedding::DOUBLE[] AS embedding,
                           e.label, c.centroid_id,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY round(list_dot_product(
                                   e.embedding::DOUBLE[], c.cvec), 4) DESC,
                                        c.centroid_id) AS rn
                    FROM embeddings e CROSS JOIN cent c
                ) WHERE rn = 1
            ), pairs AS (
                SELECT a.vec_id AS anchor_id, a.label AS a_label,
                       c.vec_id AS cand_id, c.label AS c_label,
                       round(CASE WHEN
                           sqrt(list_dot_product(a.embedding, a.embedding)) *
                           sqrt(list_dot_product(c.embedding, c.embedding)) = 0
                           THEN 0.0
                           ELSE list_dot_product(a.embedding, c.embedding) /
                                (sqrt(list_dot_product(a.embedding, a.embedding)) *
                                 sqrt(list_dot_product(c.embedding, c.embedding)))
                       END, 4) AS cos
                FROM assigned a JOIN assigned c USING (centroid_id)
                WHERE a.vec_id < 20 AND a.vec_id != c.vec_id
            ), pos AS (
                SELECT anchor_id, a_label AS label, cand_id AS pos_id,
                       cos AS pos_cos
                FROM pairs WHERE a_label = c_label
                QUALIFY row_number() OVER (PARTITION BY anchor_id
                    ORDER BY cos DESC, cand_id) = 1
            ), neg AS (
                SELECT anchor_id, cand_id AS neg_id, cos AS neg_cos
                FROM pairs WHERE a_label != c_label
                QUALIFY row_number() OVER (PARTITION BY anchor_id
                    ORDER BY cos DESC, cand_id) = 1
            )
            SELECT anchor_id, label, pos_id, pos_cos, neg_id, neg_cos
            FROM pos JOIN neg USING (anchor_id)
        """,
        "dedup_attribution": """
            WITH hashed AS (
                SELECT doc_id,
                       list_transform(wsh, x -> md5('0|' || x)) AS h0,
                       list_transform(wsh, x -> md5('1|' || x)) AS h1
                FROM (SELECT doc_id, {{shingle5}} AS wsh FROM documents)
            ), sigs AS (
                SELECT doc_id, [{{window_mins}}] AS sig FROM hashed
            ), banded AS (
                SELECT doc_id, unnest([{{band_keys}}]) AS band_key FROM sigs
            ), pairs AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM banded a JOIN banded b USING (band_key)
                WHERE a.doc_id < b.doc_id
            ), attributed AS (
                SELECT least(sa.source, sb.source) AS source_a,
                       greatest(sa.source, sb.source) AS source_b
                FROM pairs p
                JOIN documents sa ON p.doc_a = sa.doc_id
                JOIN documents sb ON p.doc_b = sb.doc_id
            ), per AS (
                SELECT source_a, source_b,
                       CAST(count(*) AS BIGINT) AS n_pairs
                FROM attributed GROUP BY 1, 2
            )
            SELECT source_a, source_b, n_pairs,
                   round(n_pairs / (SELECT sum(n_pairs) FROM per), 4)
                       AS pair_share
            FROM per
        """.replace("{{shingle5}}", shingle5)
        .replace("{{window_mins}}", window_mins)
        .replace("{{band_keys}}", band_keys),
    }
    # T112: estimator calibration — sig-window agreement vs true Jaccard
    # over the T3 candidate pairs (same fragments as the pair oracles).
    d["minhash_calibration"] = """
        WITH hashed AS (
            SELECT doc_id, list_transform(wsh, x -> md5('0|' || x)) AS h0,
                   list_transform(wsh, x -> md5('1|' || x)) AS h1,
                   list_distinct(wsh) AS g
            FROM (SELECT doc_id, {{shingle5}} AS wsh FROM documents)
        ), sigs AS (
            SELECT doc_id, [{{window_mins}}] AS sig, g FROM hashed
        ), banded AS (
            SELECT doc_id, unnest([{{band_keys}}]) AS band_key FROM sigs
        ), pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b USING (band_key)
            WHERE a.doc_id < b.doc_id
        ), scored AS (
            SELECT p.doc_a, p.doc_b,
                   CAST(62500 * len(list_filter(
                       generate_series(1, 16),
                       i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS est_ppm,
                   CASE WHEN len(list_distinct(list_concat(sa.g, sb.g))) = 0
                        THEN CAST(0 AS BIGINT)
                        ELSE CAST((1000000
                                   * len(list_intersect(sa.g, sb.g)))
                                  // len(list_distinct(
                                         list_concat(sa.g, sb.g)))
                                  AS BIGINT)
                   END AS true_ppm
            FROM pairs p
            JOIN sigs sa ON sa.doc_id = p.doc_a
            JOIN sigs sb ON sb.doc_id = p.doc_b
        )
        SELECT doc_a, doc_b, est_ppm, true_ppm,
               CAST(est_ppm - true_ppm AS BIGINT) AS err_ppm
        FROM scored
    """.replace("{{shingle5}}", shingle5).replace(
        "{{window_mins}}", window_mins
    ).replace("{{band_keys}}", band_keys)
    # T145: dedup operating curve — composed from the T112 oracle so the
    # sweep and its scored-pair input share one source of truth.
    d["dedup_threshold_sweep"] = f"""
        WITH scored_all AS ({d["minhash_calibration"]}),
        thr AS (
            SELECT CAST(unnest([{", ".join(map(str, DEDUP_SWEEP_THRESHOLDS))}])
                        AS BIGINT) AS threshold_ppm
        ), passing AS (
            SELECT t.threshold_ppm, s.doc_a, s.doc_b
            FROM scored_all s JOIN thr t ON s.true_ppm >= t.threshold_ppm
        ), np AS (
            SELECT threshold_ppm, CAST(count(*) AS BIGINT) AS n_pairs
            FROM passing GROUP BY 1
        ), nd AS (
            SELECT threshold_ppm,
                   CAST(count(DISTINCT d) AS BIGINT) AS n_docs_flagged
            FROM (SELECT threshold_ppm, unnest([doc_a, doc_b]) AS d
                  FROM passing)
            GROUP BY 1
        )
        SELECT np.threshold_ppm, np.n_pairs, nd.n_docs_flagged
        FROM np JOIN nd USING (threshold_ppm)
    """
    # T155: empirical LSH recall — banding + all-pairs truth from the same
    # fragments as the T3/T112 oracles, over the deterministic 1/25 sample.
    d["lsh_recall_eval"] = """
        WITH hashed AS (
            SELECT doc_id, list_transform(wsh, x -> md5('0|' || x)) AS h0,
                   list_transform(wsh, x -> md5('1|' || x)) AS h1,
                   list_distinct(wsh) AS g
            FROM (
                SELECT doc_id, {{shingle5}} AS wsh FROM (
                    SELECT doc_id, text FROM documents
                    WHERE doc_id % (SELECT greatest(1, count(*) // {{sample_docs}})
                                    FROM documents) = 0
                    UNION ALL
                    SELECT doc_id + 10000000,
                           array_to_string(list_transform(
                               generate_series(1, doc_id % 12 + 1),
                               j -> 'zz' || CAST(doc_id AS VARCHAR) || 'x'
                                    || CAST(j AS VARCHAR)), ' ')
                           || ' ' || text
                    FROM documents
                    WHERE doc_id % (SELECT greatest(1, count(*) // {{sample_docs}})
                                    FROM documents) = 0
                )
            )
        ), sigs AS (
            SELECT doc_id, [{{window_mins}}] AS sig FROM hashed
        ), banded AS (
            SELECT doc_id, unnest([{{band_keys}}]) AS band_key FROM sigs
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b USING (band_key)
            WHERE a.doc_id < b.doc_id
        ), truth AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CASE WHEN len(list_distinct(list_concat(a.g, b.g))) = 0
                        THEN 0
                        ELSE (1000000 * len(list_intersect(a.g, b.g)))
                             // len(list_distinct(list_concat(a.g, b.g)))
                   END AS true_ppm
            FROM hashed a JOIN hashed b ON a.doc_id < b.doc_id
        ), thr AS (
            SELECT CAST(unnest([{{thresholds}}]) AS BIGINT) AS threshold_ppm
        )
        SELECT t.threshold_ppm,
               CAST(count(*) AS BIGINT) AS n_true,
               CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_found,
               CAST(floor(1000000.0
                          * sum(CASE WHEN c.doc_a IS NOT NULL
                                     THEN 1 ELSE 0 END)
                          / count(*)) AS BIGINT) AS recall_ppm
        FROM truth tr
        JOIN thr t ON tr.true_ppm >= t.threshold_ppm
        LEFT JOIN cand c ON c.doc_a = tr.doc_a AND c.doc_b = tr.doc_b
        GROUP BY 1
    """.replace("{{shingle5}}", shingle5).replace(
        "{{window_mins}}", window_mins
    ).replace("{{band_keys}}", band_keys).replace(
        "{{thresholds}}", ", ".join(map(str, LSH_RECALL_THRESHOLDS))
    ).replace("{{sample_docs}}", str(LSH_RECALL_SAMPLE_DOCS))
    # T153: point-in-time lookup composed from the T151 oracle — the
    # history and the lookup share one source of truth.
    d["policy_at_fetch"] = f"""
        WITH hist AS ({d["scd2_history"]}),
        fetches AS (
            SELECT 'h' || CAST(doc_id % 10 AS VARCHAR) AS fhost,
                   CAST(1 + doc_id % 4 AS BIGINT) AS fetch_day
            FROM documents
        )
        SELECT f.fetch_day, h.policy,
               CAST(count(*) AS BIGINT) AS n_fetches
        FROM fetches f
        JOIN hist h ON h.host = f.fhost
                   AND h.valid_from <= f.fetch_day
                   AND (h.valid_to IS NULL OR f.fetch_day < h.valid_to)
        GROUP BY 1, 2
    """
    # T111: recall@10 of the IVF ANN against the brute-force ground truth —
    # composed from the two oracles above so the evaluation and its inputs
    # share one source of truth.
    d["ann_recall"] = f"""
        WITH approx AS ({d["ivf_topk"]}),
        truth AS ({d["cosine_topk"]}),
        hits AS (
            SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
            FROM approx a JOIN truth t
              ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
            GROUP BY 1
        )
        SELECT q.query_id,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               CAST((1000000 * coalesce(h.n_hits, 0)) // 10 AS BIGINT)
                   AS recall_ppm
        FROM (SELECT DISTINCT query_id FROM truth) q
        LEFT JOIN hits h USING (query_id)
    """
    return d
