"""T219 — metadata-driven join planning.

Every strategy must return exactly the plain join's rows; the decision
must match the metadata scenario and carry auditable evidence."""

import pytest
from pyspark.sql import functions as F

from pdf_drawing_ocr_recognition_spark.operators.join_planner import (
    auto_join,
    choose_join_strategy,
)
from pdf_drawing_ocr_recognition_spark.sources import snapshots as S
from pdf_drawing_ocr_recognition_spark.sources.file_blooms import (
    compute_file_blooms,
)
from pdf_drawing_ocr_recognition_spark.sources.table_stats import (
    analyze_table,
)


def _facts(spark, n=2000):
    return spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 13).alias("lang"),
        (F.col("id") * 3).alias("n_chars"),
    )


def _dim(spark, ids):
    return spark.createDataFrame(
        [(int(i), f"label{i}") for i in ids], "doc_id long, label string"
    )


def _plain(spark, ra, rb, key="doc_id"):
    da, db = S.read_snapshot(spark, ra), S.read_snapshot(spark, rb)
    return sorted(tuple(r) for r in da.join(db, key).collect())


def _check(spark, ra, rb, expect_strategy, **kw):
    out, decision = auto_join(spark, ra, rb, "doc_id", **kw)
    assert decision["strategy"] == expect_strategy, decision["reason"]
    assert sorted(tuple(r) for r in out.collect()) == _plain(spark, ra, rb)
    return decision


def test_spj_when_cobucketed(spark, tmp_path):
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    spec = [{"source": "doc_id", "transform": "bucket[8]"}]
    S.append_snapshot(_facts(spark), ra, partition_spec=spec)
    S.append_snapshot(
        _dim(spark, range(0, 2000, 3)), rb, partition_spec=spec
    )
    _check(spark, ra, rb, "spj")


def test_broadcast_small_side(spark, tmp_path):
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    S.append_snapshot(_facts(spark), ra)
    S.append_snapshot(_dim(spark, [1, 5, 9]), rb)
    d = _check(spark, ra, rb, "broadcast")
    assert d["build_side"] == "b"


def test_runtime_filter_with_bloom_power(spark, tmp_path):
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    S.append_snapshot(_facts(spark).repartition(8), ra)
    compute_file_blooms(spark, ra, "doc_id")
    S.append_snapshot(_dim(spark, range(0, 100)), rb)
    # force past broadcast with a 1-byte budget; dim rows bound its keys
    d = _check(spark, ra, rb, "runtime_filter", broadcast_bytes=1)
    assert d["build_side"] == "b"
    assert "bloom" in d["reason"]
    # ANALYZE sharpens the evidence source
    analyze_table(spark, rb, exact=True)
    d2 = choose_join_strategy(ra, rb, "doc_id", broadcast_bytes=1)
    assert d2["strategy"] == "runtime_filter"
    assert d2["b"]["ndv_source"].startswith("analyze")
    # stale stats (rows landed since) fall back to the row upper bound
    S.append_snapshot(_dim(spark, [5000]), rb)
    d3 = choose_join_strategy(ra, rb, "doc_id", broadcast_bytes=1)
    assert d3["b"]["ndv_source"] == "row_count_upper_bound"


def test_shuffle_fallback(spark, tmp_path):
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    S.append_snapshot(_facts(spark), ra)  # no bloom, no spec
    S.append_snapshot(_dim(spark, range(0, 200)), rb)
    d = _check(
        spark, ra, rb, "shuffle", broadcast_bytes=1, max_filter_keys=10
    )
    assert d["build_side"] is None


def test_mismatched_buckets_do_not_spj(spark, tmp_path):
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    S.append_snapshot(
        _facts(spark), ra,
        partition_spec=[{"source": "doc_id", "transform": "bucket[8]"}],
    )
    S.append_snapshot(
        _dim(spark, range(50)), rb,
        partition_spec=[{"source": "doc_id", "transform": "bucket[4]"}],
    )
    d = choose_join_strategy(ra, rb, "doc_id")
    assert d["strategy"] != "spj"


def _facts_key_mid(spark, n=2000):
    return _facts(spark, n).select("lang", "doc_id", "n_chars")


def _dim_key_last(spark, ids):
    return _dim(spark, ids).select("label", "doc_id")



@pytest.mark.parametrize(
    "strategy,build_side,small_side,kw",
    [
        ("spj", None, "b", {}),
        ("broadcast", "b", "b", {}),
        ("broadcast", "a", "a", {}),
        ("runtime_filter", "b", "b", {"broadcast_bytes": 1}),
        ("runtime_filter", "a", "a", {"broadcast_bytes": 1}),
        ("shuffle", None, "b", {"broadcast_bytes": 1, "max_filter_keys": 10}),
    ],
)
def test_column_order_when_key_is_not_first(
    spark, tmp_path, strategy, build_side, small_side, kw
):
    """Every strategy returns A's columns, then B's minus the key, even
    when the key is not A's first column."""
    spec = (
        [{"source": "doc_id", "transform": "bucket[8]"}]
        if strategy == "spj" else None
    )
    dim_ids = {
        "spj": range(0, 2000, 3),
        "broadcast": [1, 5, 9],
        "runtime_filter": range(100),
        "shuffle": range(200),
    }[strategy]
    roots = {}
    for side in "ab":
        roots[side] = root = str(tmp_path / side)
        if side == small_side:
            S.append_snapshot(
                _dim_key_last(spark, dim_ids), root, partition_spec=spec
            )
        else:
            S.append_snapshot(
                _facts_key_mid(spark).repartition(8), root,
                partition_spec=spec,
            )
            if strategy == "runtime_filter":
                compute_file_blooms(spark, root, "doc_id")
    out, decision = auto_join(spark, roots["a"], roots["b"], "doc_id", **kw)
    assert decision["strategy"] == strategy, decision["reason"]
    assert decision["build_side"] == build_side
    da = S.read_snapshot(spark, roots["a"])
    db = S.read_snapshot(spark, roots["b"])
    cols = da.columns + [c for c in db.columns if c != "doc_id"]
    assert out.columns == cols
    want = da.join(db, "doc_id").select(*cols)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, want.collect())
    )
