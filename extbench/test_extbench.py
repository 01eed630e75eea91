"""Self-tests of the benchmark's own measuring code.

    python3 -m pytest extbench/test_extbench.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from corpus import _write_parquet, select_rows  # noqa: E402
from kernel_replay import kernel_metrics  # noqa: E402


@pytest.mark.parametrize("kind", ["html", "grid"])
def test_wrapped_replay_matches_plain(kind):
    from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS

    rows = [(u, h, l) for u, _ts, h, _t, l in select_rows(kind, 200, seed=5)]
    metrics, same = kernel_metrics(rows, PATTERNS)
    assert same
    assert metrics["kernel.page.calls"] == len(rows)
    if kind == "html":
        assert metrics["kernel.html_extract.calls"] == len(rows)
        assert metrics["kernel.grid.calls"] == 0
    else:
        assert metrics["kernel.html_extract.calls"] == 0
        assert metrics["kernel.grid.calls"] >= metrics["kernel.retry.calls"] > 0
        assert 0 < metrics["kernel.retry.useful_ratio"] <= 1


def _session(tmp_path, eventlog: str | None = None):
    from pdf_drawing_ocr_recognition_spark.plans.session import build_session

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp_path / "warehouse"),
    }
    if eventlog:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{eventlog}",
            }
        )
    return build_session(app="extbench-selftest", master="local[2]", extra=extra)


def test_eventlog_records_read_is_rows_times_passes(tmp_path):
    from eventlog import EventLog

    from pdf_drawing_ocr_recognition_spark.sources.pages import read_pages

    rows = select_rows("mixed", 120, seed=9)
    pages = str(tmp_path / "pages")
    other = str(tmp_path / "other")
    _write_parquet(rows, pages)
    _write_parquet(rows[:50], other)
    ev_dir = tmp_path / "eventlog"
    ev_dir.mkdir()
    spark = _session(tmp_path, str(ev_dir))
    try:
        sc = spark.sparkContext
        for i in range(3):
            sc.setJobDescription(f"pass#{i}")
            read_pages(spark, pages).write.format("noop").mode("overwrite").save()
        # a labelled job over another input and an unlabelled job over the
        # corpus are both outside the counted scan
        sc.setJobDescription("pass#other")
        read_pages(spark, other).write.format("noop").mode("overwrite").save()
        sc.setJobDescription(None)
        read_pages(spark, pages).write.format("noop").mode("overwrite").save()
    finally:
        spark.stop()
    got = EventLog(str(ev_dir)).summarize(
        pages, len(rows), lambda d: d.startswith("pass#")
    )
    assert got["scan.records_read"] == len(rows) * 3
    assert got["scan.read_amplification"] == 3


def test_resume_state_leaves_intended_buckets_pending(tmp_path):
    from run import N_BUCKETS, build_resume_state, pending_buckets

    from pdf_drawing_ocr_recognition_spark.operators.manifest import (
        _commit_bucket,
        bucket_of,
        pending_inputs,
        read_manifest,
    )
    from pdf_drawing_ocr_recognition_spark.sources.pages import read_pages

    rows = select_rows("mixed", 400, seed=11)
    pages = str(tmp_path / "pages")
    _write_parquet(rows, pages)
    out = tmp_path / "out"
    for k in range(N_BUCKETS):
        (out / f"bucket={k}").mkdir(parents=True)
        (out / f"bucket={k}" / "part-0.parquet").write_bytes(b"")
        _commit_bucket(str(out), k, 1, 0, 0.1)
    for side in ("_metrics", "_metrics_cells"):
        (out / side).mkdir()
    build_resume_state(str(out), pending_buckets())

    assert {int(p.name.split("=")[1]) for p in out.glob("bucket=*")} == (
        set(range(N_BUCKETS)) - pending_buckets()
    )
    assert not (out / "_metrics").exists() and not (out / "_metrics_cells").exists()
    spark = _session(tmp_path)
    try:
        df = read_pages(spark, pages)
        manifest = read_manifest(spark, str(out))
        assert {r["bucket"] for r in manifest.collect()} == (
            set(range(N_BUCKETS)) - pending_buckets()
        )
        todo = pending_inputs(df, manifest, N_BUCKETS)
        got = {r["bucket"] for r in todo.select("bucket").distinct().collect()}
        every = {
            r["b"] for r in df.select(bucket_of(df.url, N_BUCKETS).alias("b")).collect()
        }
    finally:
        spark.stop()
    assert got == every & pending_buckets()
    assert len(got) > N_BUCKETS // 4


def test_check_output_flags_a_changed_row(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from corpus import CHECK_COLS, check_output, oracle_digests

    from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS
    from pdf_drawing_ocr_recognition_spark.kernel.page import extract_document

    rows = select_rows("mixed", 60, seed=13)
    oracle = oracle_digests(rows)
    out = [
        extract_document(u, h, l, PATTERNS) for u, _ts, h, _t, l in rows if u in oracle
    ]
    cols = {c: [d[c] for d in out] for c in ("url", *CHECK_COLS)}
    good = str(tmp_path / "good.parquet")
    pq.write_table(pa.table(cols), good)
    assert check_output([good], oracle) == (len(out), [])
    cols["extracted_text"][0] += "x"
    bad = str(tmp_path / "bad.parquet")
    pq.write_table(pa.table(cols), bad)
    _n, problems = check_output([bad], oracle)
    assert problems and "differ" in problems[0]
