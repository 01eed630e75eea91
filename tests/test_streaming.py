"""Streaming variant: AvailableNow drain must equal the batch pipeline."""

import pytest
from pyspark.sql import functions as F

from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS


class TestStreamingExtraction:
    def test_stream_equals_batch(self, spark, pages_small, tmp_path):
        """The one streaming path — ``stream_extraction`` landed through
        ``snapshot_sink`` — commits one snapshot per micro-batch, and the
        table equals batch ``extract_pages`` row for row, per url."""
        from pdf_drawing_ocr_recognition_spark.operators.extract import extract_pages
        from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
            read_snapshot,
            snapshot_log,
        )
        from pdf_drawing_ocr_recognition_spark.streaming.snapshot_sink import (
            snapshot_sink,
        )
        from pdf_drawing_ocr_recognition_spark.streaming.stream_extract import (
            stream_extraction,
        )

        root = str(tmp_path / "table")
        q = (
            stream_extraction(spark, pages_small, PATTERNS, max_files_per_trigger=4)
            .writeStream.foreachBatch(snapshot_sink(root))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert len(snapshot_log(root)) >= 2, "expected one commit per micro-batch"

        def by_url(df):
            rows = [r.asDict(recursive=True) for r in df.collect()]
            out = {r["url"]: r for r in rows}
            assert len(out) == len(rows), "duplicate url"
            return out

        pages = spark.read.parquet(pages_small).filter(
            F.col("lang").isin("en", "zh", "de")
        )
        streamed = by_url(read_snapshot(spark, root))
        batch = by_url(extract_pages(pages, PATTERNS))
        assert streamed == batch
        assert sum(r["status"] == "ok" for r in streamed.values()) > 100

    def test_windowed_counts_batch_vs_plain_agg(self, spark, sf_dir):
        from pdf_drawing_ocr_recognition_spark.streaming.stream_extract import (
            windowed_event_counts,
        )

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        got = {
            (r["window_start_us"], r["event_type"]): (r["n_events"], r["value_cents"])
            for r in windowed_event_counts(ev).collect()
        }
        want = {
            (r["us"], r["event_type"]): (r["n"], r["cents"])
            for r in ev.groupBy(
                F.unix_micros(
                    F.date_trunc("hour", F.col("ts").cast("timestamp"))
                ).alias("us"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            )
            .collect()
        }
        assert got == want


class TestWatermarkLateData:
    def test_late_rows_dropped_and_open_windows_held(self, spark, tmp_path):
        """Real streaming watermark semantics: one file per micro-batch, so
        the watermark advances between files — a row arriving after its
        window passed the watermark is DROPPED, and windows newer than the
        final watermark stay in state (never emitted in append mode)."""
        import os
        from datetime import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from pdf_drawing_ocr_recognition_spark.streaming.stream_extract import (
            run_windowed_stream_to_memory,
        )

        d = str(tmp_path / "ev_stream")
        os.makedirs(d)

        def write(name, rows, mtime):
            ids, tss, users, types, vals = zip(*rows)
            pq.write_table(
                pa.table(
                    {
                        "event_id": pa.array(ids, pa.int64()),
                        "ts": pa.array(tss, pa.timestamp("us")),
                        "user_id": pa.array(users, pa.int64()),
                        "event_type": pa.array(types, pa.string()),
                        "value": pa.array(vals, pa.float64()),
                    }
                ),
                f"{d}/{name}",
            )
            os.utime(f"{d}/{name}", (mtime, mtime))

        t = lambda hh, mm: datetime(2025, 6, 1, hh, mm)
        # Late-row filtering uses the watermark of the PREVIOUS micro-batch
        # (one batch of grace; SPARK-40925 watermark propagation), eviction
        # the current one — so the late row must arrive two batches after
        # the rows that advanced the watermark past its window.
        # file1: two rows in W00 ([00:00,01:00)) + one at 05:00
        #        → watermark after batch0 = 05:00 - 2h = 03:00 (> W00 end)
        write("f1.parquet", [
            (1, t(0, 30), 1, "click", 1.0),
            (2, t(0, 40), 1, "click", 1.0),
            (3, t(5, 0), 1, "click", 1.0),
        ], 1_000_000)
        # file2: advances watermark to 07:00 (batch1 runs with 03:00)
        write("f2.parquet", [(4, t(9, 0), 1, "click", 1.0)], 1_000_010)
        # file3: LATE row for W00 — batch2's late filter is batch1's
        # watermark (03:00) > W00 end → DROPPED; plus one more 09:xx row
        write("f3.parquet", [
            (5, t(0, 45), 1, "click", 1.0),
            (6, t(9, 30), 1, "click", 1.0),
        ], 1_000_020)

        run_windowed_stream_to_memory(spark, d, "wm_sink")
        out = {
            (r["window_start_us"], r["event_type"]): r["n_events"]
            for r in spark.sql("SELECT * FROM wm_sink").collect()
        }
        import calendar

        us = lambda hh: calendar.timegm(datetime(2025, 6, 1, hh).timetuple()) * 1_000_000
        assert out[(us(0), "click")] == 2, out  # late row 5 NOT counted
        assert out[(us(5), "click")] == 1  # finalized once watermark passed 06:00
        assert (us(9), "click") not in out  # open window held in state


class TestStreamingDedup:
    def test_batch_compaction_cleans_streaming_residue(self, spark, tmp_path):
        """Batch compaction of landed stream output: exact_dedupe keeps one
        row per text digest, the smallest url."""
        from pdf_drawing_ocr_recognition_spark.operators.dedup import exact_dedupe

        landed = spark.createDataFrame(
            [("u/a1", "content A"), ("u/b1", "content B"), ("u/b2", "content B")],
            "url STRING, text STRING",
        )
        kept = sorted(
            r["url"] for r in exact_dedupe(landed, key_col="url").collect()
        )
        assert kept == ["u/a1", "u/b1"]


class TestStreamStreamJoin:
    def test_streaming_attribution_equals_batch_join(self, spark, sf_dir, tmp_path):
        """Stream-stream inner join under AvailableNow equals the batch join
        over the same events — and only in-window clicks attribute."""
        from pdf_drawing_ocr_recognition_spark.streaming.stream_extract import (
            purchase_attribution_join,
        )

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        want = sorted(
            map(
                tuple,
                purchase_attribution_join(
                    ev.filter(F.col("event_type") == "purchase"),
                    ev.filter(F.col("event_type") == "click"),
                ).collect(),
            )
        )
        assert want, "no attributed purchases in fixture"

        schema = (
            "event_id LONG, ts TIMESTAMP, user_id LONG, "
            "event_type STRING, value DOUBLE"
        )
        src = str(tmp_path / "ev")
        ev.select(*[c.strip().split()[0] for c in schema.split(",")]).write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        joined = purchase_attribution_join(
            stream.filter(F.col("event_type") == "purchase"),
            stream.filter(F.col("event_type") == "click"),
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("attrib_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            map(tuple, spark.sql("SELECT * FROM attrib_sink").collect())
        )
        assert got == want
        # every attributed click is within the window, on the correct user
        for _pid, _uid, _cid, p_us, c_us in got:
            assert 0 <= p_us - c_us <= 2 * 3600 * 1_000_000


class TestStreamingScd2Fold:
    def test_crash_safe_swap_leaves_previous_history(self, spark, tmp_path):
        """scd2_merge over the stored history is lazy: a merged history
        written to a side path leaves the previous history intact and
        readable."""
        import os

        from pdf_drawing_ocr_recognition_spark.operators.cdc import scd2_merge

        hist_path = str(tmp_path / "hist")
        b1 = spark.createDataFrame(
            [("h", "allow", 1)], "host string, policy string, as_of long"
        )
        scd2_merge(None, b1, "host", ["policy"]).write.parquet(hist_path)
        # simulate a crash mid-fold: tmp written, swap never happened
        b2 = spark.createDataFrame(
            [("h", "deny", 2)], "host string, policy string, as_of long"
        )
        prev = spark.read.parquet(hist_path)
        scd2_merge(prev, b2, "host", ["policy"]).write.mode(
            "overwrite"
        ).parquet(hist_path + "_tmp")
        assert os.path.exists(hist_path + "_tmp")
        rows = spark.read.parquet(hist_path).collect()  # old history readable
        assert len(rows) == 1 and rows[0]["valid_to"] is None

class TestSnapshotStreamingSink:
    """T193: exactly-once streaming appends into the snapshot table — one
    snapshot per micro-batch, batch ids in the manifest summary, replays
    skipped, concurrent streams scoped by stream_id."""

    def test_stream_appends_equal_batch_and_commit_per_batch(
        self, spark, tmp_path
    ):
        from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
            read_snapshot,
            snapshot_log,
        )
        from pdf_drawing_ocr_recognition_spark.streaming.snapshot_sink import (
            snapshot_sink,
        )

        src = str(tmp_path / "src")
        root = str(tmp_path / "table")
        df = spark.range(100).selectExpr(
            "id AS doc_id", "concat('d', id) AS text"
        )
        # several input files -> maxFilesPerTrigger=1 forces multi-batch
        df.repartition(4).write.parquet(src)
        q = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(snapshot_sink(root, stream_id="s1"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(r["doc_id"] for r in read_snapshot(spark, root).collect())
        assert got == list(range(100))
        log = snapshot_log(root)
        assert len(log) >= 2, "expected one snapshot per micro-batch"
        ids = [
            m["summary"]["properties"]["streaming_batch_id"] for m in log
        ]
        assert ids == sorted(ids)

    def test_replayed_batch_id_is_skipped(self, spark, tmp_path):
        from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
            current_snapshot_id,
            read_snapshot,
        )
        from pdf_drawing_ocr_recognition_spark.streaming.snapshot_sink import (
            snapshot_append_batch,
        )

        root = str(tmp_path / "table")
        b0 = spark.range(10).selectExpr("id AS doc_id")
        sid = snapshot_append_batch(b0, 0, root, "s1")
        assert sid == 1
        # crash between table commit and checkpoint commit -> replay
        assert snapshot_append_batch(b0, 0, root, "s1") is None
        assert current_snapshot_id(root) == 1
        assert read_snapshot(spark, root).count() == 10
        # a DIFFERENT stream's batch 0 is not a replay
        b1 = spark.range(10, 20).selectExpr("id AS doc_id")
        assert snapshot_append_batch(b1, 0, root, "s2") == 2
        assert read_snapshot(spark, root).count() == 20


class TestSnapshotUpsertSink:
    """T203: exactly-once CDC upsert stream into the snapshot table — one
    MERGE per micro-batch, in-batch last-wins by order_col (deterministic
    total order), in-manifest replay guard shared with the append sink."""

    def test_stream_upserts_equal_batch_merge(self, spark, tmp_path):
        from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
            read_snapshot,
            snapshot_log,
        )
        from pdf_drawing_ocr_recognition_spark.streaming.snapshot_sink import (
            snapshot_upsert_sink,
        )

        src = str(tmp_path / "src")
        root = str(tmp_path / "table")
        # 4 files -> 4 micro-batches; doc_id 0..19 written TWICE with
        # increasing versions: the final table must hold the latest only
        df = spark.range(40).selectExpr(
            "id % 20 AS doc_id",
            "id AS version",
            "concat('v', id) AS text",
        )
        df.orderBy("version").coalesce(1).write.parquet(src)
        q = (
            spark.readStream.schema("doc_id LONG, version LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                snapshot_upsert_sink(root, "doc_id", order_col="version")
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = {
            r["doc_id"]: (r["version"], r["text"])
            for r in read_snapshot(spark, root).collect()
        }
        assert len(rows) == 20
        assert rows == {i: (i + 20, f"v{i + 20}") for i in range(20)}
        ops = [m["operation"] for m in snapshot_log(root)]
        assert ops[0] == "append" and all(o == "merge" for o in ops[1:])

    def test_replay_and_duplicate_key_guards(self, spark, tmp_path):
        import pytest

        from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
            current_snapshot_id,
            read_snapshot,
        )
        from pdf_drawing_ocr_recognition_spark.streaming.snapshot_sink import (
            snapshot_upsert_batch,
        )

        root = str(tmp_path / "table")
        b0 = spark.createDataFrame(
            [(1, "a"), (2, "b")], "doc_id long, text string"
        )
        assert snapshot_upsert_batch(b0, 0, root, "doc_id") == 1
        # crash between table commit and checkpoint commit -> replay skipped
        assert snapshot_upsert_batch(b0, 0, root, "doc_id") is None
        assert current_snapshot_id(root) == 1
        b1 = spark.createDataFrame(
            [(2, "B"), (3, "c")], "doc_id long, text string"
        )
        assert snapshot_upsert_batch(b1, 1, root, "doc_id") == 2
        rows = {
            r["doc_id"]: r["text"]
            for r in read_snapshot(spark, root).collect()
        }
        assert rows == {1: "a", 2: "B", 3: "c"}
        # duplicate keys without order_col fail loudly, commit nothing
        dup = spark.createDataFrame(
            [(5, "x"), (5, "y")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="duplicate"):
            snapshot_upsert_batch(dup, 2, root, "doc_id")
        assert current_snapshot_id(root) == 2

    def test_order_col_ties_break_deterministically(self, spark, tmp_path):
        from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
            read_snapshot,
        )
        from pdf_drawing_ocr_recognition_spark.streaming.snapshot_sink import (
            snapshot_upsert_batch,
        )

        root = str(tmp_path / "table")
        tied = spark.createDataFrame(
            [(1, 7, "aa"), (1, 7, "zz"), (1, 3, "newer-looking-but-older")],
            "doc_id long, version long, text string",
        )
        snapshot_upsert_batch(tied, 0, root, "doc_id", order_col="version")
        row = read_snapshot(spark, root).collect()[0]
        # total order (version, text): the tie at version 7 resolves to the
        # lexicographically larger text, bit-stable across retries
        assert (row["version"], row["text"]) == (7, "zz")


class TestSnapshotUpsertEqSink:
    """T209: the merge-on-read CDC upsert stream — one equality-delete +
    append commit per micro-batch (upsert_eq), O(batch) write cost at any
    table size; same replay guard and last-wins reduction as the COW sink."""

    def test_stream_equals_cow_sink_and_never_rewrites(self, spark, tmp_path):
        from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
            read_manifest,
            read_snapshot,
            snapshot_log,
        )
        from pdf_drawing_ocr_recognition_spark.streaming.snapshot_sink import (
            snapshot_upsert_eq_sink,
        )

        src = str(tmp_path / "src")
        root = str(tmp_path / "table")
        df = spark.range(40).selectExpr(
            "id % 20 AS doc_id",
            "id AS version",
            "concat('v', id) AS text",
        )
        df.orderBy("version").coalesce(1).write.parquet(src)
        q = (
            spark.readStream.schema("doc_id LONG, version LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                snapshot_upsert_eq_sink(root, "doc_id", order_col="version")
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = {
            r["doc_id"]: (r["version"], r["text"])
            for r in read_snapshot(spark, root).collect()
        }
        # identical final content to the COW sink's test
        assert rows == {i: (i + 20, f"v{i + 20}") for i in range(20)}
        log = snapshot_log(root)
        ops = [m["operation"] for m in log]
        assert ops[0] == "append" and all(o == "upsert" for o in ops[1:])
        # THE scale property: no batch ever rewrote an existing data file —
        # every snapshot's file list is a superset of its parent's
        for prev, cur in zip(log, log[1:]):
            assert set(prev["files"]) <= set(cur["files"])

    def test_replay_guard(self, spark, tmp_path):
        from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
            current_snapshot_id,
            read_snapshot,
        )
        from pdf_drawing_ocr_recognition_spark.streaming.snapshot_sink import (
            snapshot_upsert_eq_batch,
        )

        root = str(tmp_path / "table")
        b0 = spark.createDataFrame(
            [(1, "a"), (2, "b")], "doc_id long, text string"
        )
        assert snapshot_upsert_eq_batch(b0, 0, root, "doc_id") == 1
        assert snapshot_upsert_eq_batch(b0, 0, root, "doc_id") is None
        assert current_snapshot_id(root) == 1
        b1 = spark.createDataFrame(
            [(2, "B"), (3, "c")], "doc_id long, text string"
        )
        assert snapshot_upsert_eq_batch(b1, 1, root, "doc_id") == 2
        rows = {
            r["doc_id"]: r["text"]
            for r in read_snapshot(spark, root).collect()
        }
        assert rows == {1: "a", 2: "B", 3: "c"}

    def test_compaction_reconciles_sink_output(self, spark, tmp_path):
        # the operating model: stream upserts accumulate entries; the
        # nightly compaction re-sequences, purges them, and preserves rows
        from pdf_drawing_ocr_recognition_spark.sources.snapshots import (
            current_snapshot_id,
            read_manifest,
            read_snapshot,
            rewrite_data_files,
        )
        from pdf_drawing_ocr_recognition_spark.streaming.snapshot_sink import (
            snapshot_upsert_eq_batch,
        )

        root = str(tmp_path / "table")
        for b in range(3):
            batch = spark.createDataFrame(
                [(k, f"b{b}k{k}") for k in range(b, b + 3)],
                "doc_id long, text string",
            )
            snapshot_upsert_eq_batch(batch, b, root, "doc_id")
        before = sorted(
            map(tuple, read_snapshot(spark, root).collect())
        )
        man = read_manifest(root, current_snapshot_id(root))
        assert len(man["eq_deletes"]) == 2  # batches 1 and 2 each left one
        sid = rewrite_data_files(spark, root, target_files=1)
        assert read_manifest(root, sid)["eq_deletes"] == []
        assert sorted(
            map(tuple, read_snapshot(spark, root).collect())
        ) == before
