"""spark-submit entry that runs ``jobs/run_extraction.py`` unchanged.

    spark-submit --py-files <zip> extbench/job_entry.py <run_extraction args>

``EXTBENCH_TIMING`` names a JSON file that receives the set-up timestamps:
the real ``plans.session.build_session`` is wrapped so that, once it returns,
a one-row ``mapInPandas`` proves the first Python worker answers.  With
``EXTBENCH_TRACE=1`` the public functions the job calls are wrapped as well:
each records a span and labels the Spark jobs it triggers with
``setJobDescription``, so event-log stages can be attributed to layers, and
the scan and Arrow round-trip floors run once the session is up (their time
is recorded so that the caller can take it out of the traced wall).
``run_extraction.main`` imports these names at call time, so patching the
module attributes before calling it is enough; no package code changes.
Spans are kept in memory and written to the same JSON file at exit.
"""

from __future__ import annotations

import functools
import importlib.util
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FLOOR_REPEATS = 3


class Tracer:
    """In-memory spans plus the job-description labels of the traced run."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.spark = None
        self.n_buckets = 0

    def label(self, desc: str) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(desc)

    def wrap(self, name: str, fn, before=None, after=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if before:
                before(*args, **kwargs)
            span = {
                "name": name,
                "start": time.time(),
                "parent": self._stack[-1] if self._stack else None,
            }
            self.spans.append(span)
            self._stack.append(len(self.spans) - 1)
            try:
                return fn(*args, **kwargs)
            finally:
                span["end"] = time.time()
                self._stack.pop()
                if after:
                    after()

        return traced

    def next_bucket(self, *_args, **_kwargs):
        self.label(f"manifest:bucket#{self.n_buckets}")
        self.n_buckets += 1


def probe_python(spark) -> None:
    """One Python task: the first worker has started and answered."""

    def ident(batches):
        yield from batches

    spark.range(1).mapInPandas(ident, "id long").collect()


def floors(spark, pages: str) -> dict:
    """Median seconds of a scan into a noop sink, and of the same scan through
    an identity ``mapInPandas`` (the Arrow round trip), each after a warm-up."""
    from pdf_drawing_ocr_recognition_spark.sources.pages import read_pages

    def ident(batches):
        yield from batches

    def scan():
        df = read_pages(spark, pages).select("url", "html", "lang")
        df.write.format("noop").mode("overwrite").save()

    def roundtrip():
        df = read_pages(spark, pages).select("url", "html", "lang")
        df.mapInPandas(ident, df.schema).write.format("noop").mode("overwrite").save()

    out = {}
    for name, fn in (("scan_s", scan), ("arrow_roundtrip_s", roundtrip)):
        spark.sparkContext.setJobDescription(f"floor:{name}")
        fn()
        walls = []
        for _ in range(FLOOR_REPEATS):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        out[name] = statistics.median(walls)
    return out


def install(timing: dict, trace: bool, pages: str) -> Tracer:
    from pdf_drawing_ocr_recognition_spark.operators import extract, manifest, metrics
    from pdf_drawing_ocr_recognition_spark.plans import session

    tracer = Tracer()
    real_build = session.build_session

    def build_session(*args, **kwargs):
        spark = real_build(*args, **kwargs)
        t1 = time.time()
        tracer.spark = spark if trace else None
        tracer.label("setup:probe")
        probe_python(spark)
        t2 = time.time()
        timing.update(session_ready=t1, python_ready=t2)
        if trace:
            timing["floors"] = floors(spark, pages)
            timing["floors_s"] = time.time() - t2
        tracer.label("manifest:plan")
        return spark

    session.build_session = build_session
    if trace:
        manifest.run_with_manifest = tracer.wrap(
            "run_with_manifest",
            manifest.run_with_manifest,
            after=lambda: tracer.label("sidecar:count"),
        )
        manifest.read_manifest = tracer.wrap("read_manifest", manifest.read_manifest)
        extract.extract_pages = tracer.wrap(
            "extract_pages", extract.extract_pages, before=tracer.next_bucket
        )
        metrics.partition_metrics = tracer.wrap(
            "partition_metrics",
            metrics.partition_metrics,
            after=lambda: tracer.label("sidecar:partition_metrics"),
        )
        metrics.cell_count_histogram = tracer.wrap(
            "cell_count_histogram",
            metrics.cell_count_histogram,
            after=lambda: tracer.label("sidecar:cell_count_histogram"),
        )
    return tracer


def main(argv: list[str]) -> int:
    timing_path = os.environ["EXTBENCH_TIMING"]
    trace = os.environ.get("EXTBENCH_TRACE") == "1"
    timing: dict = {}
    tracer = install(timing, trace, argv[argv.index("--pages") + 1])
    spec = importlib.util.spec_from_file_location(
        "run_extraction", os.path.join(ROOT, "jobs", "run_extraction.py")
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    try:
        return job.main(argv)
    finally:
        timing["spans"] = tracer.spans
        with open(timing_path, "w", encoding="utf-8") as fh:
            json.dump(timing, fh)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
