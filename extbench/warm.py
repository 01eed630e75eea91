"""Warm-session runner: one SparkSession, timed extract+write passes, floors.

    python3 extbench/warm.py <spec.json>

Runs as the benchmark's child process so that set-up time and the process
tree's RSS are measured the same way as for the shipped job.  The spec names
the corpus, the work dir, the seconds to measure and what to do; the result
(set-up timestamps, one record per pass, floors) goes to ``spec["result"]``.
Every pass writes ``plans.pipeline.extraction_pipeline`` to a fresh parquet
dir, which the parent checks against the oracle.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

MIN_PASSES = 3


def main(spec_path: str) -> int:
    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)
    from job_entry import floors, probe_python

    from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS
    from pdf_drawing_ocr_recognition_spark.plans.pipeline import extraction_pipeline
    from pdf_drawing_ocr_recognition_spark.plans.session import build_session

    result: dict = {"passes": []}
    spark = build_session(
        app="extbench-warm", master=f"local[{spec['cpus']}]", extra=spec["confs"]
    )
    result["session_ready"] = time.time()
    sc = spark.sparkContext
    sc.setJobDescription("setup:probe")
    probe_python(spark)
    result["python_ready"] = time.time()

    def one_pass(label: str, out: str) -> dict:
        sc.setJobDescription(label)
        t = time.perf_counter()
        extraction_pipeline(spark, spec["pages"], PATTERNS).write.parquet(out)
        return {"label": label, "out": out, "wall_s": time.perf_counter() - t}

    work = spec["work"]
    result["warmup"] = one_pass("warmup", os.path.join(work, "pass-warmup"))
    t_start = time.perf_counter()
    while (
        len(result["passes"]) < MIN_PASSES
        or time.perf_counter() - t_start < spec["seconds"]
    ):
        i = len(result["passes"])
        result["passes"].append(one_pass(f"pass#{i}", os.path.join(work, f"pass-{i}")))
    if spec["floors"]:
        result["floors"] = floors(spark, spec["pages"])
    spark.stop()
    with open(spec["result"], "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
