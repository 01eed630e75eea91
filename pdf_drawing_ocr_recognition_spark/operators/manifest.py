"""Checkpoint/lineage manifests — idempotent resume (SURVEY.md M5, A21).

Generalizes the reference's parse-once guard (pdor/pdor_unit.py:303-306,
is_parsed :323-328) into job-level machinery for 10^12-document runs:

- work is partitioned into **buckets** by ``pmod(xxhash64(url), n_buckets)``
  (content-addressed, independent of file layout, stable across runs);
- resume = read committed manifests, **left-anti join** the input's buckets
  against them, and keep only the remainder;
- the remainder is **staged once** under ``<out>/_pending/bucket=K/`` (one
  scan of the input, shuffled on ``bucket``).  A filter on the computed
  bucket column cannot reach the parquet scan, so filtering the input per
  bucket would re-read all of it for every bucket; each bucket job instead
  reads only its own staged slice;
- bucket jobs run from a bounded driver thread pool, as wide as the cores by
  default; each completed bucket commits its result parquet (temp dir +
  rename to ``bucket=K/``) and then its manifest entry
  ``_manifest/bucket-K.json`` (temp file + rename), then drops its staged
  slice.  A re-run after a kill re-does at most the buckets in flight, and
  re-doing one is harmless because the kernel is deterministic and the
  commit is atomic.

The manifest entries are small JSON files next to the results
(:func:`read_manifest` turns them into a DataFrame), so lineage (which bucket
produced which rows, at what throughput) is queryable with the same engine.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def bucket_of(url_col, n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def manifest_path(output_dir: str) -> str:
    return os.path.join(output_dir, "_manifest")


def read_manifest(spark: SparkSession, output_dir: str) -> DataFrame:
    """Committed-bucket manifest (empty frame when no run has committed yet)."""
    path = manifest_path(output_dir)
    schema = "bucket INT, n_rows LONG, n_failed LONG, wall_s DOUBLE, committed_ts STRING"
    files = (
        [f for f in os.listdir(path) if f.endswith(".json")]
        if os.path.isdir(path)
        else []
    )
    if not files:
        return spark.createDataFrame([], schema)
    rows = []
    for f in sorted(files):
        with open(os.path.join(path, f), "r", encoding="utf-8") as fh:
            rows.append(json.load(fh))
    return spark.createDataFrame(rows, schema)


def pending_inputs(
    pages: DataFrame, manifest: DataFrame, n_buckets: int
) -> DataFrame:
    """Inputs minus completed buckets — the resume delta (left-anti join).

    The manifest side is tiny (≤ n_buckets rows) so Catalyst broadcasts it;
    the anti join therefore adds no shuffle to the big side.
    """
    with_bucket = pages.withColumn("bucket", bucket_of(F.col("url"), n_buckets))
    done = manifest.select("bucket")
    return with_bucket.join(F.broadcast(done), "bucket", "left_anti")


def _commit_bucket(output_dir: str, bucket: int, n_rows: int, n_failed: int, wall_s: float) -> None:
    """Atomic manifest commit: write temp file, fsync, rename."""
    path = manifest_path(output_dir)
    os.makedirs(path, exist_ok=True)
    payload = {
        "bucket": bucket,
        "n_rows": n_rows,
        "n_failed": n_failed,
        "wall_s": wall_s,
        "committed_ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    tmp = os.path.join(path, f".bucket-{bucket:05d}.json.tmp")
    final = os.path.join(path, f"bucket-{bucket:05d}.json")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(payload, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, final)


def _stage_pending(
    pages: DataFrame, manifest: DataFrame, n_buckets: int, staged: str
) -> list[int]:
    """Write the resume delta once as ``<staged>/bucket=K/`` slices; returns
    the staged bucket ids, read from the directory names.

    The rebalance hint shuffles on ``bucket`` before the write, so each
    slice lands as a few files that its bucket job reads on its own.
    """
    (
        pending_inputs(pages, manifest, n_buckets)
        .hint("rebalance", "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(staged)
    )
    return sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(staged) if d.startswith("bucket=")
    )


def _process_bucket(
    spark: SparkSession,
    staged: str,
    schema,
    bucket: int,
    extract_fn,
    output_dir: str,
) -> None:
    """One restartable unit of work: read slice → extract → write → commit.

    Row/failure stats are collected DURING the write via ``Observation``
    (accumulator-backed query metrics), so the bucket's data is scanned
    exactly once — no post-write re-read of the parquet.  The slice is read
    with the input's *schema*, which spares a schema-inference job per
    bucket, and is deleted once the bucket's manifest has committed.
    """
    from pyspark.sql import Observation

    t0 = time.time()
    slice_dir = os.path.join(staged, f"bucket={bucket}")
    result = extract_fn(spark.read.schema(schema).parquet(slice_dir))
    obs = Observation(f"bucket_{bucket}")
    observed = result.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("status") == "failed").cast("long")).alias("nf"),
    )
    tmp_dir = os.path.join(output_dir, f".bucket={bucket}.tmp")
    final_dir = os.path.join(output_dir, f"bucket={bucket}")
    observed.write.mode("overwrite").parquet(tmp_dir)
    stats = obs.get
    if os.path.isdir(final_dir):
        shutil.rmtree(final_dir)
    os.replace(tmp_dir, final_dir)
    _commit_bucket(
        output_dir, bucket, stats["n"], stats["nf"] or 0, time.time() - t0
    )
    shutil.rmtree(slice_dir)


def run_with_manifest(
    spark: SparkSession,
    pages: DataFrame,
    extract_fn,
    output_dir: str,
    n_buckets: int = 8,
    max_concurrency: int | None = None,
) -> DataFrame:
    """Run extraction bucket-by-bucket with manifest commits; returns results.

    Stages the pending input once under ``<output_dir>/_pending``, then runs
    one restartable job per staged bucket (see the module docstring) from a
    driver pool of ``max_concurrency`` threads (default:
    ``defaultParallelism``; 1 runs the buckets in turn).  Bucket results land
    via directory rename, so readers never observe half-written buckets; a
    killed run loses at most the buckets in flight, and re-invoking it
    processes only the remainder.
    """
    manifest = read_manifest(spark, output_dir)
    staged = os.path.join(output_dir, "_pending")
    done = {r["bucket"] for r in manifest.collect()}
    buckets = (
        []
        if done >= set(range(n_buckets))
        else _stage_pending(pages, manifest, n_buckets, staged)
    )
    width = max_concurrency or spark.sparkContext.defaultParallelism
    with ThreadPoolExecutor(max_workers=width) as pool:
        futures = [
            pool.submit(
                _process_bucket, spark, staged, pages.schema, b, extract_fn, output_dir
            )
            for b in buckets
        ]
        for f in futures:
            f.result()  # surface the first failure, after all complete
    shutil.rmtree(staged, ignore_errors=True)
    return spark.read.option("basePath", output_dir).parquet(
        os.path.join(output_dir, "bucket=*")
    )
