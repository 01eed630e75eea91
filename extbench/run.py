"""Extraction benchmark: the shipped job and warm-session kernel workloads.

    python3 extbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (closed loop: one client, one Spark application at a time, at
``local[<cpus>]``):

- ``shipped_job``: ``spark-submit jobs/run_extraction.py`` at its defaults
  (64 buckets, concurrency 1) into a fresh ``--out``, over the mixed corpus.
- ``shipped_resume``: the same command re-invoked on an ``--out`` where a
  fixed half of the buckets is already committed.
- ``html_pages`` / ``grid_pages``: ``plans.pipeline.extraction_pipeline`` →
  ``.write.parquet`` in one warm session over an HTML-only / GRIDDOC-only
  corpus.

Every output is checked against the single-process ``extract_document``
oracle.  With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` a separate traced run (event log on, job
descriptions, kernel replay, floors) carries the per-layer metrics.  The
line before it is the host record.  Corpora, the py-files zip and all Spark
scratch space live under ``.bench_build/extbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "pdf_drawing_ocr_recognition_spark"
JOB = os.path.join(ROOT, "jobs", "run_extraction.py")
WORK = os.path.join(ROOT, ".bench_build", "extbench")
RUN_BUDGET_S = 165.0  # from process start; the whole invocation must end within 180 s
SHIPPED = ("shipped_job", "shipped_resume")
WARM = ("html_pages", "grid_pages")
N_BUCKETS = 64  # run_extraction.py's default --buckets
KERNEL_SAMPLE = 1000
END_TO_END = {"docs_per_s": "docs/s", "wall_s": "s", "setup_s": "s"}
# Measured every run and printed in the host record, but left without a bound:
# the Spark driver's JVM heap grows in one or two steps from run to run, so
# peak RSS is bimodal.
UNBOUNDED = {"peak_rss_mb": "MB"}
# Only the shipped job commits manifest buckets, so only its runs report these
# (host record, no bound: they are not defined on every listed workload).
SHIPPED_ONLY = {"first_commit_s": "s", "bucket_s.p50": "s", "bucket_s.p95": "s"}

sys.path.insert(0, HERE)

from corpus import TARGET_LANGS  # noqa: E402
from eventlog import p95  # noqa: E402


def pending_buckets() -> set[int]:
    """The fixed half of the buckets that ``shipped_resume`` leaves to do."""
    return set(range(1, N_BUCKETS, 2))


def build_resume_state(out_dir: str, pending: set[int]) -> None:
    """Turn a completed job output into a killed run's: drop the *pending*
    buckets' ``bucket=K/`` dirs and ``_manifest`` files, and the sidecars a
    killed run would not have written yet."""
    for k in pending:
        shutil.rmtree(os.path.join(out_dir, f"bucket={k}"), ignore_errors=True)
        path = os.path.join(out_dir, "_manifest", f"bucket-{k:05d}.json")
        if os.path.exists(path):
            os.remove(path)
    for side in ("_metrics", "_metrics_cells"):
        shutil.rmtree(os.path.join(out_dir, side), ignore_errors=True)


def code_digest() -> str:
    """Digest of the code a run measures: the package, the job and the bench."""
    import hashlib

    h = hashlib.sha256()
    paths = [JOB, *sorted(glob.glob(os.path.join(HERE, "*.py")))]
    for root, _dirs, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        paths += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build_pyfiles() -> str:
    """Zip the package from the checkout's sources, as ``--py-files`` wants."""
    import zipfile

    out = os.path.join(WORK, "pdor_spark.zip")
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(os.path.join(ROOT, PKG)):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(root, f)
                    z.write(path, os.path.relpath(path, ROOT))
    os.replace(out + ".tmp", out)
    return out


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int):
        from host import cpus

        self.workload = workload
        self.seed = seed
        self.digest = code_digest()
        self.seconds = seconds
        self.cpus = cpus()
        self.t_start = time.monotonic()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.notes: list[str] = []
        self.tmp = os.path.join(WORK, "tmp")
        self.run_dir = os.path.join(WORK, "run")

    # -- plumbing ---------------------------------------------------------
    def remaining(self) -> float:
        return RUN_BUDGET_S - (time.monotonic() - self.t_start)

    def fresh_run_dir(self) -> str:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        return self.run_dir

    def java_opts(self) -> str:
        return (
            f"-Dderby.system.home={WORK}/derby -Djava.io.tmpdir={self.tmp} "
            "-XX:-UsePerfData"
        )

    def env(self) -> dict:
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_GRAFT_WAREHOUSE=os.path.join(WORK, "warehouse"),
            SPARK_LOCAL_DIRS=os.path.join(self.tmp, "local"),
            TMPDIR=self.tmp,
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
            SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        )
        env.pop("SPARK_GRAFT_MASTER", None)
        return env

    def eventlog_confs(self, run_dir: str) -> dict:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{ev}",
        }

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)
        print(f"[extbench] {self.workload}: {msg}", file=sys.stderr)

    # -- shipped job ------------------------------------------------------
    def resume_base(self, corpus, pyfiles: str) -> str:
        """Committed half of a job output for this corpus (built once, untimed)."""
        base = os.path.join(corpus.root, "resume_base")
        if os.path.exists(os.path.join(base, "_READY")):
            return base
        shutil.rmtree(base, ignore_errors=True)
        rec = self.launch_shipped(corpus, pyfiles, base, trace=False)
        if rec is None:
            raise RuntimeError("could not build the shipped_resume start state")
        build_resume_state(base, pending_buckets())
        open(os.path.join(base, "_READY"), "w").close()
        return base

    def launch_shipped(self, corpus, pyfiles: str, out: str, trace: bool) -> dict | None:
        """One ``spark-submit`` of the job into *out*; None if it failed."""
        from host import Child

        run_dir = self.fresh_run_dir()
        confs = {"spark.ui.showConsoleProgress": "false"}
        if trace:
            confs.update(self.eventlog_confs(run_dir))
        argv = [
            shutil.which("spark-submit") or "spark-submit",
            "--master", f"local[{self.cpus}]",
            "--driver-java-options", self.java_opts(),
            "--py-files", pyfiles,
        ]
        for k, v in confs.items():
            argv += ["--conf", f"{k}={v}"]
        argv += [
            os.path.join(HERE, "job_entry.py"),
            "--pages", corpus.pages,
            "--patterns", corpus.patterns,
            "--out", out,
        ]
        env = self.env()
        timing_path = os.path.join(run_dir, "timing.json")
        env["EXTBENCH_TIMING"] = timing_path
        env["EXTBENCH_TRACE"] = "1" if trace else "0"
        before = set(glob.glob(os.path.join(out, "_manifest", "*.json")))
        child = Child(argv, env, os.path.join(run_dir, "job.log"), run_dir)
        code, end = child.wait(self.remaining())
        if code != 0:
            self.fail(f"job exited with {code} (log: {run_dir}/job.log)")
            return None
        with open(os.path.join(run_dir, "job.log"), encoding="utf-8", errors="replace") as fh:
            m = re.search(r"extraction complete: (\d+) documents", fh.read())
        with open(timing_path, encoding="utf-8") as fh:
            timing = json.load(fh)
        committed = [
            p for p in glob.glob(os.path.join(out, "_manifest", "*.json")) if p not in before
        ]
        if not committed:
            self.fail("job committed no bucket")
            return None
        manifests = []
        for p in committed:
            with open(p, encoding="utf-8") as fh:
                manifests.append(json.load(fh))
        return {
            "launch": child.launch,
            "end": end,
            "timing": timing,
            "reported_docs": int(m.group(1)) if m else None,
            "docs": sum(x["n_rows"] for x in manifests),
            "bucket_walls": [x["wall_s"] for x in manifests],
            "first_commit": min(os.path.getmtime(p) for p in committed),
            "peak_rss_kb": child.peak_rss_kb,
            "run_dir": run_dir,
        }

    def shipped_once(self, corpus, pyfiles: str, trace: bool) -> dict | None:
        out = os.path.join(WORK, "out")
        shutil.rmtree(out, ignore_errors=True)
        if self.workload == "shipped_resume":
            shutil.copytree(self.resume_base(corpus, pyfiles), out)
            os.remove(os.path.join(out, "_READY"))
        self.attempted += 1
        rec = self.launch_shipped(corpus, pyfiles, out, trace)
        if rec is None:
            return None
        from corpus import check_output

        files = glob.glob(os.path.join(out, "bucket=*", "*.parquet"))
        _n, problems = check_output(files, corpus.oracle)
        if rec["reported_docs"] != len(corpus.oracle):
            problems.append(f"job reported {rec['reported_docs']} documents")
        if problems:
            self.fail("; ".join(problems))
            return None
        t = rec["timing"]
        setup = t["python_ready"] - rec["launch"]
        wall = rec["end"] - rec["launch"]
        rec["metrics"] = {
            "docs_per_s": rec["docs"] / (wall - setup - t.get("floors_s", 0.0)),
            "wall_s": wall,
            "setup_s": setup,
            "first_commit_s": rec["first_commit"] - rec["launch"],
            "bucket_s.p50": statistics.median(rec["bucket_walls"]),
            "bucket_s.p95": p95(rec["bucket_walls"]),
            "peak_rss_mb": rec["peak_rss_kb"] / 1024,
        }
        return rec

    # -- warm session -----------------------------------------------------
    def warm_once(self, corpus, trace: bool):
        from corpus import check_output
        from host import Child

        run_dir = self.fresh_run_dir()
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": self.java_opts(),
        }
        if trace:
            confs.update(self.eventlog_confs(run_dir))
        spec = {
            "cpus": self.cpus,
            "confs": confs,
            "pages": corpus.pages,
            "work": run_dir,
            "seconds": self.seconds,
            "floors": trace,
            "result": os.path.join(run_dir, "result.json"),
        }
        spec_path = os.path.join(run_dir, "spec.json")
        with open(spec_path, "w", encoding="utf-8") as fh:
            json.dump(spec, fh)
        argv = [sys.executable, os.path.join(HERE, "warm.py"), spec_path]
        env = self.env()
        # Python workers import the package from the checkout; the shipped
        # job gets it from --py-files instead.
        env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
        child = Child(argv, env, os.path.join(run_dir, "warm.log"), run_dir)
        code, _end = child.wait(self.remaining())
        if code != 0:
            self.attempted += 1
            self.fail(f"warm session exited with {code} (log: {run_dir}/warm.log)")
            return None
        with open(spec["result"], encoding="utf-8") as fh:
            res = json.load(fh)
        res["run_dir"] = run_dir
        res["launch"] = child.launch
        self.attempted += 1 + len(res["passes"])  # the warm-up pass is checked too
        ok = []
        for p in [res["warmup"], *res["passes"]]:
            n, problems = check_output(
                glob.glob(os.path.join(p["out"], "*.parquet")), corpus.oracle
            )
            if problems:
                self.fail(f"{p['label']}: " + "; ".join(problems))
            elif p is not res["warmup"]:
                ok.append(p)
            p["docs"] = n
            shutil.rmtree(p["out"])
        if len(ok) != len(res["passes"]):
            return None
        res["metrics"] = {
            "docs_per_s": statistics.median(p["docs"] / p["wall_s"] for p in ok),
            "wall_s": statistics.median(p["wall_s"] for p in ok),
            "setup_s": res["python_ready"] - child.launch,
            "peak_rss_mb": child.peak_rss_kb / 1024,
        }
        return res

    # -- runs -------------------------------------------------------------
    def measure(self, corpus, pyfiles: str) -> dict | None:
        """Closed loop for ``--seconds``; medians of every end-to-end metric.

        A warm session loops over passes for ``--seconds`` itself; the shipped
        job is launched again while time is left, and at least once.
        """
        if self.workload in WARM:
            rec = self.warm_once(corpus, trace=False)
            recs = [rec] if rec else []
        else:
            recs = []
            t0 = time.monotonic()
            while not recs or (
                time.monotonic() - t0 < self.seconds
                and self.remaining() > 1.5 * recs[-1]["metrics"]["wall_s"]
            ):
                rec = self.shipped_once(corpus, pyfiles, trace=False)
                if rec is None:
                    recs = []
                    break
                recs.append(rec)
        if not recs:
            return None
        merged = {
            k: statistics.median(r["metrics"][k] for r in recs) for k in recs[0]["metrics"]
        }
        _log_result({"workload": self.workload, "seed": self.seed, "code": self.digest}, merged)
        return merged

    def traced(self, corpus, pyfiles: str) -> dict | None:
        """One traced run; per-layer metrics.

        The tracing overhead and ``parallel_efficiency`` are taken against
        untraced runs of the same workload, seed and code digest logged in
        this checkout, or else against one untraced run made now when the
        time budget allows it (in practice always, on the warm workloads).
        """
        from eventlog import EventLog
        from kernel_replay import kernel_metrics

        from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS

        t0 = time.monotonic()
        if self.workload in SHIPPED:
            rec = self.shipped_once(corpus, pyfiles, trace=True)
            if rec is None:
                return None
            t = rec["timing"]
            ev = EventLog(os.path.join(rec["run_dir"], "eventlog"))
            layers = ev.summarize(
                corpus.pages,
                corpus.input_rows,
                lambda d: d != "setup:probe" and not d.startswith("floor:"),
            )
            spans = t["spans"]
            layers.update(
                {
                    "manifest.buckets_committed": len(rec["bucket_walls"]),
                    "manifest.run_s": _span_s(spans, "run_with_manifest"),
                    "manifest.read_s": _span_s(spans, "read_manifest"),
                }
            )
            floors = t["floors"]
            traced_wall = rec["metrics"]["wall_s"] - t["floors_s"]
            busy_wall = traced_wall
        else:
            rec = self.warm_once(corpus, trace=True)
            if rec is None:
                return None
            t = rec
            ev = EventLog(os.path.join(rec["run_dir"], "eventlog"))
            layers = ev.summarize(
                corpus.pages,
                corpus.input_rows,
                lambda d: d.startswith("pass#"),
                runs=len(rec["passes"]),
            )
            layers.update(
                {"manifest.buckets_committed": 0, "manifest.run_s": 0.0, "manifest.read_s": 0.0}
            )
            floors = rec["floors"]
            traced_wall = rec["metrics"]["wall_s"]
            busy_wall = statistics.mean(p["wall_s"] for p in rec["passes"])
        rows = [r for r in corpus.sample_rows(2 * KERNEL_SAMPLE) if r[2] in TARGET_LANGS]
        kernel, same = kernel_metrics(rows[:KERNEL_SAMPLE], PATTERNS)
        if not same:
            self.fail("wrapped kernel replay differs from the plain replay")
        key = {"workload": self.workload, "seed": self.seed, "code": self.digest}
        baseline = _logged_median(key)
        # an untraced run takes about as long as the traced one; leave room for
        # the host to slow down, since a run cut by the budget fails the command
        if baseline is None and self.remaining() > 2 * (time.monotonic() - t0):
            baseline = self.measure(corpus, pyfiles)
        if baseline is None:
            self.notes.append(
                "no untraced run of this seed and code: trace.overhead_s is 0 and "
                "parallel_efficiency uses the traced docs_per_s"
            )
            baseline = {"wall_s": traced_wall, "docs_per_s": rec["metrics"]["docs_per_s"]}
        layers.update(kernel)
        layers.update(
            {
                "session.start_s": t["session_ready"] - rec["launch"],
                "session.first_python_task_s": t["python_ready"] - t["session_ready"],
                "floor.scan_s": floors["scan_s"],
                "floor.arrow_roundtrip_s": floors["arrow_roundtrip_s"],
                "exec.busy_share": layers.pop("exec.run_s") / (self.cpus * busy_wall),
                "parallel_efficiency": baseline["docs_per_s"]
                / (self.cpus * kernel["kernel.docs_per_s_1proc"]),
                "trace.overhead_s": traced_wall - baseline["wall_s"],
            }
        )
        return layers


def _span_s(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def _log_result(key: dict, metrics: dict) -> None:
    """Append an untraced result, keyed by workload, seed and code digest."""
    with open(os.path.join(WORK, "results.jsonl"), "a", encoding="utf-8") as fh:
        fh.write(json.dumps({**key, "metrics": metrics}) + "\n")


def _logged_median(key: dict) -> dict | None:
    """Median docs_per_s and wall_s of the logged untraced runs matching *key*."""
    path = os.path.join(WORK, "results.jsonl")
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        rows = [
            r["metrics"]
            for r in map(json.loads, fh)
            if all(r.get(k) == v for k, v in key.items())
        ]
    if not rows:
        return None
    return {k: statistics.median(r[k] for r in rows) for k in ("docs_per_s", "wall_s")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=SHIPPED + WARM)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, PKG)) and os.path.isfile(JOB)):
        print(
            f"extbench: no {PKG}/ package or jobs/run_extraction.py in {ROOT}; "
            "run from a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    # a SIGTERM unwinds through Child.wait, which reaps the Spark processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(os.path.join(WORK, "tmp", "local"), exist_ok=True)
    from corpus import ensure_corpus
    from host import RunLock, host_record

    bench = Bench(args.workload, args.seed, args.seconds)
    with RunLock(os.path.join(WORK, "lock")):
        corpus = ensure_corpus(WORK, args.workload, args.seed)
        pyfiles = build_pyfiles()
        if args.trace:
            metrics = bench.traced(corpus, pyfiles)
            units = PER_LAYER_UNITS
        else:
            metrics = bench.measure(corpus, pyfiles)
            units = END_TO_END
        host = host_record()
    host.update(
        workload=args.workload,
        seed=args.seed,
        corpus_rows=corpus.input_rows,
        oracle_rows=len(corpus.oracle),
        failed_share=bench.failed / max(bench.attempted, 1),
        problems=bench.problems,
        notes=bench.notes,
    )
    if metrics and not args.trace:
        extra = {**UNBOUNDED, **SHIPPED_ONLY}
        host["unbounded"] = {
            k: {"value": metrics[k], "unit": u} for k, u in extra.items() if k in metrics
        }
    print(json.dumps({"host": host}))
    correct = metrics is not None and bench.failed == 0
    if not correct:
        return 1
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {
                    k: {"value": metrics[k], "unit": u} for k, u in units.items()
                },
            }
        )
    )
    return 0


def _per_layer_units() -> dict[str, str]:
    from kernel_replay import STAGES

    units = {
        "session.start_s": "s",
        "session.first_python_task_s": "s",
        "scan.records_read": "count",
        "scan.read_amplification": "ratio",
        "scan.time_s": "s",
        "arrow.bytes_to_python": "bytes",
        "arrow.bytes_from_python": "bytes",
        "arrow.python_tasks": "count",
        "arrow.python_init_s": "s",
        "arrow.python_run_s": "s",
        "floor.scan_s": "s",
        "floor.arrow_roundtrip_s": "s",
    }
    for stage in STAGES:
        units[f"kernel.{stage}.self_s"] = "s"
        units[f"kernel.{stage}.calls"] = "count"
    units.update(
        {
            "kernel.docs_per_s_1proc": "docs/s",
            "kernel.retry.attempts_per_subimage": "ratio",
            "kernel.retry.useful_ratio": "ratio",
            "manifest.spark_jobs": "count",
            "manifest.buckets_committed": "count",
            "manifest.run_s": "s",
            "manifest.read_s": "s",
            "write.bytes": "bytes",
            "write.files": "count",
            "write.task_commit_s": "s",
            "metrics.sidecar_s": "s",
            "metrics.sidecar_records_read": "count",
            "exec.busy_share": "ratio",
            "exec.task_s.p50": "s",
            "exec.task_s.p95": "s",
            "jvm.gc_s": "s",
            "parallel_efficiency": "ratio",
            "trace.overhead_s": "s",
        }
    )
    return units


PER_LAYER_UNITS = _per_layer_units()

if __name__ == "__main__":
    sys.exit(main())
