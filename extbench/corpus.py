"""Seeded workload corpora and their single-process oracle digests.

Every corpus is built in one process from ``fixtures.gen_pages.gen_rows(n,
seed)`` and filtered with ``kernel.page.is_grid_payload``; the program under
test only ever sees the resulting parquet files.  A corpus is cached under the
bench work dir keyed by (workload, seed, rows) and carries a content digest,
so a cache entry that was modified or half-written is rebuilt, never trusted.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

# Rows each workload's corpus holds.  The shipped job runs on 10k mixed pages,
# half the 20k at which its 66 input scans and 138 Spark jobs were first
# measured: its shape (64 bucket passes, one Python task per bucket and core)
# does not depend on row count, and at 20k a run with its corpus build took
# up to 107 s on a loaded 4-core host, too long for 26 repeated runs plus the
# grid runs to fit in an hour.  The warm-session corpora are sized so that one
# extract+write pass takes ~1-2.5 s on 4 cores and a run times several passes.
CORPUS_ROWS = {
    "shipped_job": 10000,
    "shipped_resume": 10000,
    "html_pages": 8000,
    "grid_pages": 4000,
}
CORPUS_KIND = {
    "shipped_job": "mixed",
    "shipped_resume": "mixed",
    "html_pages": "html",
    "grid_pages": "grid",
}
N_FILES = 8
TARGET_LANGS = ("en", "zh", "de")  # the job's default --langs
CHECK_COLS = ("status", "error_kind", "extracted_text", "n_cells", "n_subs_failed")
FORMAT_VERSION = 1


def row_digest(status, error_kind, extracted_text, n_cells, n_subs_failed) -> str:
    """Digest of the checked output fields of one url."""
    payload = json.dumps(
        [status, error_kind, extracted_text, int(n_cells), int(n_subs_failed)],
        ensure_ascii=False,
    )
    return hashlib.sha1(payload.encode("utf-8")).hexdigest()


def select_rows(kind: str, n_rows: int, seed: int) -> list[tuple]:
    """First *n_rows* generated rows of the given kind, in generation order."""
    from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import gen_rows
    from pdf_drawing_ocr_recognition_spark.kernel.page import is_grid_payload

    keep = {
        "mixed": lambda html: True,
        "grid": is_grid_payload,
        "html": lambda html: html is not None and not is_grid_payload(html),
    }[kind]
    rows: list[tuple] = []
    start = 0
    step = max(n_rows, 1024)
    while len(rows) < n_rows:
        rows.extend(r for r in gen_rows(start + step, seed, start=start) if keep(r[2]))
        start += step
    return rows[:n_rows]


def _write_parquet(rows: list[tuple], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    per = (len(rows) + N_FILES - 1) // N_FILES
    for f in range(N_FILES):
        chunk = rows[f * per : (f + 1) * per]
        if not chunk:
            break
        url, ts, html, text, lang = zip(*chunk)
        table = pa.table(
            {
                "url": pa.array(url, pa.string()),
                "warc_ts": pa.array(ts, pa.timestamp("us")),
                "html": pa.array(html, pa.binary()),
                "text": pa.array(text, pa.string()),
                "lang": pa.array(lang, pa.string()),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{f:04d}.parquet"))


def _oracle_chunk(rows: list[tuple]) -> dict[str, str]:
    from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS
    from pdf_drawing_ocr_recognition_spark.kernel.page import extract_document

    out = {}
    for url, _ts, html, _text, lang in rows:
        if lang not in TARGET_LANGS:
            continue
        d = extract_document(url, html, lang, PATTERNS)
        out[url] = row_digest(*(d[c] for c in CHECK_COLS))
    return out


def oracle_digests(rows: list[tuple]) -> dict[str, str]:
    """url → digest of ``extract_document``'s output, for rows the job keeps.

    Each call is single-process ``extract_document``; the rows are split over
    one worker process per cpu only to keep corpus builds short.
    """
    from concurrent.futures import ProcessPoolExecutor

    n = len(os.sched_getaffinity(0))
    out: dict[str, str] = {}
    with ProcessPoolExecutor(n) as pool:
        for part in pool.map(_oracle_chunk, [rows[i::n] for i in range(n)]):
            out.update(part)
    return out


def _content_digest(root: str) -> str:
    """Digest of the parquet files, the pattern registry and the oracle."""
    h = hashlib.sha256()
    pages = os.path.join(root, "pages")
    paths = [os.path.join(pages, n) for n in sorted(os.listdir(pages))]
    paths += [os.path.join(root, "patterns.json"), os.path.join(root, "oracle.json")]
    for path in paths:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class Corpus:
    """A cached corpus: parquet dir, pattern registry, oracle digests."""

    def __init__(self, root: str):
        self.root = root
        self.pages = os.path.join(root, "pages")
        self.patterns = os.path.join(root, "patterns.json")
        with open(os.path.join(root, "meta.json"), encoding="utf-8") as fh:
            self.meta = json.load(fh)
        with open(os.path.join(root, "oracle.json"), encoding="utf-8") as fh:
            self.oracle: dict[str, str] = json.load(fh)

    @property
    def input_rows(self) -> int:
        return self.meta["rows"]

    def sample_rows(self, n: int) -> list[tuple]:
        """The first *n* rows of the corpus (url, html, lang), in file order."""
        import pyarrow.parquet as pq

        out: list[tuple] = []
        for name in sorted(os.listdir(self.pages)):
            t = pq.read_table(
                os.path.join(self.pages, name), columns=["url", "html", "lang"]
            ).to_pydict()
            out.extend(zip(t["url"], t["html"], t["lang"]))
            if len(out) >= n:
                break
        return out[:n]


def ensure_corpus(cache_dir: str, workload: str, seed: int) -> Corpus:
    """Build (or validate and reuse) the corpus for (workload, seed, rows)."""
    from pdf_drawing_ocr_recognition_spark.fixtures.gen_pages import PATTERNS
    from pdf_drawing_ocr_recognition_spark.sources.pattern_registry import save_patterns

    kind = CORPUS_KIND[workload]
    rows = CORPUS_ROWS[workload]
    key = f"{kind}-s{seed}-n{rows}-v{FORMAT_VERSION}"
    root = os.path.join(cache_dir, "corpus", key)
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as fh:
            meta = json.load(fh)
        if meta.get("digest") == _content_digest(root):
            return Corpus(root)
    if os.path.exists(root):
        shutil.rmtree(root)
    tmp = root + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    selected = select_rows(kind, rows, seed)
    _write_parquet(selected, os.path.join(tmp, "pages"))
    save_patterns(PATTERNS, os.path.join(tmp, "patterns.json"))
    with open(os.path.join(tmp, "oracle.json"), "w", encoding="utf-8") as fh:
        json.dump(oracle_digests(selected), fh)
    meta = {
        "kind": kind,
        "seed": seed,
        "rows": len(selected),
        "digest": _content_digest(tmp),
    }
    with open(os.path.join(tmp, "meta.json"), "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    os.replace(tmp, root)
    return Corpus(root)


def check_output(out_dir_files: list[str], oracle: dict[str, str]) -> tuple[int, list[str]]:
    """Compare extraction output parquet files against the oracle.

    Returns (rows read, list of problems); an empty list means every expected
    url is present exactly once with the oracle's digest.
    """
    import pyarrow.parquet as pq

    seen: dict[str, str] = {}
    problems: list[str] = []
    n = 0
    for path in out_dir_files:
        t = pq.read_table(path, columns=["url", *CHECK_COLS]).to_pydict()
        for i, url in enumerate(t["url"]):
            n += 1
            seen[url] = row_digest(*(t[c][i] for c in CHECK_COLS))
    if n != len(seen):
        problems.append(f"{n - len(seen)} duplicate urls in output")
    missing = oracle.keys() - seen.keys()
    extra = seen.keys() - oracle.keys()
    if missing:
        problems.append(f"{len(missing)} urls missing from output")
    if extra:
        problems.append(f"{len(extra)} unexpected urls in output")
    bad = [u for u in oracle.keys() & seen.keys() if oracle[u] != seen[u]]
    if bad:
        problems.append(f"{len(bad)} urls differ from the oracle, e.g. {bad[0]}")
    return n, problems
