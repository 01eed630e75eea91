"""Deterministic pages-table generator (FIXTURES.md family A, seed=42).

Synthesizes the engine's real input per ``BASELINE.json:input_hint``:
``url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING``.

Payload mix (deterministic per seeded RNG):

- ~70% templated HTML pages: known main-content paragraphs embedded in
  boilerplate (nav link lists, ads, footers) with controlled link/text density;
- ~25% GRIDDOC grid-page payloads (SURVEY.md D2): PNG rasters with rule-line
  lattices whose cells bit-encode tokens of a Python-literal dict string,
  referencing a ``pattern_name`` for the broadcast-join fixture;
- ~5% edge rows: empty html, error-prefixed decodes, unbalanced braces,
  set literals, unknown patterns, truncated containers, multi-page last-wins
  collisions (ref pdor/pdor_unit.py:270-283), non-target lang.

Hosts are drawn Zipf-like so one host carries ~half the rows (skew fixture for
SURVEY.md M4).  Everything is a pure function of (seed, row index) — no wall
clock, no os.urandom — so any two runs (and the pytest oracle) agree bytewise.
"""

from __future__ import annotations

import hashlib
import struct
from datetime import datetime, timedelta

import numpy as np

from ..kernel.grid import BIT_PX, CELL_PAD, CHAR_BITS, GLYPH_H, LINE_PX
from ..kernel.page import GRID_MAGIC
from ..kernel.png import encode_png

SEED = 42
EPOCH = datetime(2025, 1, 1)

# ---------------------------------------------------------------------------
# pattern dimension (mirrors PdorPattern, ref pdor/pdor_pattern.py:25-73;
# box order [top%, bottom%, left%, right%] per ref pdor/pdor_unit.py:197;
# preset-shaped trio: 11/2/2 boxes, dpi 1390/450/1200 like ref :229-317;
# the empty sub_imgs row must default to full page, ref :73)
# ---------------------------------------------------------------------------


def _vslice_boxes(n: int, denom: int) -> list[list[float]]:
    """n vertical slices over a denom-slice page; exact binary percentages."""
    return [
        [100.0 * i / denom, 100.0 * (i + 1) / denom, 0.0, 100.0] for i in range(n)
    ]


PATTERNS: dict[str, dict] = {
    "grid11": {"name": "grid11", "prompt": "grid-ocr", "dpi": 1390,
               "sub_imgs": _vslice_boxes(11, 16), "slices": 16},
    "grid2": {"name": "grid2", "prompt": "grid-ocr", "dpi": 450,
              "sub_imgs": _vslice_boxes(2, 2), "slices": 2},
    "grid4": {"name": "grid4", "prompt": "grid-ocr", "dpi": 1200,
              "sub_imgs": _vslice_boxes(4, 4), "slices": 4},
    "fullpage": {"name": "fullpage", "prompt": "grid-ocr", "dpi": 450,
                 "sub_imgs": [], "slices": 1},
    # 2x2 quadrants: the only pattern with non-trivial left/right bounds, so
    # the x side of the truncating crop arithmetic (ref pdor/pdor_unit.py:201-202)
    # is exercised on real pages, not just y slices
    "quad": {"name": "quad", "prompt": "grid-ocr", "dpi": 900,
             "sub_imgs": [[0.0, 50.0, 0.0, 50.0], [0.0, 50.0, 50.0, 100.0],
                          [50.0, 100.0, 0.0, 50.0], [50.0, 100.0, 50.0, 100.0]],
             "slices": 2, "layout": "quad"},
    # ---- exact shipped-preset geometries (box coordinates and dpi ARE the
    # reference's spec — the heaviest real workloads; prompts are ours) ----
    # 11 irregular boxes, dpi 1390 (ref pdor/pdor_pattern.py:229-245); note
    # box idx 7 is strictly CONTAINED in box idx 8 — the overlap is part of
    # the shipped geometry and is exercised as-is (the uncovered outer box
    # fails its decode deterministically, like an unreadable crop would).
    "preset11_lcp": {
        "name": "preset11_lcp", "prompt": "grid-ocr breaker-panel wiring",
        "dpi": 1390, "layout": "preset",
        "sub_imgs": [
            [34.45, 54.57, 7.44, 12.09],
            [34.45, 67.89, 16.44, 21.48],
            [34.45, 58.30, 25.41, 30.48],
            [34.45, 67.89, 34.71, 39.72],
            [34.45, 67.89, 43.71, 48.72],
            [34.45, 64.16, 52.58, 57.62],
            [34.45, 64.16, 61.58, 66.62],
            [34.45, 58.84, 80.65, 85.43],
            [34.45, 60.30, 79.58, 86.62],
            [34.45, 44.64, 88.68, 93.64],
            [47.73, 53.67, 88.68, 93.64],
        ],
    },
    # 2 boxes, dpi 450 (ref pdor/pdor_pattern.py:280-285)
    "preset2_tag": {
        "name": "preset2_tag", "prompt": "grid-ocr terminal tags",
        "dpi": 450, "layout": "preset",
        "sub_imgs": [[5.60, 45.20, 47.52, 64.93],
                     [5.60, 93.90, 74.45, 91.76]],
    },
    # 2 boxes, dpi 1200 (ref pdor/pdor_pattern.py:311-317)
    "preset2_term": {
        "name": "preset2_term", "prompt": "grid-ocr terminal strip left",
        "dpi": 1200, "layout": "preset",
        "sub_imgs": [[6.85, 81.44, 45.64, 48.94],
                     [6.85, 86.81, 53.06, 56.39]],
    },
}


# ---------------------------------------------------------------------------
# grid raster encoder (inverse of kernel/grid.py decoder; same constants)
# ---------------------------------------------------------------------------


def encode_grid_image(
    token_rows: list[list[str]],
    n_rows: int | None = None,
    n_cols: int | None = None,
    max_len: int | None = None,
) -> np.ndarray:
    """Draw an R×C rule-line grid whose cells bit-encode *token_rows*.

    Cells are uniform: interior width fits the longest token (or the forced
    *max_len*), interior height one glyph column (8 bits).  The n_rows/n_cols/
    max_len overrides let one page's sub-rasters share identical geometry so
    rule lines span every crop fully.  Returns (H, W) uint8 white bg/black ink.
    """
    n_rows = n_rows or len(token_rows)
    n_cols = n_cols or max(len(r) for r in token_rows)
    max_len = max_len or max((len(t) for row in token_rows for t in row), default=1) or 1
    cell_w = 2 * CELL_PAD + max_len * BIT_PX + BIT_PX  # + terminator column
    cell_h = 2 * CELL_PAD + GLYPH_H
    h = n_rows * cell_h + (n_rows + 1) * LINE_PX
    w = n_cols * cell_w + (n_cols + 1) * LINE_PX
    img = np.full((h, w), 255, dtype=np.uint8)
    for i in range(n_rows + 1):
        y = i * (cell_h + LINE_PX)
        img[y : y + LINE_PX, :] = 0
    for j in range(n_cols + 1):
        x = j * (cell_w + LINE_PX)
        img[:, x : x + LINE_PX] = 0
    for r, row in enumerate(token_rows):
        cy = r * (cell_h + LINE_PX) + LINE_PX + CELL_PAD
        for c, token in enumerate(row):
            cx = c * (cell_w + LINE_PX) + LINE_PX + CELL_PAD
            for j, ch in enumerate(token):
                code = ord(ch)
                if not 1 <= code <= 126:
                    raise ValueError(f"token char out of range: {ch!r}")
                for i in range(CHAR_BITS):
                    if code & (1 << (CHAR_BITS - 1 - i)):
                        y0 = cy + i * BIT_PX
                        x0 = cx + j * BIT_PX
                        img[y0 : y0 + BIT_PX, x0 : x0 + BIT_PX] = 0
    return img


def dict_to_tokens(d: dict, n_cols: int = 3) -> list[list[str]]:
    """Flat str/int dict → token grid spelling its Python-literal repr.

    Tokens concatenate (with any whitespace between) to a valid literal:
    ``{  'k0':  'v0',  'k1':  7,  }`` — trailing comma is legal Python.
    """
    tokens = ["{"]
    for k, v in d.items():
        tokens.append(f"'{k}':")
        tokens.append(f"'{v}'," if isinstance(v, str) else f"{v},")
    tokens.append("}")
    rows = [tokens[i : i + n_cols] for i in range(0, len(tokens), n_cols)]
    rows[-1] += [""] * (n_cols - len(rows[-1]))
    return rows


def build_page_image(pattern: dict, sub_dicts: list) -> np.ndarray:
    """Stack one grid raster per pattern sub-box into a full page image.

    Pattern boxes are exact vertical slices of the page (i/denominator with
    power-of-two-friendly denominators), so the reference's truncating pct→px
    crop (ref pdor/pdor_unit.py:199-202) lands exactly on slice boundaries.
    """
    slices = pattern["slices"]
    n_boxes = len(pattern["sub_imgs"]) or 1
    grids = [d if isinstance(d, list) else dict_to_tokens(d) for d in sub_dicts]
    # uniform geometry across every sub-raster so each crop sees full-span lines
    n_rows = max(len(g) for g in grids)
    n_cols = max(len(r) for g in grids for r in g)
    max_len = max((len(t) for g in grids for r in g for t in r), default=1) or 1
    rasters = [encode_grid_image(g, n_rows, n_cols, max_len) for g in grids]
    slice_h, width = rasters[0].shape
    if pattern.get("layout") == "quad":
        # 2x2 tiling: boxes are pct quadrants, and both dims are even
        # (2*slice_h, 2*width), so int(H*0.5)/int(W*0.5) land exactly on the
        # tile seams — the x-crop twin of the vertical-slice alignment
        page = np.full((2 * slice_h, 2 * width), 255, dtype=np.uint8)
        for i, raster in enumerate(rasters[:n_boxes]):
            r, c = divmod(i, 2)
            page[r * slice_h : (r + 1) * slice_h, c * width : (c + 1) * width] = raster
        return page
    page = np.full((slice_h * slices, width), 255, dtype=np.uint8)
    for i, raster in enumerate(rasters[:n_boxes]):
        page[i * slice_h : (i + 1) * slice_h, :] = raster
    return page


def encode_grid_image_sized(
    token_rows: list[list[str]], target_h: int, target_w: int
) -> np.ndarray:
    """Window-exact grid raster: like ``encode_grid_image`` but exactly
    (target_h, target_w), distributing the slack into the LAST row's height
    and LAST column's width.

    The decoder reads glyphs from each cell's top-left + CELL_PAD and stops
    at the first all-white glyph column, so oversize trailing cells decode
    identically — which lets a raster fill an arbitrary crop window from the
    truncating pct arithmetic (ref pdor/pdor_unit.py:199-204) with every rule
    line spanning the window's full extent (LINE_FRACTION detection).
    """
    n_rows = len(token_rows)
    n_cols = max(len(r) for r in token_rows)
    max_len = max((len(t) for row in token_rows for t in row), default=1) or 1
    cell_w = 2 * CELL_PAD + max_len * BIT_PX + BIT_PX
    cell_h = 2 * CELL_PAD + GLYPH_H
    nat_h = n_rows * cell_h + (n_rows + 1) * LINE_PX
    nat_w = n_cols * cell_w + (n_cols + 1) * LINE_PX
    if nat_h > target_h or nat_w > target_w:
        raise ValueError(
            f"grid {nat_h}x{nat_w} does not fit window {target_h}x{target_w}"
        )
    # line start offsets: regular lattice, final line flush with the far edge
    ys = [i * (cell_h + LINE_PX) for i in range(n_rows)] + [target_h - LINE_PX]
    xs = [j * (cell_w + LINE_PX) for j in range(n_cols)] + [target_w - LINE_PX]
    img = np.full((target_h, target_w), 255, dtype=np.uint8)
    for y in ys:
        img[y : y + LINE_PX, :] = 0
    for x in xs:
        img[:, x : x + LINE_PX] = 0
    for r, row in enumerate(token_rows):
        cy = ys[r] + LINE_PX + CELL_PAD
        for c, token in enumerate(row):
            cx = xs[c] + LINE_PX + CELL_PAD
            for j, ch in enumerate(token):
                code = ord(ch)
                if not 1 <= code <= 126:
                    raise ValueError(f"token char out of range: {ch!r}")
                for i in range(CHAR_BITS):
                    if code & (1 << (CHAR_BITS - 1 - i)):
                        y0 = cy + i * BIT_PX
                        x0 = cx + j * BIT_PX
                        img[y0 : y0 + BIT_PX, x0 : x0 + BIT_PX] = 0
    return img


def build_page_image_preset(
    pattern: dict, sub_dicts: list, page_h: int, page_w: int
) -> np.ndarray:
    """Page for an IRREGULAR preset pattern: one window-exact grid raster per
    box, pasted at the box's truncating-crop pixel window.

    ``sub_dicts[i] = None`` leaves box *i*'s window unpainted (used for the
    outer member of preset11_lcp's contained box pair, whose crop then fails
    its decode deterministically — same behavior as an unreadable region).
    Crop windows are computed with the SAME kernel arithmetic the extractor
    uses (kernel/crop.crop_box), so each decode sees exactly its raster.
    """
    from ..kernel.crop import crop_box

    page = np.full((page_h, page_w), 255, dtype=np.uint8)
    # drawing-sheet frame: full-span border lines let the straight-page gate
    # (kernel/page.maybe_deskew) see axis-aligned rule lines and skip the
    # deskew estimate, like every other straight fixture page.  No preset box
    # touches the page edge, so no crop window sees the frame.
    page[:LINE_PX, :] = 0
    page[-LINE_PX:, :] = 0
    page[:, :LINE_PX] = 0
    page[:, -LINE_PX:] = 0
    for box, d in zip(pattern["sub_imgs"], sub_dicts):
        if d is None:
            continue
        y1, y2, x1, x2 = crop_box(page_h, page_w, tuple(box))
        tokens = d if isinstance(d, list) else dict_to_tokens(d)
        try:
            raster = encode_grid_image_sized(tokens, y2 - y1, x2 - x1)
        except ValueError:
            if isinstance(d, list):
                raise
            # narrow window (e.g. preset2_term's 3.3%-wide strips): fall back
            # to one token per row — tall instead of wide, same literal
            raster = encode_grid_image_sized(
                dict_to_tokens(d, n_cols=1), y2 - y1, x2 - x1
            )
        page[y1:y2, x1:x2] = raster
    return page


def build_griddoc(pattern_name: str, page_images: list[np.ndarray]) -> bytes:
    """Pack page rasters into the GRIDDOC container (kernel/page.py format)."""
    name_b = pattern_name.encode("utf-8")
    out = [GRID_MAGIC, struct.pack(">H", len(name_b)), name_b,
           struct.pack(">I", len(page_images))]
    for img in page_images:
        png = encode_png(img)
        out.append(struct.pack(">I", len(png)))
        out.append(png)
    return b"".join(out)


# ---------------------------------------------------------------------------
# HTML templating
# ---------------------------------------------------------------------------

_WORDS = (
    "signal lattice carbon vector module tensor quartz harbor meadow copper "
    "drawing terminal circuit relay winding busbar feeder breaker anchor pivot "
    "granite osprey lantern furrow tandem zephyr cobalt marble timber sprocket"
).split()

_ZH = "电路图纸端子排接线标号母线断路器继电器绕组馈线识别结果工程制图"


def _rng_words(h: int, n: int) -> str:
    out = []
    for i in range(n):
        h = (h * 6364136223846793005 + 1442695040888963407) & (2**64 - 1)
        out.append(_WORDS[h % len(_WORDS)])
    return " ".join(out)


def _para(h: int, n_words: int = 40) -> str:
    body = _rng_words(h, n_words)
    return body[0].upper() + body[1:] + "."


def make_html(row_hash: int, lang: str) -> tuple[bytes, str, list[str]]:
    """One templated page: (utf-8 bytes, raw full text, expected main paras)."""
    n_paras = 2 + row_hash % 4
    paras = [_para(row_hash + i * 7919) for i in range(n_paras)]
    if lang == "zh":
        zh_piece = "".join(_ZH[(row_hash + i) % len(_ZH)] for i in range(20))
        paras[0] = paras[0] + " " + zh_piece
    if row_hash % 5 == 0:
        paras[1] = paras[1] + " 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 ✓ 🜚"  # non-BMP round-trip fixture
    nav_links = "".join(
        f'<li><a href="/s/{i}">section {i} link</a></li>' for i in range(6)
    )
    ad = '<div class="ad"><a href="/buy">BUY NOW amazing deal</a> <a href="/x">click</a></div>'
    body_paras = "\n".join(f"<p>{p}</p>" for p in paras)
    html = f"""<!DOCTYPE html>
<html><head><title>doc {row_hash % 100000}</title>
<script>var t = {row_hash % 97};</script>
<style>p {{ margin: 0 }}</style></head>
<body>
<nav><ul>{nav_links}</ul></nav>
<header><a href="/">home</a> breadcrumb</header>
<article>
{body_paras}
{ad}
</article>
<footer>copyright 2025 example corp <a href="/tos">terms</a></footer>
</body></html>"""
    raw_text = " ".join(paras) + " section links BUY NOW copyright"
    return html.encode("utf-8"), raw_text, paras


# ---------------------------------------------------------------------------
# corpus assembly
# ---------------------------------------------------------------------------

_HOSTS = [f"host{i:02d}.example.org" for i in range(50)]
_LANGS = ["en", "en", "en", "zh", "de", "en"]


def _h64(*parts) -> int:
    """Stable 64-bit hash of the parts (md5-based; not Python's salted hash)."""
    m = hashlib.md5("|".join(str(p) for p in parts).encode()).digest()
    return struct.unpack(">Q", m[:8])[0]


def _grid_payload(h: int) -> bytes:
    """One deterministic GRIDDOC payload; shape keyed off the hash."""
    variant = h % 10
    if variant < 4:
        # single-page, multi-key dict → sub_{i}_{k} prefixes (ref :280-282);
        # a third use the quad pattern (left/right boxes → x-crop path)
        name = ("grid2", "grid4", "quad")[h % 3]
        pattern = PATTERNS[name]
        subs = []
        for s in range(len(pattern["sub_imgs"])):
            kv = {f"k{j}": (f"v_{(h + s * 31 + j) % 9973:04x}" if j % 2 else (h + j) % 1000)
                  for j in range(2 + (h + s) % 3)}
            subs.append(kv)
        return build_griddoc(name, [build_page_image(pattern, subs)])
    if variant < 7:
        # single-text collapse rows (ref :278-279); a third arrive skewed by a
        # small deterministic angle (north-star deskew path, kernel/deskew.py)
        name = "fullpage"
        d = {"text": f"t_{h % 99991:05x}"}
        page = build_page_image(PATTERNS[name], [d])
        if (h >> 21) % 3 == 0:
            from ..kernel.deskew import rotate_nn

            angle = (1 + (h >> 25) % 8) * 0.25 * (1 if (h >> 23) & 1 else -1)
            pad = int(0.05 * max(page.shape)) + 3
            page = np.pad(page, pad, constant_values=255)
            page = rotate_nn(page, angle)
        return build_griddoc(name, [page])
    if variant < 9:
        # multi-page with colliding sub_idx → last-wins merge (ref :270-283)
        name = "grid2"
        pattern = PATTERNS[name]
        page0 = build_page_image(pattern, [{"text": f"old_{h % 997}"},
                                           {"a": f"p0_{h % 89}"}])
        page1 = build_page_image(pattern, [{"text": f"new_{h % 997}"},
                                           {"a": f"p1_{h % 89}", "b": (h % 7)}])
        return build_griddoc(name, [page0, page1])
    # grid11: the 11-box preset shape
    name = "grid11"
    pattern = PATTERNS[name]
    subs = [{"text": f"s{s}_{(h + s) % 999:03x}"} for s in range(11)]
    return build_griddoc(name, [build_page_image(pattern, subs)])


def _edge_payload(h: int) -> tuple[bytes | None, str]:
    """Fault-injection rows driving A12/A13/A14/A16/A18/A19 paths."""
    variant = h % 6
    name = "fullpage"
    pattern = PATTERNS[name]
    if variant == 0:
        return None, "empty html"
    if variant == 1:
        img = build_page_image(pattern, [[["Error:", "transient", "decode"]]])
        return build_griddoc(name, [img]), "error-prefixed decode (A13)"
    if variant == 2:
        img = build_page_image(pattern, [[["{", "'a':", "'b'"]]])
        return build_griddoc(name, [img]), "unbalanced braces (A14)"
    if variant == 3:
        img = build_page_image(pattern, [[["{", "'a',", "'b'", "}"]]])
        return build_griddoc(name, [img]), "set literal rejected (A16)"
    if variant == 4:
        img = build_page_image(pattern, [{"text": f"orphan_{h % 97}"}])
        return build_griddoc("no_such_pattern", [img]), "unknown pattern"
    return build_griddoc(name, [])[:12], "truncated container"


def gen_rows(n_rows: int, seed: int = SEED, start: int = 0):
    """Yield (url, warc_ts, html, text, lang) tuples for row indices
    [start, n_rows) — a pure function of (seed, index), so any sharding of the
    index range reproduces exactly the same corpus."""
    for i in range(start, n_rows):
        h = _h64(seed, i)
        # Zipf-ish host skew: ~half of all rows land on host00 (M4 fixture)
        host = _HOSTS[0] if h % 2 == 0 else _HOSTS[1 + (h >> 8) % 49]
        url = f"https://{host}/p/{h:016x}"
        ts = EPOCH + timedelta(minutes=int((h >> 16) % (30 * 24 * 60)))
        lang = _LANGS[(h >> 4) % len(_LANGS)]
        kind = h % 100
        if kind < 70:
            html, raw_text, _ = make_html(h, lang)
        elif kind < 95:
            html = _grid_payload(h)
            raw_text = f"griddoc {h % 4}"
        else:
            html, note = _edge_payload(h)
            raw_text = note
            if h % 6 == 5:
                lang = "xx"  # non-target language, filtered by the pipeline
        yield url, ts, html, raw_text, lang


def _write_shard(args) -> str:
    path, seed, lo, hi, idx = args
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    urls, tss, htmls, texts, langs = [], [], [], [], []
    for url, ts, html, text, lang in gen_rows(hi, seed, start=lo):
        urls.append(url)
        tss.append(ts)
        htmls.append(html)
        texts.append(text)
        langs.append(lang)
    table = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(tss, pa.timestamp("us")),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
        }
    )
    out = os.path.join(path, f"part-{idx:04d}.parquet")
    pq.write_table(table, out)
    return out


def write_corpus(
    path: str, n_rows: int, seed: int = SEED, files: int = 8, workers: int | None = None
) -> str:
    """Write the corpus as *files* parquet parts (multi-file so Spark gets
    parallel scan splits).  Shards are generated in parallel processes; the
    result is bit-identical to a serial run because every row is a pure
    function of (seed, row index)."""
    import os
    from concurrent.futures import ProcessPoolExecutor

    os.makedirs(path, exist_ok=True)
    per = (n_rows + files - 1) // files
    shards = [
        (path, seed, f * per, min((f + 1) * per, n_rows), f)
        for f in range(files)
        if f * per < n_rows
    ]
    workers = workers or min(len(shards), os.cpu_count() or 8)
    if workers <= 1:
        for s in shards:
            _write_shard(s)
    else:
        with ProcessPoolExecutor(max_workers=workers) as ex:
            list(ex.map(_write_shard, shards))
    return path


def _write_partitioned_shard(args) -> list[str]:
    path, seed, lo, hi, idx = args
    import os
    from collections import defaultdict

    import pyarrow as pa
    import pyarrow.parquet as pq

    by_day: dict[str, list] = defaultdict(list)
    for row in gen_rows(hi, seed, start=lo):
        by_day[row[1].strftime("%Y-%m-%d")].append(row)
    out = []
    for day, rows in sorted(by_day.items()):
        urls, tss, htmls, texts, langs = zip(*rows)
        table = pa.table(
            {
                "url": pa.array(urls, pa.string()),
                "warc_ts": pa.array(tss, pa.timestamp("us")),
                "html": pa.array(htmls, pa.binary()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
            }
        )
        day_dir = os.path.join(path, f"day={day}")
        os.makedirs(day_dir, exist_ok=True)
        f = os.path.join(day_dir, f"part-{idx:04d}.parquet")
        pq.write_table(table, f)
        out.append(f)
    return out


def write_corpus_partitioned(
    path: str, n_rows: int, seed: int = SEED, files: int = 8, workers: int | None = None
) -> str:
    """Write the corpus Hive-partitioned by ``day=YYYY-MM-DD`` (UTC day of
    ``warc_ts``) — the plain-parquet analogue of an Iceberg ``days(warc_ts)``
    hidden partition.  A time-ranged scan then prunes whole day directories
    (PartitionFilters in the physical plan) before any file is opened, which
    at 10^12 documents is the difference between touching one day and a year.

    Same purity contract as ``write_corpus``: each (shard, day) file is a pure
    function of (seed, row-index range), so regeneration is bit-identical.
    """
    import os
    from concurrent.futures import ProcessPoolExecutor

    os.makedirs(path, exist_ok=True)
    per = (n_rows + files - 1) // files
    shards = [
        (path, seed, f * per, min((f + 1) * per, n_rows), f)
        for f in range(files)
        if f * per < n_rows
    ]
    workers = workers or min(len(shards), os.cpu_count() or 8)
    if workers <= 1:
        for s in shards:
            _write_partitioned_shard(s)
    else:
        with ProcessPoolExecutor(max_workers=workers) as ex:
            list(ex.map(_write_partitioned_shard, shards))
    return path


def write_patterns(path: str) -> str:
    """Write the pattern dimension as JSON (sources/pattern_registry reads it)."""
    import json

    clean = {
        name: {k: v for k, v in p.items() if k not in ("slices", "layout")}
        for name, p in PATTERNS.items()
    }
    with open(path, "w", encoding="utf-8") as f:
        json.dump(clean, f, ensure_ascii=False, indent=2)
    return path


if __name__ == "__main__":
    import sys

    out = sys.argv[1] if len(sys.argv) > 1 else "fixtures_data/pages_small"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 600
    write_corpus(out, n)
    print(f"wrote {n} rows to {out}")
