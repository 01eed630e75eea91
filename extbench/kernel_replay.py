"""Single-process replay of corpus rows through ``kernel.page.extract_document``.

The replay runs the rows twice: plain, for ``kernel.docs_per_s_1proc``, and
with the public functions that ``kernel/page.py`` calls wrapped by timers, for
per-stage self time and call counts.  ``page.py`` binds those functions as
module globals, so the wrappers are installed on the ``page`` module for the
duration of the wrapped pass and removed afterwards.  Both passes must return
identical rows.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# stage name → the page-module attributes timed under it
STAGES = {
    "page": ("extract_document",),
    "html_extract": ("extract_main_text",),
    "png": ("decode_png",),
    "deskew": ("maybe_deskew",),
    "crop": ("crop",),
    "grid": ("decode_grid_image",),
    "parse": ("parse_literal_result", "is_error_result"),
    "merge": ("merge_fold",),
    "render": ("render_plaintext",),
    "retry": ("attempt_sub_image",),
}


class StageTimer:
    """Self time (own duration minus wrapped callees) and calls per stage."""

    def __init__(self):
        self.self_s = {s: 0.0 for s in STAGES}
        self.calls = {s: 0 for s in STAGES}
        self.subimages_ok = 0
        self.attempts = 0
        self._child_s: list[float] = []

    def wrap(self, stage: str, fn):
        def timed(*args, **kwargs):
            self._child_s.append(0.0)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                children = self._child_s.pop()
                self.self_s[stage] += dt - children
                self.calls[stage] += 1
                if self._child_s:
                    self._child_s[-1] += dt
            if stage == "retry":
                self.subimages_ok += bool(out[0])
                self.attempts += out[3]
            return out

        return timed


@contextmanager
def wrapped(timer: StageTimer):
    from pdf_drawing_ocr_recognition_spark.kernel import page

    saved = {}
    try:
        for stage, names in STAGES.items():
            for name in names:
                saved[name] = getattr(page, name)
                setattr(page, name, timer.wrap(stage, saved[name]))
        yield page
    finally:
        for name, fn in saved.items():
            setattr(page, name, fn)


def replay(rows, patterns, timer: StageTimer | None = None) -> tuple[list[dict], float]:
    """Extract every (url, html, lang) row; returns (outputs, wall seconds)."""
    from pdf_drawing_ocr_recognition_spark.kernel import page

    if timer is None:
        t0 = time.perf_counter()
        out = [page.extract_document(u, h, l, patterns) for u, h, l in rows]
        return out, time.perf_counter() - t0
    with wrapped(timer) as p:
        t0 = time.perf_counter()
        out = [p.extract_document(u, h, l, patterns) for u, h, l in rows]
        return out, time.perf_counter() - t0


def kernel_metrics(rows, patterns) -> tuple[dict, bool]:
    """(``kernel.*`` metrics, whether wrapped and plain outputs are identical)."""
    plain, wall = replay(rows, patterns)
    timer = StageTimer()
    traced, _ = replay(rows, patterns, timer)
    metrics = {}
    for stage in STAGES:
        metrics[f"kernel.{stage}.self_s"] = timer.self_s[stage]
        metrics[f"kernel.{stage}.calls"] = timer.calls[stage]
    metrics["kernel.docs_per_s_1proc"] = len(rows) / wall
    metrics["kernel.retry.attempts_per_subimage"] = timer.attempts / max(
        timer.calls["retry"], 1
    )
    metrics["kernel.retry.useful_ratio"] = timer.subimages_ok / max(timer.calls["grid"], 1)
    return metrics, plain == traced
