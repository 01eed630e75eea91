"""Pattern registry — the reference's simpsave INI store as a JSON dim table.

Mirrors save/load (pdor/pdor_pattern.py:168-187) and constructor validation
(pdor/pdor_pattern.py:25-73).  The validation implements the *documented
intent* — dpi must be an int in 72..1400 — not the reference's buggy check
(``(not isinstance(dpi,int)) and 72<=dpi<=1400`` raises only for in-range
non-ints; SURVEY.md A24).  An empty sub_imgs list is legal and means
full-page (ref :73 default, applied by the extraction kernel).
"""

from __future__ import annotations

import json


class InvalidPatternError(ValueError):
    """Analog of PdorInvalidPatternError (ref pdor/pdor_exception.py:146-157)."""


class MissingConfigError(FileNotFoundError):
    """Analog of PdorMissingConfigError (ref pdor/pdor_exception.py:132-143):
    the pattern registry (the engine's config) is absent at the given path.
    Subclasses FileNotFoundError so existing handlers keep working."""


def validate_pattern(p: dict) -> dict:
    """Validate one pattern dict; returns it unchanged on success."""
    name = p.get("name")
    if not isinstance(name, str) or len(name) == 0:
        raise InvalidPatternError("name (non-empty string)")
    if not isinstance(p.get("prompt"), str):
        raise InvalidPatternError("prompt (string)")
    dpi = p.get("dpi")
    # documented intent of ref pdor/pdor_pattern.py:39-43 (the reference's
    # boolean is inverted-in-part; we enforce int AND range)
    if not isinstance(dpi, int) or not 72 <= dpi <= 1400:
        raise InvalidPatternError("dpi (int in 72..1400)")
    sub_imgs = p.get("sub_imgs")
    if not isinstance(sub_imgs, list):
        raise InvalidPatternError("sub_imgs (list)")
    for box in sub_imgs:
        if len(box) != 4:
            raise InvalidPatternError("sub_imgs (boxes are length-4)")
        if not all(isinstance(v, float) for v in box):
            raise InvalidPatternError("sub_imgs (box values are floats)")
        if not all(0 <= v <= 100 for v in box):
            raise InvalidPatternError("sub_imgs (percentages in 0..100)")
        top, bottom, left, right = box
        if top >= bottom or left >= right:
            raise InvalidPatternError("sub_imgs (empty box range)")
    return p


def load_patterns(path: str) -> dict[str, dict]:
    """Load + validate the registry JSON → {name: pattern}.

    A missing registry file raises :class:`MissingConfigError` (ref
    PdorMissingConfigError semantics: config absence is its own failure kind,
    distinct from an invalid pattern)."""
    try:
        with open(path, "r", encoding="utf-8") as f:
            raw = json.load(f)
    except FileNotFoundError as e:
        raise MissingConfigError(f"pattern registry not found: {path}") from e
    return {name: validate_pattern(p) for name, p in raw.items()}


def save_patterns(patterns: dict[str, dict], path: str) -> str:
    """Validate + write the registry (ref save, pdor/pdor_pattern.py:168-177)."""
    for p in patterns.values():
        validate_pattern(p)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(patterns, f, ensure_ascii=False, indent=2)
    return path
