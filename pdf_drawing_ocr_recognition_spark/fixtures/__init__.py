"""Deterministic fixture generators (seed=42) — FIXTURES.md family A."""

from .gen_pages import (
    PATTERNS,
    build_griddoc,
    encode_grid_image,
    write_corpus,
    write_patterns,
)

__all__ = [
    "PATTERNS",
    "build_griddoc",
    "encode_grid_image",
    "write_corpus",
    "write_patterns",
]
