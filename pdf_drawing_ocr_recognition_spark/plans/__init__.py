"""Pipeline composition + SparkSession configuration."""

from .session import build_session
from .pipeline import extraction_pipeline

__all__ = ["build_session", "extraction_pipeline"]
