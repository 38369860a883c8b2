"""Scalar / text function library (JVM-side Spark expressions only)."""

from slower_whisper_spark.functions.hashing import canonical_hash

__all__ = ["canonical_hash"]
