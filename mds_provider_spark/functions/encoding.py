"""Encoding helpers — parity with mds/encoding.py (≈L10–90).

The reference ships a JSON encoder/decoder pair translating between wire
format (ms-epoch ints, UUID strings, GeoJSON dicts) and Python objects.
Spark-native: these are Column transforms, kept JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from mds_provider_spark.schema import UUID_RE


def is_uuid(col: Column | str) -> Column:
    return (F.col(col) if isinstance(col, str) else col).rlike(UUID_RE)


def normalize_name(col: Column | str) -> Column:
    """Provider-name normalization (mds/providers.py ≈L30–60)."""
    return F.lower(F.trim(F.col(col) if isinstance(col, str) else col))
