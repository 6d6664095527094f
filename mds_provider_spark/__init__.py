"""mds_provider_spark — a PySpark-native schema + constraint validation engine.

A from-scratch, Spark-first re-expression of the capabilities of
CityofSantaMonica/mds-provider (a row-at-a-time Python JSON-Schema
validation / ETL library — see SURVEY.md): declarative rule sets compiled
to Catalyst expressions evaluated in ONE whole-stage-codegen projection,
per-column statistics and sketches with explicit partial/merge stages,
two-stage (partial/merge) duplicate-key checks, referential anti-joins,
drift detection from GK quantile and HLL distinct sketches, vectorized
(Arrow) audio PCM checks, and checkpointed, resumable runs with
per-partition lineage + metrics. JSON-Schema documents compile to the
same rule sets (schema_compiler: one keyword table for every position).

Reference parity map (symbol-anchored; reference mirror was empty, see
SURVEY.md §0):
  - mds/schemas.py DataValidator/DataValidationError  -> rules.RuleSet / violation rows
  - mds/files.py DataFile                             -> sources.payloads
  - mds/providers.py Registry                         -> sources.registry
  - mds/db.py Database.load (stage+upsert)            -> plans.checkpoint (idempotent partition commits)
  - mds/encoding.py                                   -> functions.encoding
  - mds/fake/                                         -> sources.fixtures (deterministic, seeded)
"""

from mds_provider_spark.rules import (  # noqa: F401
    Rule,
    RuleSet,
    not_null,
    is_in,
    in_range,
    matches,
    non_empty,
    castable,
    array_size,
    elements_in,
    unique_key,
)
from mds_provider_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
