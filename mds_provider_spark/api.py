"""High-level facade — the switch-over surface for mds-provider users.

Maps the reference's entry points (SURVEY.md §3) onto the engine:

  DataValidator.trips(ref) / .validate(instance)   (mds/schemas.py)
      -> Validator(ruleset).validate(df) -> ValidationResult
  Client.get_trips(...)                            (mds/api.py)
      -> spark.read (Iceberg/parquet/json payloads) — ingestion is a scan
  Database.load_trips(...)                         (mds/db.py)
      -> ValidationRun (plans/runner.py): checkpointed writes + lineage

One object, three calls: build rules, validate, inspect. ``Validator``
and ``ValidationRun`` build their violations with the same
``plans.runner.keyed_violations``, so both report the same rows;
``Validator``'s verdicts count the same keyed frame
(``plans.runner.keyed_verdicts``), built once per ``validate``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from mds_provider_spark import rules as R
from mds_provider_spark.functions import audio
from mds_provider_spark.plans.runner import keyed_plan, keyed_verdicts, keyed_violations


@dataclass
class ValidationResult:
    """The distributed analog of the reference's error iterator: lazy
    DataFrames instead of a generator of DataValidationError objects."""

    violations: DataFrame
    verdicts: DataFrame

    def is_valid(self) -> bool:
        """Payload-valid ⇔ no violations (DataValidator semantics)."""
        return self.violations.isEmpty()

    def describe(self, n: int = 100) -> list[str]:
        """Human-readable lines (DataValidationError.describe analog)."""
        return [
            f"{r.rule_id} @ {r.clip_id}: {r.message}"
            for r in self.violations.limit(n).collect()
        ]

    def rates(self, n_rows: int, z: float = 1.959964) -> DataFrame:
        """Per-rule violation rate with a Wilson score interval
        (rules.violation_rates) — gate on ``ci_high``, not a wiggling
        point estimate."""
        return R.violation_rates(self.violations, n_rows, z=z)

    def examples(self, k: int = 5) -> DataFrame:
        """Deterministic k specimen rows per rule
        (integrity.sample_per_group) — triage without collecting a
        violation set that may itself be billions of rows."""
        from pyspark.sql import functions as F

        from mds_provider_spark.operators.integrity import sample_per_group

        v = self.violations.withColumn("_h", F.md5("clip_id"))
        return sample_per_group(
            v, ["rule_id"], ["_h", "clip_id"], k=k
        ).drop("_h")


@dataclass
class Validator:
    """Compile-once, validate-many (Schema fetch/cache analog)."""

    ruleset: R.RuleSet = field(default_factory=R.mds_clip_rules)
    ref_wave_fn: audio.RefWaveFn | None = None
    min_snr_db: float = 30.0
    # optional schema contract: validate() raises BEFORE evaluating any
    # rule if the input's columns drifted (operators/diff.schema_drift)
    expected_schema: object | None = None

    @classmethod
    def clips(cls, ref_wave_fn: audio.RefWaveFn | None = None) -> "Validator":
        """Named constructor parity with DataValidator.trips/.status_changes."""
        return cls(ruleset=R.mds_clip_rules(), ref_wave_fn=ref_wave_fn)

    @classmethod
    def from_schema(
        cls,
        schema: dict,
        key_col: str,
        part_col: str = "part_id",
        unique=None,
        strict: bool = True,
        **kwargs,
    ) -> "Validator":
        """``DataValidator(schema_document)`` parity: compile an MDS
        JSON-Schema document — nested GeoJSON objects and object-arrays
        included — straight into a Validator (mds/schemas.py builds its
        validator from the fetched schema doc the same way)."""
        from mds_provider_spark.schema_compiler import from_json_schema

        rs, _ = from_json_schema(
            schema, key_col=key_col, part_col=part_col, unique=unique, strict=strict
        )
        return cls(ruleset=rs, **kwargs)

    @classmethod
    def from_profile(
        cls,
        df: DataFrame,
        key_col: str,
        part_col: str = "part_id",
        **suggest_kwargs,
    ) -> "Validator":
        """Learn the contract FROM the data (profiler workflow): profile
        ``df``, compile the suggested suite, enforce it on every future
        generation. Pass ``robust_k=...`` for outlier-resistant ranges."""
        from mds_provider_spark.operators import profiler as PR

        sugg = PR.suggest_rules(df, **suggest_kwargs)
        return cls(ruleset=PR.to_ruleset(sugg, key_col=key_col,
                                         part_col=part_col))

    def validate(
        self, df: DataFrame, transcripts: DataFrame | None = None
    ) -> ValidationResult:
        if self.expected_schema is not None:
            from mds_provider_spark.operators.diff import enforce_schema

            enforce_schema(df, self.expected_schema)
        rs = self.ruleset
        pcm = (
            audio.pcm_violations(df, self.ref_wave_fn, self.min_snr_db,
                                 key_col=rs.key_col, part_col=rs.part_col)
            if self.ref_wave_fn is not None else None
        )
        plan = keyed_plan(rs, df, transcripts)
        return ValidationResult(violations=keyed_violations(plan, pcm),
                                verdicts=keyed_verdicts(plan, pcm))
