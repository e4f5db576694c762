"""Declarative validation config models (the public API).

Mirrors the YAML surface of the reference engine
(/root/reference/datapact/config.py:20-251) so an existing DataPact user
can bring their config file unchanged, and extends it with the
north-star checks the reference lacks: referential integrity,
distribution drift, and per-partition verdicts.

All models are pydantic v2; ``load_config`` parses a YAML file into
``DataPactConfig``.
"""

from __future__ import annotations

import re
from pathlib import Path

import yaml
from pydantic import BaseModel, Field, field_validator, model_validator

_IDENT_RE = re.compile(r"[^0-9a-zA-Z_]+")

AGG_FUNCS = {"SUM", "AVG", "MIN", "MAX", "COUNT"}
PRIORITIES = {"critical", "high", "medium", "low"}
HASH_ALGOS = {"md5", "sha256", "xxhash64"}
DRIFT_METRICS = {"psi", "ks", "tv"}


def make_identifier(name: str, prefix: str = "custom_sql") -> str:
    """Slug a friendly name into a SQL-identifier-safe token.

    Same contract as the reference's ``make_sql_identifier``
    (/root/reference/datapact/sql_utils.py:157-167): lower-case,
    non-alphanumerics collapsed to ``_``, prefixed if it starts with a
    digit, trimmed.
    """
    slug = _IDENT_RE.sub("_", name.strip().lower()).strip("_")
    if not slug:
        slug = prefix
    if slug[0].isdigit():
        slug = f"{prefix}_{slug}"
    return slug


class CustomSqlTest(BaseModel):
    """A user-defined SQL test run against both source and target.

    ``sql`` may reference ``{{ table_fqn }}`` (dual-rendered once per
    side), or ``{{ source_fqn }}`` / ``{{ target_fqn }}`` explicitly —
    the same template contract as the reference
    (/root/reference/datapact/sql_generator.py:26-83).
    """

    name: str
    sql: str
    description: str | None = None
    # Dataset-fingerprint strategy for the pass/fail hash comparison:
    # 'commutative' (default) = sum(xxhash64(row)) + count — a plain
    # aggregate with map-side partials, no collect, safe at any scale;
    # 'reference' = sha2 over the sorted collect_list of row md5s —
    # bit-compatible with validation.sql.j2:268-277 but materializes
    # every row hash on one node (opt in only for small result sets).
    fingerprint: str = "commutative"

    @field_validator("fingerprint")
    @classmethod
    def _validate_fingerprint(cls, v: str) -> str:
        if v not in {"commutative", "reference"}:
            raise ValueError("fingerprint must be 'commutative' or 'reference'")
        return v

    @field_validator("name")
    @classmethod
    def _validate_name(cls, value: str) -> str:
        trimmed = value.strip()
        if not trimmed:
            raise ValueError("Custom SQL test name cannot be empty.")
        if len(trimmed) > 128:
            raise ValueError("Custom SQL test name must be 128 characters or fewer.")
        if not re.fullmatch(r"[A-Za-z0-9_\-\s]+", trimmed):
            raise ValueError(
                "Custom SQL test name may only contain letters, numbers, "
                "spaces, underscores, and hyphens."
            )
        return trimmed

    @field_validator("sql")
    @classmethod
    def _validate_sql(cls, value: str) -> str:
        stripped = value.strip()
        if not stripped:
            raise ValueError("Custom SQL must be provided.")
        if stripped.endswith(";"):
            raise ValueError("Custom SQL should not include a trailing semicolon.")
        return stripped

    @property
    def cte_base_name(self) -> str:
        return make_identifier(self.name)


class AggValidationDetail(BaseModel):
    """One aggregate check: ``{agg: SUM, tolerance: 0.05}``."""

    agg: str
    tolerance: float

    @field_validator("agg")
    @classmethod
    def _validate_agg(cls, value: str) -> str:
        if value.upper() not in AGG_FUNCS:
            raise ValueError(f"agg must be one of {sorted(AGG_FUNCS)}")
        return value

    @field_validator("tolerance")
    @classmethod
    def _validate_tol(cls, v: float) -> float:
        if not 0.0 <= v <= 1.0:
            raise ValueError("Tolerance must be a float between 0.0 and 1.0")
        return v


class AggValidation(BaseModel):
    """Aggregate validations for one column."""

    column: str
    validations: list[AggValidationDetail]


class ConstraintCheck(BaseModel):
    """Row-level CHECK-constraint validation (the "schema + constraint"
    surface of the north star; no reference counterpart — the reference
    covers this only via hand-written custom SQL tests).

    ``predicate`` is a SQL boolean expression evaluated per row of the
    task's (filtered) source and/or target slice; rows where it does
    not hold are violations, and the check passes when
    ``violations / rows <= tolerance``. ``null_passes`` selects the
    NULL semantics: ``True`` (default) is ANSI CHECK-constraint
    behavior (UNKNOWN passes), ``False`` treats a NULL predicate as a
    violation (the strict data-quality reading).

    Scale shape: each constraint compiles to ONE commutative ``SUM``
    folded into the side's existing single-pass stats profile scan
    (operators/profile.py) — N constraints cost zero extra scans and
    zero extra shuffles; a side with constraints but no other profiled
    stats gets one standalone 1-row aggregate.
    """

    name: str
    predicate: str
    tolerance: float = 0.0
    side: str = "source"  # source | target | both
    null_passes: bool = True

    @field_validator("name")
    @classmethod
    def _validate_name(cls, v: str) -> str:
        # becomes column suffixes and a violations directory segment
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", v):
            raise ValueError(
                "constraint check name must be a simple identifier "
                "(letters, digits, underscores; not starting with a digit)"
            )
        return v

    @field_validator("predicate")
    @classmethod
    def _validate_predicate(cls, v: str) -> str:
        normalized = v.strip()
        if not normalized:
            raise ValueError("Constraint predicate cannot be empty.")
        if normalized.endswith(";"):
            raise ValueError(
                "Constraint predicate should not include a trailing semicolon."
            )
        from datapact_spark.functions.filters import validate_filter_text

        return validate_filter_text(normalized)

    @field_validator("tolerance")
    @classmethod
    def _validate_tol(cls, v: float) -> float:
        if not 0.0 <= v <= 1.0:
            raise ValueError("Tolerance must be a float between 0.0 and 1.0")
        return v

    @field_validator("side")
    @classmethod
    def _validate_side(cls, v: str) -> str:
        if v not in {"source", "target", "both"}:
            raise ValueError("side must be source, target, or both")
        return v


class FreshnessCheck(BaseModel):
    """Data-freshness (SLA) check: fail the task when
    ``reference_time - MAX(column)`` exceeds ``max_age_hours``. The
    reference time is the task's ``validation_begin_ts`` (one
    deterministic instant per compile, embedded as a plan literal — the
    verdict does not drift while the job runs). An empty slice (NULL
    max) fails: no data is stale data.

    Compiles to ONE commutative ``MAX`` folded into the side's
    single-pass profile scan — zero extra scans (same symmetric-fold
    rule as ``ConstraintCheck``).
    """

    column: str
    max_age_hours: float
    side: str = "source"  # source | target | both

    @field_validator("max_age_hours")
    @classmethod
    def _validate_age(cls, v: float) -> float:
        if v <= 0:
            raise ValueError("max_age_hours must be positive")
        return v

    @field_validator("side")
    @classmethod
    def _validate_side(cls, v: str) -> str:
        if v not in {"source", "target", "both"}:
            raise ValueError("side must be source, target, or both")
        return v


class SchemaCheck(BaseModel):
    """Declarative schema validation (the "schema" half of the north
    star's "schema + constraint validation"; no reference counterpart).

    Compares the source and target schemas as METADATA — zero scans,
    zero Spark jobs — and fails the task on divergence:

    * ``mode="exact"`` — same column set, same types;
    * ``mode="subset"`` — every source column must exist in the target
      with a matching type (the target may carry extras);
    * ``mode="names"`` — column sets must match, types ignored.

    ``ignore_nullability`` (default True) treats ``INT`` and
    ``INT NOT NULL`` as equal — Spark nullability is advisory for most
    sources. ``ignore_order`` (default True) compares as sets; set
    False to also require identical column order.
    """

    mode: str = "exact"
    ignore_nullability: bool = True
    ignore_order: bool = True

    @field_validator("mode")
    @classmethod
    def _validate_mode(cls, v: str) -> str:
        if v not in {"exact", "subset", "names"}:
            raise ValueError("mode must be exact, subset, or names")
        return v


class ReferentialCheck(BaseModel):
    """Referential-integrity check (north-star addition, BASELINE.json).

    Child rows (in the task's source table) whose ``fk_columns`` have no
    match in ``ref_table``'s ``ref_columns`` are violations. Compiles to
    a broadcast or sort-merge LEFT ANTI join (strategy is a hint;
    Catalyst/AQE decides when ``auto``).
    """

    name: str
    fk_columns: list[str]
    ref_table: str
    ref_columns: list[str]
    tolerance: float = 0.0
    strategy: str = "auto"  # auto | broadcast | shuffle

    @field_validator("name")
    @classmethod
    def _validate_name(cls, v: str) -> str:
        # the name becomes column suffixes AND a violations directory
        # segment — restrict to identifier characters
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", v):
            raise ValueError(
                "referential check name must be a simple identifier "
                "(letters, digits, underscores; not starting with a digit)"
            )
        return v

    @field_validator("strategy")
    @classmethod
    def _validate_strategy(cls, v: str) -> str:
        if v not in {"auto", "broadcast", "shuffle"}:
            raise ValueError("strategy must be auto, broadcast, or shuffle")
        return v

    @model_validator(mode="after")
    def _validate_cols(self) -> "ReferentialCheck":
        if len(self.fk_columns) != len(self.ref_columns):
            raise ValueError("fk_columns and ref_columns must have the same length")
        if not self.fk_columns:
            raise ValueError("fk_columns cannot be empty")
        return self


class DriftCheck(BaseModel):
    """Distribution-drift check vs a stored baseline snapshot.

    Builds a mergeable histogram/quantile sketch of ``column`` per run
    (vectorized, Arrow-batched) and compares against the baseline with
    PSI and/or KS thresholds (north-star addition, BASELINE.json).
    """

    column: str
    metric: str = "psi"  # psi | ks
    threshold: float = 0.2
    bins: int = 64
    # sketch family: "histogram" = fixed-grid counts (drift.py);
    # "tdigest" = mergeable quantile digest (quantiles.py) — PSI/KS on
    # equal-mass bins cut at the baseline's quantiles
    sketch: str = "histogram"
    delta: float = 200.0  # t-digest compression (~delta/2 centroids)
    # "numeric" (default): binned/quantile sketches over a numeric
    # column; "categorical": frequency-based drift over a discrete
    # column — the comparison frame is the source's top-`bins`
    # categories plus an __OTHER__ bucket, scored with PSI or total
    # variation ("tv"); sketches don't apply (validated)
    kind: str = "numeric"
    # "target": two-sample source-vs-target drift (the table-pair model);
    # "snapshot": compare the source against a stored baseline histogram
    # (bootstrap on first run), the north-star lifecycle
    baseline: str = "target"

    @field_validator("metric")
    @classmethod
    def _validate_metric(cls, v: str) -> str:
        if v not in DRIFT_METRICS:
            raise ValueError(f"metric must be one of {sorted(DRIFT_METRICS)}")
        return v

    @field_validator("baseline")
    @classmethod
    def _validate_baseline(cls, v: str) -> str:
        if v not in {"target", "snapshot"}:
            raise ValueError("baseline must be 'target' or 'snapshot'")
        return v

    @field_validator("kind")
    @classmethod
    def _validate_kind(cls, v: str) -> str:
        if v not in {"numeric", "categorical"}:
            raise ValueError("kind must be 'numeric' or 'categorical'")
        return v

    @model_validator(mode="after")
    def _validate_categorical(self):
        if self.kind == "categorical":
            if self.sketch != "histogram":
                raise ValueError(
                    "categorical drift has no sketch family — leave sketch "
                    "at its default"
                )
            if self.metric not in {"psi", "tv"}:
                raise ValueError(
                    "categorical drift metric must be 'psi' or 'tv' (KS "
                    "needs an ordered domain)"
                )
        elif self.metric == "tv":
            raise ValueError("metric 'tv' is categorical-only")
        return self

    @field_validator("sketch")
    @classmethod
    def _validate_sketch(cls, v: str) -> str:
        if v == "kll":
            raise ValueError(
                "sketch 'kll' was removed; use sketch: tdigest, which scores "
                "PSI/KS on the same equal-mass bins of the baseline"
            )
        if v not in {"histogram", "tdigest"}:
            raise ValueError("sketch must be 'histogram' or 'tdigest'")
        return v


class ValidationTask(BaseModel):
    """One source/target table-pair validation task.

    Field-for-field compatible with the reference's ``ValidationTask``
    (/root/reference/datapact/config.py:95-238), plus:

    * ``source`` / ``target`` — direct table refs (FQN or registered
      name) as an alternative to the 3-part catalog/schema/table fields.
    * ``hash_algo`` — row-hash function (md5 parity default; sha256 and
      xxhash64 for the north-star contract).
    * ``partition_by`` — emit per-partition verdicts grouped by these
      columns (e.g. ``[repo, lang]``) in addition to the task verdict.
    * ``referential_checks`` / ``drift_checks`` — north-star checks.
    * ``materialize_violations`` — write violation rows (hash
      mismatches, duplicate keys, FK orphans) next to the ledger.
    """

    task_key: str
    # 3-part refs (reference parity) — optional if source/target given.
    source_catalog: str | None = None
    source_schema: str | None = None
    source_table: str | None = None
    target_catalog: str | None = None
    target_schema: str | None = None
    target_table: str | None = None
    # direct refs (engine-native)
    source: str | None = None
    target: str | None = None

    primary_keys: list[str] | None = None
    filter: str | None = None
    count_tolerance: float | None = None
    pk_row_hash_check: bool | None = Field(default=False)
    pk_hash_tolerance: float | None = None
    hash_columns: list[str] | None = None
    null_validation_tolerance: float | None = None
    null_validation_columns: list[str] | None = None
    agg_validations: list[AggValidation] | None = None
    uniqueness_columns: list[str] | None = None
    uniqueness_tolerance: float | None = None
    # 'auto' (default: exact COUNT(DISTINCT struct) in the single-pass
    # profile) | 'approx' (HyperLogLog++ in the same profile, ~1% rsd,
    # NO key shuffle — for tolerances ≫ rsd). Saved configs' 'parity'
    # and 'scalable' load as 'auto'. Per-partition verdicts always
    # count exactly.
    uniqueness_strategy: str = "auto"
    business_domain: str | None = None
    business_owner: str | None = None
    business_priority: str | None = None
    expected_sla_hours: float | None = None
    estimated_impact_usd: float | None = None
    custom_sql_tests: list[CustomSqlTest] | None = None
    # ---- engine-native extensions ----
    hash_algo: str = "md5"
    # Grouped row-hash strategy for per-partition verdicts:
    # 'join' (default) PK-joins every row — reference join semantics,
    #   including fan-out under duplicate PKs;
    # 'fingerprint' compares per-group commutative (pk,hash) fingerprints
    #   and PK-joins ONLY fingerprint-unequal groups — shuffles ~nothing
    #   when most groups are clean. Bit-identical to 'join' only when PKs
    #   are unique per group, so it REQUIRES a uniqueness check on (a
    #   subset of) the PKs; groups with dup PKs are routed to the exact
    #   join (see plans/compiler.py ``fp_in_profile``);
    # 'fingerprint_multiset' — same plan WITHOUT the uniqueness
    #   requirement: group equality is (pk, row_hash) MULTISET equality.
    #   Never misses corruption (unequal multisets always fingerprint-
    #   unequal, collision ~2^-64), but on a multiset-equal group with
    #   duplicate PKs it reports 0 mismatches where 'join' would report
    #   fan-out cross-pairs. The max-scale mode when an exact distinct
    #   count (a full PK-tuple shuffle) is not worth paying for.
    row_hash_mode: str = "join"
    # How fingerprint mode scopes the exact join to fingerprint-unequal
    # groups: 'broadcast' (default) hints the failing-key list to the
    # driver — optimal when data is mostly clean (the designed regime);
    # 'auto' omits the hint so AQE picks broadcast vs shuffled join from
    # the key list's ACTUAL size at runtime — safe under widespread
    # corruption, where an unbounded broadcast could OOM the driver.
    fingerprint_scope_join: str = "broadcast"
    partition_by: list[str] | None = None
    # resume granularity (checkpointed batches; each batch re-filters the
    # input, so more batches = finer resume but more scans)
    partition_batches: int = 4
    schema_check: SchemaCheck | bool | None = None
    freshness_checks: list[FreshnessCheck] | None = None
    referential_checks: list[ReferentialCheck] | None = None
    constraint_checks: list[ConstraintCheck] | None = None
    drift_checks: list[DriftCheck] | None = None
    materialize_violations: bool = False

    @field_validator("schema_check")
    @classmethod
    def _normalize_schema_check(cls, v):
        # YAML `schema_check: true` means the default exact-mode check;
        # `false`/absent means no check
        if v is True:
            return SchemaCheck()
        if v is False:
            return None
        return v

    @field_validator("filter")
    @classmethod
    def _validate_filter(cls, value: str | None) -> str | None:
        if value is None:
            return value
        normalized = value.strip()
        if not normalized:
            raise ValueError("Filter cannot be empty or whitespace.")
        if normalized.endswith(";"):
            raise ValueError("Filter should not include a trailing semicolon.")
        from datapact_spark.functions.filters import validate_filter_text

        return validate_filter_text(normalized)

    @field_validator(
        "count_tolerance",
        "pk_hash_tolerance",
        "null_validation_tolerance",
        "uniqueness_tolerance",
    )
    @classmethod
    def _tolerance_ratio(cls, v: float | None) -> float | None:
        if v is not None and not (0.0 <= v <= 1.0):
            raise ValueError("Tolerance must be a float between 0.0 and 1.0")
        return v

    @field_validator("business_priority")
    @classmethod
    def _validate_priority(cls, value: str | None) -> str | None:
        if value is None:
            return value
        normalized = value.strip().lower()
        if normalized not in PRIORITIES:
            raise ValueError("business_priority must be one of: Critical, High, Medium, Low")
        return normalized.upper()

    @field_validator("expected_sla_hours", "estimated_impact_usd")
    @classmethod
    def _validate_non_negative(cls, value: float | None) -> float | None:
        if value is not None and value < 0:
            raise ValueError("value must be greater than or equal to 0")
        return value

    @field_validator("hash_algo")
    @classmethod
    def _validate_hash_algo(cls, v: str) -> str:
        if v not in HASH_ALGOS:
            raise ValueError(f"hash_algo must be one of {sorted(HASH_ALGOS)}")
        return v

    @field_validator("uniqueness_strategy")
    @classmethod
    def _validate_uniq_strategy(cls, v: str) -> str:
        if v not in {"auto", "parity", "scalable", "approx"}:
            raise ValueError(
                "uniqueness_strategy must be auto or approx "
                "(parity and scalable load as auto)"
            )
        return "approx" if v == "approx" else "auto"

    @field_validator("row_hash_mode")
    @classmethod
    def _validate_row_hash_mode(cls, v: str) -> str:
        if v not in {"join", "fingerprint", "fingerprint_multiset"}:
            raise ValueError(
                "row_hash_mode must be join, fingerprint, or fingerprint_multiset"
            )
        return v

    @field_validator("fingerprint_scope_join")
    @classmethod
    def _validate_fingerprint_scope_join(cls, v: str) -> str:
        if v not in {"broadcast", "auto"}:
            raise ValueError("fingerprint_scope_join must be broadcast or auto")
        return v

    @model_validator(mode="after")
    def _validate_fingerprint_requires_pk_uniqueness(self) -> "ValidationTask":
        # fingerprint row-hash mode is only exact when PKs are unique per
        # group (plans/compiler.py ``fp_in_profile``: equal multisets
        # with duplicate PKs fingerprint-match while the join path would
        # count cross-pair mismatches). Enforce the guard at
        # compile time: a uniqueness check over (a subset of) the primary
        # keys must be configured — uniqueness of a PK subset implies PK
        # uniqueness — so dup-PK data fails the uniqueness check loudly
        # and (in the default compiled plan) dup groups are routed to the
        # exact join path instead of trusting their fingerprints.
        # 'fingerprint_multiset' opts out: documented multiset-equality
        # semantics instead of join parity (see row_hash_mode comment).
        if self.row_hash_mode == "fingerprint" and self.pk_row_hash_check:
            pks = set(self.primary_keys or [])
            uniq = set(self.uniqueness_columns or [])
            has_pk_uniqueness = (
                bool(uniq)
                and uniq.issubset(pks)
                and self.uniqueness_tolerance is not None
            )
            if not has_pk_uniqueness:
                raise ValueError(
                    "row_hash_mode='fingerprint' requires a uniqueness check "
                    "on (a subset of) the primary keys: set "
                    "uniqueness_columns to PK columns and a "
                    "uniqueness_tolerance; or use row_hash_mode='join' "
                    "(reference join semantics under duplicate PKs) or "
                    "'fingerprint_multiset' (multiset-equality semantics, "
                    "no uniqueness check needed)"
                )
        return self

    @field_validator("partition_batches")
    @classmethod
    def _validate_partition_batches(cls, v: int) -> int:
        if v < 1:
            raise ValueError("partition_batches must be >= 1")
        return v

    @model_validator(mode="after")
    def _validate_refs(self) -> "ValidationTask":
        has_parts = all(
            getattr(self, f) is not None
            for f in ("source_catalog", "source_schema", "source_table")
        )
        if self.source is None and not has_parts:
            raise ValueError(
                "Provide either `source` or source_catalog/source_schema/source_table"
            )
        has_tparts = all(
            getattr(self, f) is not None
            for f in ("target_catalog", "target_schema", "target_table")
        )
        if self.target is None and not has_tparts:
            raise ValueError(
                "Provide either `target` or target_catalog/target_schema/target_table"
            )
        return self

    @model_validator(mode="after")
    def _validate_custom_sql(self) -> "ValidationTask":
        tests = self.custom_sql_tests or []
        seen: set[str] = set()
        cte_names: dict[str, str] = {}
        for test in tests:
            lowered = test.name.lower()
            if lowered in seen:
                raise ValueError(
                    f"Duplicate custom SQL test name detected: '{test.name}'. "
                    "Names must be unique per task."
                )
            seen.add(lowered)
            normalized = make_identifier(test.name)
            collision = cte_names.get(normalized)
            if collision:
                raise ValueError(
                    "Custom SQL test names must remain unique even after sanitization. "
                    f"'{test.name}' conflicts with '{collision}'."
                )
            cte_names[normalized] = test.name
        return self

    @model_validator(mode="after")
    def _validate_unique_metric_names(self) -> "ValidationTask":
        # duplicate (column, agg) / (column, metric) pairs would alias
        # the same metric column twice and fail the crossJoin at compile
        # with an ambiguous-column error — reject them up front
        seen_aggs: set[tuple[str, str]] = set()
        for av in self.agg_validations or []:
            for v in av.validations:
                key = (av.column, v.agg.upper())
                if key in seen_aggs:
                    raise ValueError(
                        f"Duplicate agg validation {key[1]} on column '{key[0]}'"
                    )
                seen_aggs.add(key)
        seen_drift: set[tuple[str, str]] = set()
        for dc in self.drift_checks or []:
            key = (dc.column, dc.metric)
            if key in seen_drift:
                raise ValueError(
                    f"Duplicate drift check '{key[1]}' on column '{key[0]}'"
                )
            seen_drift.add(key)
        seen_constraints: set[str] = set()
        for cc in self.constraint_checks or []:
            if cc.name in seen_constraints:
                raise ValueError(f"Duplicate constraint check name '{cc.name}'")
            seen_constraints.add(cc.name)
        seen_fresh: set[str] = set()
        for fc in self.freshness_checks or []:
            if fc.column in seen_fresh:
                raise ValueError(
                    f"Duplicate freshness check on column '{fc.column}'"
                )
            seen_fresh.add(fc.column)
        return self

    # ---- helpers ----
    @property
    def source_ref(self) -> str:
        if self.source is not None:
            return self.source
        return f"{self.source_catalog}.{self.source_schema}.{self.source_table}"

    @property
    def target_ref(self) -> str:
        if self.target is not None:
            return self.target
        return f"{self.target_catalog}.{self.target_schema}.{self.target_table}"

    def source_parts(self) -> tuple[str, str, str]:
        if self.source_catalog is not None:
            return (self.source_catalog, self.source_schema, self.source_table)
        parts = (self.source or "").split(".")
        while len(parts) < 3:
            parts.insert(0, "")
        return tuple(parts[-3:])  # type: ignore[return-value]

    def target_parts(self) -> tuple[str, str, str]:
        if self.target_catalog is not None:
            return (self.target_catalog, self.target_schema, self.target_table)
        parts = (self.target or "").split(".")
        while len(parts) < 3:
            parts.insert(0, "")
        return tuple(parts[-3:])  # type: ignore[return-value]

    def has_any_check(self) -> bool:
        return bool(
            self.count_tolerance is not None
            or (self.pk_row_hash_check and self.primary_keys)
            or (self.null_validation_columns and self.null_validation_tolerance is not None)
            or self.agg_validations
            or (self.uniqueness_columns and self.uniqueness_tolerance is not None)
            or self.custom_sql_tests
            or self.schema_check
            or self.freshness_checks
            or self.referential_checks
            or self.constraint_checks
            or self.drift_checks
        )


PIPELINE_STAGE_KINDS = (
    "filter",
    "lang_filter",
    "strip_boilerplate",
    "redact_pii",
    "exact_dedup",
    "split",
    "chunk",
    "pack",
)


class PipelineStageSpec(BaseModel):
    """One declarative curation stage. ``kind`` selects the operator;
    the remaining fields are that kind's parameters (validated when the
    stage list is compiled by ``pipeline.build_stages`` — the factory
    owns parameter semantics, this model owns the YAML surface)."""

    kind: str
    name: str | None = None          # defaults to kind (suffixed on dups)
    where: str | None = None         # filter: SQL boolean expression
    keep_langs: list[str] | None = None  # lang_filter
    min_docs: int = 2                # strip_boilerplate
    fractions: dict[str, float] | None = None  # split
    keep: str | None = None          # split: which fraction survives
    max_tokens: int = 512            # chunk
    overlap: int = 64                # chunk
    context_len: int = 2048          # pack
    shards: int = 64                 # pack

    @field_validator("kind")
    @classmethod
    def _known_kind(cls, v: str) -> str:
        if v not in PIPELINE_STAGE_KINDS:
            raise ValueError(
                f"unknown pipeline stage kind {v!r}; expected one of "
                f"{', '.join(PIPELINE_STAGE_KINDS)}"
            )
        return v


class PipelineSpec(BaseModel):
    """A declarative corpus-curation pipeline over a document table:
    resumable stage-boundary materialization via
    ``pipeline.PipelineRunner`` (every stage writes parquet + a commit
    marker; a killed run resumes at the boundary)."""

    pipeline_key: str
    source: str
    id_column: str = "doc_id"
    text_column: str = "text"
    stages: list[PipelineStageSpec] = Field(min_length=1)

    @model_validator(mode="after")
    def _stage_order(self) -> "PipelineSpec":
        kinds = [s.kind for s in self.stages]
        # chunk changes the schema to (id, chunk_id, ...); pack consumes
        # chunks — document-level stages cannot follow either
        if "pack" in kinds and "chunk" not in kinds:
            raise ValueError("pack requires a preceding chunk stage")
        for boundary in ("chunk", "pack"):
            if boundary in kinds:
                idx = kinds.index(boundary)
                tail = kinds[idx + 1:]
                allowed = {"pack"} if boundary == "chunk" else set()
                bad = [k for k in tail if k not in allowed]
                if bad:
                    raise ValueError(
                        f"stage(s) {bad} cannot follow {boundary!r} — "
                        "chunking replaces the document schema"
                    )
        return self


class DataPactConfig(BaseModel):
    """Root config: validation tasks and/or curation pipelines plus
    run-level options."""

    validations: list[ValidationTask] = []
    pipelines: list[PipelineSpec] = []
    results_path: str | None = None
    max_parallel_tasks: int = 8

    @model_validator(mode="after")
    def _unique_task_keys(self) -> "DataPactConfig":
        if not self.validations and not self.pipelines:
            raise ValueError(
                "config must declare at least one validation or pipeline"
            )
        seen: set[str] = set()
        for t in self.validations:
            if t.task_key in seen:
                raise ValueError(f"Duplicate task_key: {t.task_key}")
            seen.add(t.task_key)
        pseen: set[str] = set()
        for p in self.pipelines:
            if p.pipeline_key in pseen:
                raise ValueError(f"Duplicate pipeline_key: {p.pipeline_key}")
            pseen.add(p.pipeline_key)
        return self


def load_config(path: str | Path) -> DataPactConfig:
    """Parse a YAML config file into a validated ``DataPactConfig``."""
    raw = yaml.safe_load(Path(path).read_text())
    if not isinstance(raw, dict):
        raise ValueError(f"Config file {path} must contain a YAML mapping")
    return DataPactConfig(**raw)
