"""Check formulas as Spark SQL expression text.

Each helper renders, as SQL text, the exact arithmetic of the
reference's SQL template (``datapact/templates/validation.sql.j2``) —
including the asymmetric null-drift semantics, the GREATEST-denominator
aggregate diff, DECIMAL(38,12) precision, and the FORMAT_NUMBER /
'%.2f%%' payload string contract. Getting these bit-compatible is the
hard parity requirement (SURVEY.md §4.3).

Text, not Column trees: a Column tree costs one py4j round trip per
node on the calling Python thread, while the compiler parses each
check's pass condition, metric and payload text in one call (and a
task's whole payload, every check included, as one
``to_json(named_struct(...))``), the way the reference renders one SQL
script. Arguments are SQL text too: column references from ``ident``,
literals from ``num`` and ``string``. Rules of the text:

* numeric literals are typed like ``F.lit``: ``0.05D`` is a double,
  while a bare ``0.05`` would parse as DECIMAL(2,2);
* a user string (filter, custom SQL, predicate, name) is never spliced
  raw: ``string`` hex-encodes any string holding a quote, a backslash,
  ``$`` (the parser substitutes ``${...}``, inside literals too) or a
  non-printable character.
"""

from __future__ import annotations

import math

DEC12 = "decimal(38,12)"
DEC6 = "decimal(38,6)"

_PLAIN = frozenset(chr(c) for c in range(0x20, 0x7F)) - set("'\\$")


def ident(name: str) -> str:
    """A column reference: ``name`` backquoted."""
    if "${" in name:
        raise ValueError(f"column name {name!r} holds '${{', which Spark's parser substitutes")
    return "`" + name.replace("`", "``") + "`"


def string(value: str | None) -> str:
    """A STRING literal of ``value`` (NULL for None), parsed back exactly."""
    if value is None:
        return "CAST(NULL AS STRING)"
    if set(value) <= _PLAIN:
        return f"'{value}'"
    return f"CAST(X'{value.encode('utf-8').hex()}' AS STRING)"


def num(value: bool | int | float) -> str:
    """A literal typed as ``F.lit(value)`` types it: boolean, INT (BIGINT
    beyond 32 bits) or DOUBLE."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value) if -(2**31) <= value < 2**31 else f"{value}L"
    value = float(value)
    if not math.isfinite(value):
        return f"CAST('{value}' AS DOUBLE)"
    return f"{value!r}D"


def named_struct(fields: list[tuple[str, str]]) -> str:
    """A struct of (name, text) fields."""
    return "named_struct(" + ", ".join(f"{string(k)}, {v}" for k, v in fields) + ")"


def conjunction(conds: list[str]) -> str:
    return " AND ".join(f"({c})" for c in conds)


def fmt_num(x: str, decimals: int = 0) -> str:
    """FORMAT_NUMBER(x, d) — thousands separators (payload contract)."""
    return f"format_number({x}, {decimals})"


def fmt_pct(value: str | float) -> str:
    """FORMAT_STRING('%.2f%%', value*100) (validation.sql.j2:334)."""
    if not isinstance(value, str):
        value = num(float(value))
    return f"format_string('%.2f%%', CAST(({value}) * 100 AS DOUBLE))"


def pass_fail(cond: str) -> str:
    return f"CASE WHEN {cond} THEN 'PASS' ELSE 'FAIL' END"


def ratio(num_: str, den: str) -> str:
    """COALESCE(num / NULLIF(CAST(den AS DOUBLE), 0), 0): an empty
    denominator reads as a 0 ratio."""
    return f"coalesce(({num_}) / nullif(CAST({den} AS DOUBLE), 0.0D), 0.0D)"


# ---------------------------------------------------------------- count
def count_rel_diff(source_count: str, target_count: str) -> str:
    """COALESCE(ABS(s-t) / NULLIF(CAST(s AS DOUBLE),0), 0)
    (validation.sql.j2:334,440) — source is the denominator; empty
    source ⇒ vacuous 0 diff."""
    return ratio(f"abs({source_count} - {target_count})", source_count)


# ------------------------------------------------------------- row hash
def hash_mismatch_ratio(mismatch_count: str, total_compared: str) -> str:
    """COALESCE(mismatch / NULLIF(total,0), 0) (validation.sql.j2:346-348)."""
    return ratio(mismatch_count, total_compared)


# ----------------------------------------------------------------- null
def null_diff_pct_pk(source_nulls: str, target_nulls: str) -> str:
    """PK-join variant percent (validation.sql.j2:360-365):
    s=0 ⇒ (t=0 ? 0 : 100); else |s-t|/s * 100."""
    s, t = source_nulls, target_nulls
    return (
        f"CASE WHEN {s} = 0 THEN CASE WHEN {t} = 0 THEN 0.0D ELSE 100.0D END "
        f"ELSE abs({s} - {t}) / CAST({s} AS DOUBLE) * 100 END"
    )


def null_pass_pk(source_nulls: str, target_nulls: str, tol: float) -> str:
    """PK-join pass rule (validation.sql.j2:448-452)."""
    s, t = source_nulls, target_nulls
    return (
        f"CASE WHEN {s} = 0 THEN {t} = 0 "
        f"ELSE abs({s} - {t}) / CAST({s} AS DOUBLE) <= {num(tol)} END"
    )


def null_diff_pct_counts(source_nulls: str, target_nulls: str) -> str:
    """Table-count variant percent (validation.sql.j2:367): either side
    zero while the other positive ⇒ 100%; else |t-s|/s with NULLIF."""
    s, t = source_nulls, target_nulls
    return (
        f"CASE WHEN ({s} = 0 AND {t} > 0) THEN 100.0D "
        f"WHEN ({t} = 0 AND {s} > 0) THEN 100.0D "
        f"ELSE {ratio(f'abs({t} - {s})', s)} * 100 END"
    )


def null_pass_counts(source_nulls: str, target_nulls: str, tol: float) -> str:
    """Table-count pass rule (validation.sql.j2:453-455)."""
    s, t = source_nulls, target_nulls
    return (
        f"CASE WHEN {s} = 0 THEN {t} = 0 "
        f"ELSE {ratio(f'abs({t} - {s})', s)} <= {num(tol)} END"
    )


# ------------------------------------------------------------ aggregate
def agg_rel_diff(source_value: str, target_value: str) -> str:
    """Aggregate relative diff in DECIMAL(38,12) with GREATEST(|s|,|t|)
    denominator (validation.sql.j2:39-48): NULL either side ⇒ NULL;
    equal ⇒ 0; both zero ⇒ 0; else |s-t| / greatest(|s|,|t|)."""
    s, t = source_value, target_value
    zero = f"CAST(0 AS {DEC12})"
    greatest = f"greatest(abs({s}), abs({t}))"
    return (
        f"CASE WHEN ({s} IS NULL OR {t} IS NULL) THEN CAST(NULL AS {DEC12}) "
        f"WHEN {s} = {t} THEN {zero} "
        f"WHEN {greatest} = 0 THEN {zero} "
        f"ELSE CAST(abs({s} - {t}) AS {DEC12}) / CAST({greatest} AS {DEC12}) END"
    )


# ----------------------------------------------------------- uniqueness
def dupe_ratio(count_col: str, distinct_col: str) -> str:
    """COALESCE((count-distinct)/NULLIF(count,0),0) (validation.sql.j2:399-400)."""
    return ratio(f"{count_col} - {distinct_col}", count_col)
