"""Rule → Spark ``Column`` compiler.

The reference compiles missing/validity configs to SQL condition strings
(``contract_verification_impl.py:715-764``); here the same semantics become
native Spark ``Column`` expressions, so Catalyst sees one declarative plan
(whole-stage codegen, pushdown) instead of opaque SQL text.

Semantics mirrored:

* ``is_missing``  = IS NULL OR value IN missing_values OR
  REGEXP_LIKE(value, missing_format)                (ref :715-722)
* ``is_invalid``  = NOT missing AND ( NOT IN valid_values
  | IN invalid_values | NOT rlike valid_format | rlike invalid_format
  | < valid_min | > valid_max | length bounds )     (ref :724-764)
* empty ``valid_values`` list ⇒ always invalid      (ref :732-738)

Regex note: Spark ``rlike`` is Java-regex. Contracts that must be
byte-parity-checked against a Python oracle should restrict themselves to
the common subset (character classes, anchors, quantifiers) — see
functions/scrub.py for where Python ``re`` is used instead on purpose.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from soda_core_spark.plans.model import CheckSpec, MissingConfig, ValidityConfig

#: sentinel used when hashing multi-column keys with NULLs, mirroring the
#: reference's COMBINED_HASH null sentinel (sql_dialect.py:1370-1371)
NULL_SENTINEL = "__SODA_NULL__"


def any_of(conds: list[Optional[Column]]) -> Optional[Column]:
    """OR-combine, dropping Nones — the reference's ``.optional()``
    combinator (sql_ast.py:686-741)."""
    conds = [c for c in conds if c is not None]
    if not conds:
        return None
    return reduce(lambda a, b: a | b, conds)


def value_col(column: str, column_expression: Optional[str] = None) -> Column:
    """The value a column check evaluates: the physical column, or the
    contract's ``column_expression`` SQL (reference ColumnImpl
    .column_expression, contract_verification_impl.py:670-675 —
    SqlExpressionStr when set, COLUMN(name) otherwise)."""
    return F.expr(column_expression) if column_expression else F.col(column)


def is_missing_col(
    column: str, cfg: MissingConfig, column_expression: Optional[str] = None
) -> Column:
    c = value_col(column, column_expression)
    conds: list[Optional[Column]] = [c.isNull()]
    if cfg.missing_values is not None and len(cfg.missing_values) > 0:
        conds.append(c.isin(list(cfg.missing_values)))
    if cfg.missing_format is not None:
        conds.append(c.cast("string").rlike(cfg.missing_format))
    out = any_of(conds)
    assert out is not None
    return out


def is_invalid_col(
    column: str,
    validity: ValidityConfig,
    missing: MissingConfig,
    column_expression: Optional[str] = None,
) -> Column:
    """NOT missing AND (disjunction of configured validity failures).

    Reference-data validity is handled by the engine as an anti-join
    (see checks.py ``ReferenceInvalidQuery``), not here.
    """
    c = value_col(column, column_expression)
    fails: list[Optional[Column]] = []
    if validity.valid_values is not None:
        if len(validity.valid_values) == 0:
            fails.append(F.lit(True))  # ref :732-738 — empty set: all invalid
        else:
            fails.append(~c.isin(list(validity.valid_values)))
    if validity.invalid_values is not None and len(validity.invalid_values) > 0:
        fails.append(c.isin(list(validity.invalid_values)))
    if validity.valid_format is not None:
        fails.append(~c.cast("string").rlike(validity.valid_format))
    if validity.invalid_format is not None:
        fails.append(c.cast("string").rlike(validity.invalid_format))
    if validity.valid_min is not None:
        fails.append(c < F.lit(validity.valid_min))
    if validity.valid_max is not None:
        fails.append(c > F.lit(validity.valid_max))
    if validity.valid_min_length is not None:
        fails.append(F.length(c.cast("string")) < validity.valid_min_length)
    if validity.valid_max_length is not None:
        fails.append(F.length(c.cast("string")) > validity.valid_max_length)
    if validity.valid_length is not None:
        fails.append(F.length(c.cast("string")) != validity.valid_length)
    invalid = any_of(fails)
    if invalid is None:
        return F.lit(False)
    return (~is_missing_col(column, missing, column_expression)) & invalid


def check_filter_col(check: CheckSpec) -> Optional[Column]:
    """Check-scoped ``filter:`` — arbitrary SQL boolean (the reference's
    raw-SQL escape hatch, sql_ast.py:264-270 → here ``F.expr``)."""
    return F.expr(check.filter) if check.filter else None


def count_if(cond: Column) -> Column:
    """``SUM(CASE WHEN cond THEN 1 ELSE 0 END)`` — the reference's universal
    conditional-count shape (missing_check.py:126-135). NULL-on-empty is
    coerced to 0 driver-side by the engine (ref missing_check.py:137-140)."""
    return F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0)))


def combined_key(columns: list[str]) -> Column:
    """Multi-column distinct key with NULL sentinel — same semantics as the
    reference's COMBINED_HASH (sql_dialect.py:1384-1396) without the MD5:
    Spark's countDistinct would *drop* rows with any NULL, the sentinel
    keeps them, matching the reference's duplicate arithmetic."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(NULL_SENTINEL)) for c in columns
    ]
    return F.concat_ws("\x1f", *parts)


def keep_predicate(fail_columns: list[Column]) -> Column:
    """keep = AND over NOT fail_i, NULL-safe: a NULL fail signal means the
    rule could not be evaluated for that row and must NOT silently drop the
    document (SURVEY §7.3 hard part 6) — NULL is treated as not-failed."""
    if not fail_columns:
        return F.lit(True)
    keeps = [~F.coalesce(c.cast("boolean"), F.lit(False)) for c in fail_columns]
    return reduce(lambda a, b: a & b, keeps)


def apply_scan_filter(df: DataFrame, filter_sql: Optional[str]) -> DataFrame:
    """The universal filtered-dataset CTE (base.py:566-572) — in Spark just
    a shared DataFrame; Catalyst inlines and pushes the predicate down to
    the scan."""
    return df.where(F.expr(filter_sql)) if filter_sql else df
