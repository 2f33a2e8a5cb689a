"""Verification engine: contract + DataFrame → one fused scan → results.

The reference's lifecycle (SURVEY §3.1): parse → plan (metric dedup +
aggregation batching) → sequential SQL roundtrips → derived metrics →
threshold evaluation. Here:

* planning = collecting ``AggMetric``s from every check and deduping by
  identity key (reference ``MetricsResolver.resolve_metric``
  ``contract_verification_impl.py:826-839``),
* ALL aggregation metrics fuse into **one** ``df.agg(m_0, m_1, ...)`` —
  a single Spark job / single pass over the data; the reference needs
  greedy statement-length batching (``:1577-1644``), Spark doesn't,
* side queries (reference-data anti-joins, user metric queries) run as
  their own jobs, one after another on ONE background thread started as
  soon as planning has collected them, so their jobs overlap the fused
  aggregation's analysis and execution (the reference sends them after
  it, in series); the thread inherits the caller's job group, scheduler
  pool and tags, and is joined before the results are merged,
* a failing metric/check marks its checks NOT_EVALUATED without sinking
  the scan (reference per-query error isolation, base.py:876-889).
"""

from __future__ import annotations

from datetime import datetime
from typing import Any, Optional, Union

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession

from soda_core_spark.operators.checks import (
    AggMetric,
    CheckContext,
    CheckPlan,
    CHECK_PLANNERS,
    SIDE_QUERY_ERROR_PREFIX,
    SideQuery,
)
from soda_core_spark.operators.compiler import apply_scan_filter
from soda_core_spark.plans.model import CheckSpec, Contract
from soda_core_spark.plans.selectors import CheckSelector
from soda_core_spark.plans.results import (
    CheckOutcome,
    CheckResult,
    ContractVerificationResult,
    Measurement,
    check_identity,
)


def _cause(e: Exception) -> str:
    return f"{type(e).__name__}: {e}"


class DuplicateCheckIdentityError(Exception):
    """Two checks resolved to the same identity — a contract error in the
    reference too (base.py:1263-1282)."""


def verify_contract(
    spark: SparkSession,
    contract: Contract,
    df: Optional[DataFrame] = None,
    datasets: Optional[dict[str, DataFrame]] = None,
    data_timestamp: Optional[datetime] = None,
    check_selectors: Optional[list[Union[str, CheckSelector]]] = None,
    primary_keys: Optional[list[str]] = None,
) -> ContractVerificationResult:
    """Run all checks of ``contract`` against ``df`` in (at most) one fused
    aggregation job plus one job per side query. The side queries run in
    order on one background thread that overlaps the fused aggregation and
    is joined before this returns; their jobs carry the caller's job group,
    description, scheduler pool and tags. If the fused job fails at
    runtime, each metric re-runs as its own job and the result records it
    (``fused_fallback_cause``).

    ``df`` defaults to ``spark.table(contract.dataset)`` /
    ``datasets[contract.dataset]``. ``datasets`` supplies reference-data
    tables for ``valid_reference_data`` checks. ``primary_keys`` is the
    dataset's actual key columns for the schema check's ``primary_key:``
    comparison; when omitted it is introspected from the catalog (Iceberg
    identifier fields; None on parquet/views = source doesn't introspect,
    reference metadata_types.py:95-97) — only attempted when the contract
    declares a primary key, so the common path pays nothing.
    """
    datasets = dict(datasets or {})
    if df is None:
        df = datasets.get(contract.dataset)
    if df is None:
        # '/'-qualified names (data_source/prefix…/dataset — reference
        # dataset_identifier.py) resolve through their parsed form: the
        # datasets dict may bind either the full qualified string, the
        # bare dataset name, or the dotted catalog path; otherwise the
        # prefixes become the spark.table namespace
        ident = contract.dataset_identifier
        if ident.data_source_name is not None:
            df = datasets.get(ident.spark_name) or datasets.get(ident.dataset_name)
            if df is None:
                df = spark.table(ident.spark_name)
        else:
            df = spark.table(contract.dataset)
    datasets.setdefault(contract.dataset, df)

    filtered = apply_scan_filter(df, contract.filter)
    sample_cache = None
    if contract.sample.is_configured():
        # dataset-level sampling, applied under the contract filter and
        # ahead of ALL metrics (reference attaches SAMPLE to the filtered
        # CTE, check_collections/base.py:595-605). percentage → df.sample
        # (Bernoulli, seeded; deterministic given the partition layout, so
        # the fused agg and the ctx.filtered-based side queries — e.g. the
        # reference-data anti-join — see the same rows; raw-SQL side
        # queries CANNOT be made consistent and are rejected at planning
        # time, see _reject_raw_sql_under_sampling); an
        # un-ordered limit is NOT stable across jobs (each job takes
        # whichever partitions answer first), so the limited frame is
        # cached — bounded by `limit` rows by construction — to pin one
        # subset for the whole verification.
        if contract.sample.percent is not None:
            filtered = filtered.sample(
                fraction=contract.sample.percent / 100.0, seed=contract.sample.seed
            )
        else:
            sample_cache = filtered = filtered.limit(contract.sample.limit).cache()
    if primary_keys is None and any(
        c.is_primary_key for c in contract.columns
    ):
        from soda_core_spark.sources.tables import introspect_primary_keys

        primary_keys = introspect_primary_keys(spark, contract.dataset)
    try:
        return _verify_contract_body(
            spark, contract, df, filtered, datasets, data_timestamp,
            check_selectors, primary_keys,
        )
    finally:
        # unpersist on EVERY exit path — a raised DuplicateCheckIdentityError
        # (or any planning exception) must not leak the cached sample frame
        # for the session lifetime
        if sample_cache is not None:
            sample_cache.unpersist()


def _verify_contract_body(
    spark: SparkSession,
    contract: Contract,
    df: DataFrame,
    filtered: DataFrame,
    datasets: dict[str, DataFrame],
    data_timestamp: Optional[datetime],
    check_selectors: Optional[list[Union[str, CheckSelector]]],
    primary_keys: Optional[list[str]] = None,
) -> ContractVerificationResult:
    selectors = CheckSelector.parse_all(check_selectors)
    ctx = CheckContext(
        spark=spark,
        contract=contract,
        df=df,
        filtered=filtered,
        datasets=datasets,
        data_timestamp=data_timestamp,
        primary_keys=primary_keys,
    )

    # --- plan -------------------------------------------------------------
    checks = contract.all_checks()
    plans: list[tuple[CheckSpec, Optional[CheckPlan], Optional[str]]] = []
    seen_identities: set[str] = set()
    for check in checks:
        ident = check_identity(
            contract.dataset,
            check.type,
            check.column,
            check.qualifier,
            ",".join(check.columns) if check.columns else None,
        )
        if ident in seen_identities:
            raise DuplicateCheckIdentityError(
                f"duplicate check identity {ident} for {check.default_name()}; "
                "add a distinct 'qualifier'"
            )
        seen_identities.add(ident)
        if not CheckSelector.all_match(selectors, check, contract):
            plans.append((check, None, "excluded"))
            continue
        try:
            plans.append((check, CHECK_PLANNERS[check.type](check, ctx), None))
        except Exception as e:  # planning error → NOT_EVALUATED, scan continues
            plans.append((check, None, f"planning failed: {_cause(e)}"))

    # --- metric dedup + fused aggregation ----------------------------------
    agg_metrics: dict[str, AggMetric] = {}
    side_queries: dict[str, SideQuery] = {}
    for _, plan, _err in plans:
        if plan is None:
            continue
        for m in plan.metrics:
            agg_metrics.setdefault(m.key, m)
        for sq in plan.side_queries:
            side_queries.setdefault(sq.key, sq)

    values: dict[str, Any] = {}
    #: metric/side-query key → cause of its failure; carried into the
    #: measurement and into the message of every check left NOT_EVALUATED
    errors: dict[str, str] = {}
    measurements: list[Measurement] = []
    # side queries start now, on one thread, and stay sequential among
    # themselves; each keeps its own try/except (reference per-query
    # isolation, base.py:876-889). The fused aggregation below runs on this
    # thread meanwhile, and the side thread is joined in its `finally` — so
    # before verify_contract unpersists a pinned `sample.limit` frame.
    side_values: dict[str, Any] = {}
    side_errors: dict[str, str] = {}

    def run_side_queries() -> None:
        for sq in side_queries.values():
            try:
                side_values[sq.key] = sq.run(ctx)
            except Exception as e:
                side_errors[sq.key] = _cause(e)

    side_thread = None
    if side_queries:
        # InheritableThread copies the caller's local properties (job
        # group, description, scheduler pool) and tags into the thread in
        # classic sessions, and the tags in Connect sessions; without
        # pinned threads it is a plain Thread
        side_thread = InheritableThread(
            run_side_queries, session=spark, name="soda-side-queries", daemon=True
        )
        side_thread.start()
    try:
        fused_fallback_cause = _fused_aggregation(
            filtered, agg_metrics, values, errors, measurements
        )
    finally:
        if side_thread is not None:
            side_thread.join()

    for sq in side_queries.values():
        v = side_values.get(sq.key)
        if sq.key in side_errors:
            errors[sq.key] = side_errors[sq.key]
            # error marker lets evaluators tell "query errored" apart from
            # "query legitimately returned NULL" (reference treats a NULL
            # rows_tested denominator as valid, failed_rows_check.py:133-140)
            values[SIDE_QUERY_ERROR_PREFIX + sq.key] = errors[sq.key]
        values[sq.key] = v
        measurements.append(Measurement(sq.key, v, sq.name, errors.get(sq.key)))

    # --- evaluate -----------------------------------------------------------
    results: list[CheckResult] = []
    for check, plan, err in plans:
        if plan is None:
            outcome = (
                CheckOutcome.EXCLUDED if err == "excluded" else CheckOutcome.NOT_EVALUATED
            )
            results.append(
                CheckResult(
                    identity=check_identity(
                        contract.dataset, check.type, check.column, check.qualifier,
                        ",".join(check.columns) if check.columns else None,
                    ),
                    check_type=check.type,
                    name=check.default_name(),
                    column=check.column,
                    outcome=outcome,
                    threshold=check.threshold.describe(),
                    level=check.level,
                    message=None if err == "excluded" else err,
                )
            )
            continue
        try:
            result = plan.evaluate(values, ctx)
            causes = [
                f"metric {k!r} failed: {errors[k]}"
                for k in [m.key for m in plan.metrics]
                + [sq.key for sq in plan.side_queries]
                if k in errors
            ]
            if causes and result.outcome == CheckOutcome.NOT_EVALUATED:
                result.message = "; ".join(filter(None, [result.message, *causes]))
            results.append(result)
        except Exception as e:
            results.append(
                CheckResult(
                    identity=check_identity(
                        contract.dataset, check.type, check.column, check.qualifier,
                        ",".join(check.columns) if check.columns else None,
                    ),
                    check_type=check.type,
                    name=check.default_name(),
                    column=check.column,
                    outcome=CheckOutcome.NOT_EVALUATED,
                    threshold=check.threshold.describe(),
                    level=check.level,
                    message=f"evaluation failed: {_cause(e)}",
                )
            )

    return ContractVerificationResult(
        dataset=contract.dataset,
        check_results=results,
        measurements=measurements,
        fused_fallback_cause=fused_fallback_cause,
    )


def _fused_aggregation(
    filtered: DataFrame,
    agg_metrics: dict[str, AggMetric],
    values: dict[str, Any],
    errors: dict[str, str],
    measurements: list[Measurement],
) -> Optional[str]:
    """Evaluate every aggregation metric in one ``filtered.agg`` job,
    filling ``values``/``errors``/``measurements``. Returns the cause of a
    runtime failure of the fused job (each metric then re-ran as its own
    job), else None.

    Error isolation (reference: per-query try/except, base.py:876-889).
    Fusing all metrics into one df.agg must not let one bad expression
    (parse/analysis error in a check's filter/condition/expression) sink
    the whole scan: build+analyze each metric individually first; fuse
    only the valid ones; on a runtime failure of the fused job fall back
    to per-metric jobs. A metric with no value leaves its checks
    NOT_EVALUATED via None-propagation.
    """
    fallback_cause = None
    built: list[AggMetric] = []
    built_cols = []
    candidates: list[tuple[AggMetric, Any]] = []
    for m in agg_metrics.values():
        try:
            candidates.append((m, m.build()))
        except Exception as e:
            errors[m.key] = _cause(e)
            measurements.append(Measurement(m.key, None, m.name, errors[m.key]))
    # analysis cost: ONE batched analyze when every expression is valid
    # (the overwhelmingly common case — O(1) driver roundtrips however
    # many metrics a contract has); only a failing batch falls back to
    # per-metric analysis to isolate the bad expression(s)
    if candidates:
        try:
            filtered.select(
                *[c.alias(f"__soda_validate_{i}") for i, (_m, c) in enumerate(candidates)]
            )
            built = [m for m, _c in candidates]
            built_cols = [c for _m, c in candidates]
        except Exception:
            for m, col in candidates:
                try:
                    filtered.select(col.alias("__soda_validate"))
                    built.append(m)
                    built_cols.append(col)
                except Exception as e:
                    errors[m.key] = _cause(e)
                    measurements.append(
                        Measurement(m.key, None, m.name, errors[m.key])
                    )
    if built:
        exprs = [c.alias(f"m_{i}") for i, c in enumerate(built_cols)]
        try:
            row = filtered.agg(*exprs).collect()[0]
            rows = [row[i] for i in range(len(built))]
        except Exception as e:
            fallback_cause = _cause(e)
            rows = []
            for m, c in zip(built, built_cols):
                try:
                    rows.append(filtered.agg(c.alias("m_0")).collect()[0][0])
                except Exception as e:
                    errors[m.key] = _cause(e)
                    rows.append(None)
        for m, v in zip(built, rows):
            if v is None and m.coerce_zero and m.key not in errors:
                v = 0  # SUM(CASE WHEN ...) is NULL over zero rows (ref missing_check.py:137-140)
            values[m.key] = v
            measurements.append(Measurement(m.key, v, m.name, errors.get(m.key)))
    return fallback_cause


def verify_contracts(
    spark: SparkSession,
    contracts: list[Contract],
    datasets: Optional[dict[str, DataFrame]] = None,
    data_timestamp: Optional[datetime] = None,
    check_selectors: Optional[list[str]] = None,
) -> "SessionResult":
    """Session entry point: verify N contracts against shared datasets
    with per-contract isolation — one contract crashing (missing table,
    unparseable filter) records an error and the remaining contracts
    still verify, mirroring the reference's per-file isolation
    (check_collections/session.py:45-180, per-collection try/except).

    Contracts run sequentially on the driver; each contract's metrics are
    still one fused Spark job, so the session is N jobs for N contracts —
    Spark parallelizes within each job, which is where the data is.
    """
    from soda_core_spark.plans.results import SessionResult

    results: list[ContractVerificationResult] = []
    errors: list[tuple[str, str]] = []
    for contract in contracts:
        try:
            results.append(
                verify_contract(
                    spark,
                    contract,
                    datasets=datasets,
                    data_timestamp=data_timestamp,
                    check_selectors=check_selectors,
                )
            )
        except Exception as e:
            errors.append((contract.dataset, f"{type(e).__name__}: {e}"))
    return SessionResult(results=results, errors=errors)
