"""Scan-result sinks: check-results + measurements tables."""

from datetime import datetime, timezone

from soda_core_spark import verify_contract
from soda_core_spark.plans.model import contract_from_dict
from soda_core_spark.sources.sinks import write_scan_results


def test_write_scan_results(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), (None, 2)], ["id", "n"])
    contract = contract_from_dict(
        {"dataset": "t", "checks": ["row_count"],
         "columns": [{"name": "id", "checks": ["missing"]}]}
    )
    result = verify_contract(spark, contract, df)
    ts = datetime(2026, 8, 16, tzinfo=timezone.utc)
    cr_path = str(tmp_path / "check_results")
    mm_path = str(tmp_path / "measurements")
    write_scan_results(spark, result, cr_path, mm_path, scan_ts=ts)
    # append a second scan — table accumulates
    write_scan_results(spark, result, cr_path, mm_path, scan_ts=ts)

    cr = spark.read.parquet(cr_path)
    assert cr.count() == 4  # 2 checks × 2 scans
    row = cr.where("check_type = 'missing'").first()
    assert row.outcome == "failed"
    assert row.failed_rows_count == 1
    assert row.failed_rows_percent == 50.0
    assert row.dataset_rows_tested == 2
    assert len(row.identity) == 16

    mm = spark.read.parquet(mm_path)
    assert mm.count() >= 4
    names = {r.metric_name for r in mm.collect()}
    # the shared unfiltered row count dedupes to one metric (first name wins)
    assert "missing_count(id)" in names
    assert "check_rows_tested" in names or "dataset_rows_tested" in names


def _failing_result(spark):
    """A scan whose ``row_count`` filter names a missing column: that
    metric fails to analyse and carries its cause; the sibling succeeds."""
    df = spark.createDataFrame([("a", 1), (None, 2)], ["id", "n"])
    contract = contract_from_dict(
        {"dataset": "t",
         "checks": [{"row_count": {"filter": "no_such_col > 0", "must_be": 2}}],
         "columns": [{"name": "id", "checks": ["missing"]}]}
    )
    return verify_contract(spark, contract, df)


def test_measurements_keep_failure_cause(spark, tmp_path):
    result = _failing_result(spark)
    (failed,) = [m for m in result.measurements if m.error is not None]
    mm_path = str(tmp_path / "measurements")
    write_scan_results(spark, result, str(tmp_path / "check_results"), mm_path)

    rows = {r.metric_id: r for r in spark.read.parquet(mm_path).collect()}
    assert rows[failed.metric_id].error == failed.error
    assert rows[failed.metric_id].error.startswith("AnalysisException: ")
    assert rows[failed.metric_id].value is None
    others = [r for k, r in rows.items() if k != failed.metric_id]
    assert others and all(r.error is None and r.value is not None for r in others)


def test_measurements_append_to_table_without_error_column(spark, tmp_path):
    """A measurements table written before the ``error`` column existed
    still takes appends; read with mergeSchema, its old rows show NULL."""
    from pyspark.sql import types as T

    from soda_core_spark.sources.sinks import MEASUREMENTS_SCHEMA

    old_schema = T.StructType([f for f in MEASUREMENTS_SCHEMA if f.name != "error"])
    ts = datetime(2026, 8, 16, tzinfo=timezone.utc)
    mm_path = str(tmp_path / "measurements")
    spark.createDataFrame(
        [(ts, "t", "old-metric", "row_count", "2")], old_schema
    ).write.parquet(mm_path)

    result = _failing_result(spark)
    write_scan_results(spark, result, str(tmp_path / "check_results"), mm_path)

    mm = spark.read.option("mergeSchema", "true").parquet(mm_path)
    assert mm.columns == [f.name for f in MEASUREMENTS_SCHEMA]
    rows = mm.collect()
    assert len(rows) == 1 + len(result.measurements)
    (old,) = [r for r in rows if r.metric_id == "old-metric"]
    assert old.value == "2" and old.error is None
    assert sum(r.error is not None for r in rows) == 1
