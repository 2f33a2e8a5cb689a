"""Sinks: check-metrics and measurement tables mirroring the reference's
scan-result wire schema (soda_cloud.py:1922-2034 — identity, checkPath,
outcome, value, failedRowsCount/Percent, datasetRowsTested,
checkRowsTested), written as append-only tables.

Iceberg note: with Iceberg jars on the cluster, pass
``fmt="iceberg"`` + a table identifier and these become
``writeTo(...).append()`` snapshot commits; this sandbox has parquet only.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from soda_core_spark.plans.results import ContractVerificationResult

CHECK_RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("scan_ts", T.TimestampType()),
        T.StructField("dataset", T.StringType()),
        T.StructField("identity", T.StringType()),
        T.StructField("check_type", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("outcome", T.StringType()),
        T.StructField("metric_value", T.DoubleType()),
        T.StructField("threshold", T.StringType()),
        T.StructField("level", T.StringType()),
        T.StructField("failed_rows_count", T.LongType()),
        T.StructField("failed_rows_percent", T.DoubleType()),
        T.StructField("dataset_rows_tested", T.LongType()),
        T.StructField("check_rows_tested", T.LongType()),
        T.StructField("message", T.StringType()),
        # added round 4 (with the metric_unavailable NOT_EVALUATED
        # distinction): appended files carry the extra column; READ old+new
        # mixed tables with spark.read.option("mergeSchema", "true") (old
        # rows surface NULL), or evolve the table schema first on Iceberg
        T.StructField("metric_unavailable", T.BooleanType()),
    ]
)

MEASUREMENTS_SCHEMA = T.StructType(
    [
        T.StructField("scan_ts", T.TimestampType()),
        T.StructField("dataset", T.StringType()),
        T.StructField("metric_id", T.StringType()),
        T.StructField("metric_name", T.StringType()),
        T.StructField("value", T.StringType()),  # stringified (mixed types)
        # the failure cause ("<ExceptionType>: <message>") of a metric that
        # failed to build, analyse or run (value is then NULL); appended
        # last, like metric_unavailable: read old and new parquet files
        # with mergeSchema, or evolve the table schema first on Iceberg
        T.StructField("error", T.StringType()),
    ]
)


def _num(v) -> Optional[float]:
    return float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else None


def _long(v) -> Optional[int]:
    return int(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else None


def check_results_df(
    spark: SparkSession,
    result: ContractVerificationResult,
    scan_ts: Optional[datetime] = None,
) -> DataFrame:
    ts = scan_ts or datetime.now(timezone.utc)
    rows = []
    for r in result.check_results:
        d = r.diagnostics
        rows.append(
            (
                ts,
                result.dataset,
                r.identity,
                r.check_type,
                r.name,
                r.column,
                r.outcome.value,
                _num(r.metric_value),
                r.threshold,
                r.level,
                _long(d.get("failedRowsCount")),
                _num(d.get("failedRowsPercent")),
                _long(d.get("datasetRowsTested")),
                _long(d.get("checkRowsTested")),
                r.message,
                bool(getattr(r, "metric_unavailable", False)),
            )
        )
    return spark.createDataFrame(rows, CHECK_RESULTS_SCHEMA)


def measurements_df(
    spark: SparkSession,
    result: ContractVerificationResult,
    scan_ts: Optional[datetime] = None,
) -> DataFrame:
    ts = scan_ts or datetime.now(timezone.utc)
    rows = [
        (ts, result.dataset, m.metric_id, m.metric_name,
         None if m.value is None else str(m.value), m.error)
        for m in result.measurements
    ]
    return spark.createDataFrame(rows, MEASUREMENTS_SCHEMA)


def write_scan_results(
    spark: SparkSession,
    result: ContractVerificationResult,
    check_results_path: str,
    measurements_path: Optional[str] = None,
    scan_ts: Optional[datetime] = None,
    fmt: str = "parquet",
) -> None:
    """Append this scan's results to the metrics tables (the engine's
    diagnostics-warehouse analogue, reference §2.4 sinks)."""
    ts = scan_ts or datetime.now(timezone.utc)
    cr = check_results_df(spark, result, ts)
    if fmt == "iceberg":
        cr.writeTo(check_results_path).append()
    else:
        cr.write.mode("append").format(fmt).save(check_results_path)
    if measurements_path:
        mm = measurements_df(spark, result, ts)
        if fmt == "iceberg":
            mm.writeTo(measurements_path).append()
        else:
            mm.write.mode("append").format(fmt).save(measurements_path)
