"""Integration tests for the check engine, mirroring the reference's
integration-test fixtures (FIXTURES.md F2-F7; reference
soda-tests/tests/integration/test_*_check.py golden diagnostics)."""

from datetime import datetime, timezone

import pytest
import yaml
from pyspark.sql import types as T

from soda_core_spark import CheckOutcome, verify_contract
from soda_core_spark.plans.model import contract_from_dict, contract_from_yaml


@pytest.fixture(scope="module")
def missing_df(spark):
    # reference fixture test_missing_check.py:5-19
    schema = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("age", T.IntegerType())]
    )
    return spark.createDataFrame(
        [("1", 1), (None, -1), ("3", None), ("X", 2)], schema
    )


def test_missing_default_threshold_fails(spark, missing_df):
    contract = contract_from_dict(
        {"dataset": "t", "columns": [{"name": "id", "checks": ["missing"]}]}
    )
    result = verify_contract(spark, contract, missing_df)
    (r,) = result.check_results
    assert r.outcome == CheckOutcome.FAILED
    # golden diagnostics (test_missing_check.py:44-51)
    assert r.diagnostics["failedRowsCount"] == 1
    assert r.diagnostics["failedRowsPercent"] == 25.0
    assert r.diagnostics["datasetRowsTested"] == 4
    assert r.diagnostics["checkRowsTested"] == 4


def test_missing_custom_values_and_percent(spark, missing_df):
    contract = contract_from_dict(
        {
            "dataset": "t",
            "columns": [
                {
                    "name": "id",
                    "missing_values": ["X", "Y"],
                    "checks": [
                        {"missing": {"metric": "percent", "must_be_less_than": 60}}
                    ],
                },
                {
                    "name": "age",
                    "checks": [
                        {"missing": {"missing_values": [-1, -2], "must_be": 2}}
                    ],
                },
            ],
        }
    )
    result = verify_contract(spark, contract, missing_df)
    id_r, age_r = result.check_results
    assert id_r.outcome == CheckOutcome.PASSED  # 2/4 = 50% < 60
    assert id_r.metric_value == 50.0
    assert age_r.outcome == CheckOutcome.PASSED  # NULL + (-1)
    assert age_r.metric_value == 2


def test_warn_level(spark, missing_df):
    contract = contract_from_dict(
        {
            "dataset": "t",
            "columns": [
                {"name": "id", "checks": [{"missing": {"level": "warn"}}]}
            ],
        }
    )
    result = verify_contract(spark, contract, missing_df)
    assert result.check_results[0].outcome == CheckOutcome.WARNED
    assert result.status == "warned"


def test_row_count_default(spark, missing_df):
    contract = contract_from_dict({"dataset": "t", "checks": ["row_count"]})
    result = verify_contract(spark, contract, missing_df)
    r = result.check_results[0]
    assert r.outcome == CheckOutcome.PASSED
    assert r.metric_value == 4


def test_row_count_with_check_filter(spark, missing_df):
    contract = contract_from_dict(
        {
            "dataset": "t",
            "checks": [{"row_count": {"filter": "age > 0", "must_be": 2}}],
        }
    )
    result = verify_contract(spark, contract, missing_df)
    assert result.check_results[0].outcome == CheckOutcome.PASSED


def test_dataset_filter(spark, missing_df):
    contract = contract_from_dict(
        {
            "dataset": "t",
            "filter": "age IS NOT NULL",
            "checks": [{"row_count": {"must_be": 3}}],
        }
    )
    result = verify_contract(spark, contract, missing_df)
    assert result.check_results[0].outcome == CheckOutcome.PASSED


@pytest.fixture(scope="module")
def validity_df(spark):
    schema = T.StructType(
        [
            T.StructField("size", T.StringType()),
            T.StructField("score", T.IntegerType()),
            T.StructField("code", T.StringType()),
            T.StructField("country", T.StringType()),
        ]
    )
    rows = [
        ("S", 5, "AB12", "US"),
        ("M", 50, "CD34", "BE"),
        ("XXL", -3, "bad", "XX"),  # invalid: size, score<0, format, country
        (None, 150, "EF56789", "NL"),  # missing size; score>100; too long
    ]
    return spark.createDataFrame(rows, schema)


def test_invalid_valid_values(spark, validity_df):
    contract = contract_from_dict(
        {
            "dataset": "v",
            "columns": [
                {
                    "name": "size",
                    "valid_values": ["S", "M", "L"],
                    "checks": [{"invalid": {"must_be": 1}}],
                }
            ],
        }
    )
    result = verify_contract(spark, contract, validity_df)
    r = result.check_results[0]
    assert r.outcome == CheckOutcome.PASSED  # only XXL; NULL is missing not invalid
    assert r.diagnostics["missingCount"] == 1


def test_invalid_range_and_format_and_length(spark, validity_df):
    contract = contract_from_dict(
        {
            "dataset": "v",
            "columns": [
                {
                    "name": "score",
                    "valid_min": 0,
                    "valid_max": 100,
                    "checks": [{"invalid": {"must_be": 2}}],
                },
                {
                    "name": "code",
                    "valid_format": "^[A-Z]{2}[0-9]+$",
                    "valid_max_length": 5,
                    "checks": [{"invalid": {"must_be": 2}}],
                },
            ],
        }
    )
    result = verify_contract(spark, contract, validity_df)
    assert all(r.outcome == CheckOutcome.PASSED for r in result.check_results), [
        (r.name, r.metric_value) for r in result.check_results
    ]


def test_invalid_reference_data(spark, validity_df):
    ref = spark.createDataFrame([("US",), ("BE",), ("NL",)], ["country_code"])
    contract = contract_from_dict(
        {
            "dataset": "v",
            "columns": [
                {
                    "name": "country",
                    "checks": [
                        {
                            "invalid": {
                                "valid_reference_data": {
                                    "dataset": "ref_countries",
                                    "column": "country_code",
                                },
                                "must_be": 1,
                            }
                        }
                    ],
                }
            ],
        }
    )
    result = verify_contract(
        spark, contract, validity_df, datasets={"ref_countries": ref}
    )
    assert result.check_results[0].outcome == CheckOutcome.PASSED


@pytest.fixture(scope="module")
def dup_df(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("tenant", T.StringType()),
            T.StructField("name", T.StringType()),
        ]
    )
    rows = [
        ("1", "a", "x"),
        ("1", "a", "x"),  # dup id + dup pair
        ("2", "a", "y"),
        (None, "b", "x"),
        ("3", "b", None),
        ("3", "b", None),  # dup id + dup pair-with-null
    ]
    return spark.createDataFrame(rows, schema)


def test_duplicate_single_column(spark, dup_df):
    # dup = rows(6) - missing(1) - distinct(3) = 2  (duplicate_check.py:122-131)
    contract = contract_from_dict(
        {
            "dataset": "d",
            "columns": [{"name": "id", "checks": [{"duplicate": {"must_be": 2}}]}],
        }
    )
    result = verify_contract(spark, contract, dup_df)
    r = result.check_results[0]
    assert r.outcome == CheckOutcome.PASSED
    assert r.diagnostics["distinctCount"] == 3


def test_duplicate_multi_column(spark, dup_df):
    # distinct pairs incl NULL-keeping sentinel: (1,a,x)(2,a,y)(b,x)(3,b,NULL) = 4
    # dup = 6 - 4 = 2  (duplicate_check.py:333-338 w/ null sentinel)
    contract = contract_from_dict(
        {
            "dataset": "d",
            "checks": [{"duplicate": {"columns": ["tenant", "name"], "must_be": 2}}],
        }
    )
    result = verify_contract(spark, contract, dup_df)
    assert result.check_results[0].outcome == CheckOutcome.PASSED


def test_freshness(spark):
    df = spark.createDataFrame(
        [(datetime(2026, 1, 1, 10, 0, 0),), (datetime(2026, 1, 1, 11, 30, 0),)],
        T.StructType([T.StructField("event_ts", T.TimestampType())]),
    )
    contract = contract_from_dict(
        {
            "dataset": "e",
            "columns": [
                {
                    "name": "event_ts",
                    "checks": [
                        {"freshness": {"unit": "minute", "must_be_less_than": 60}},
                        {
                            "freshness": {
                                "unit": "hour",
                                "must_be_less_than": 1,
                                "qualifier": "h",
                            }
                        },
                    ],
                }
            ],
        }
    )
    now = datetime(2026, 1, 1, 12, 0, 0, tzinfo=timezone.utc)
    result = verify_contract(spark, contract, df, data_timestamp=now)
    minute_r, hour_r = result.check_results
    assert minute_r.metric_value == 30
    assert minute_r.outcome == CheckOutcome.PASSED
    assert hour_r.metric_value == 0
    assert hour_r.outcome == CheckOutcome.PASSED


def test_freshness_fails_without_data_timestamp(spark):
    df = spark.createDataFrame(
        [(datetime(2026, 1, 1),)],
        T.StructType([T.StructField("ts", T.TimestampType())]),
    )
    contract = contract_from_dict(
        {"dataset": "e", "columns": [{"name": "ts", "checks": ["freshness"]}]}
    )
    result = verify_contract(spark, contract, df)
    assert result.check_results[0].outcome == CheckOutcome.FAILED


def test_metric_expression_avg(spark):
    # reference metric-check fixture: AVG(end - start) = 10
    # (test_udf_metric_check.py:8-45)
    df = spark.createDataFrame(
        [(0, 10), (10, 20), (5, 15)], ["start", "end"]
    )
    contract = contract_from_dict(
        {
            "dataset": "m",
            "checks": [
                {"metric": {"expression": "AVG(end - start)", "must_be": 10}}
            ],
        }
    )
    result = verify_contract(spark, contract, df)
    r = result.check_results[0]
    assert r.outcome == CheckOutcome.PASSED
    assert r.metric_value == 10.0


def test_aggregate_check(spark, validity_df):
    contract = contract_from_dict(
        {
            "dataset": "v",
            "columns": [
                {
                    "name": "score",
                    "valid_min": 0,
                    "valid_max": 100,
                    "checks": [
                        {
                            "aggregate": {
                                "function": "avg",
                                "must_be_between": [27, 28],
                            }
                        },
                        {
                            "aggregate": {
                                "function": "max_length",
                                "must_be": 2,
                                "qualifier": "len",
                            }
                        },
                    ],
                }
            ],
        }
    )
    result = verify_contract(spark, contract, validity_df)
    avg_r, len_r = result.check_results
    assert avg_r.metric_value == 27.5  # valid scores: 5, 50
    assert avg_r.outcome == CheckOutcome.PASSED
    assert len_r.metric_value == 2  # lengths of valid values "5","50"
    assert len_r.outcome == CheckOutcome.PASSED


def test_failed_rows_expression(spark, validity_df):
    contract = contract_from_dict(
        {
            "dataset": "v",
            "checks": [
                {
                    "failed_rows": {
                        "condition": "score < 0 OR score > 100",
                        "metric": "percent",
                        "must_be_less_than": 60,
                    }
                }
            ],
        }
    )
    result = verify_contract(spark, contract, validity_df)
    r = result.check_results[0]
    assert r.metric_value == 50.0
    assert r.outcome == CheckOutcome.PASSED


def test_schema_check(spark):
    df = spark.createDataFrame(
        [(1, "a", 2.0)], ["id", "extra_col", "amount"]
    )
    contract = contract_from_dict(
        {
            "dataset": "s",
            "columns": [
                {"name": "id", "data_type": "bigint"},
                {"name": "amount", "data_type": "varchar"},  # mismatch: double
                {"name": "gone", "data_type": "integer"},  # missing
            ],
            "checks": ["schema"],
        }
    )
    result = verify_contract(spark, contract, df)
    r = result.check_results[0]
    assert r.outcome == CheckOutcome.FAILED
    assert r.diagnostics["missingColumns"] == ["gone"]
    assert r.diagnostics["extraColumns"] == ["extra_col"]
    assert "amount" in r.diagnostics["typeMismatches"]


def test_schema_check_synonyms_pass(spark):
    df = spark.createDataFrame([("a", 1)], ["name", "n"])
    contract = contract_from_dict(
        {
            "dataset": "s2",
            "columns": [
                {"name": "name", "data_type": "text"},  # text == string
                {"name": "n", "data_type": "bigint"},
            ],
            "checks": ["schema"],
        }
    )
    result = verify_contract(spark, contract, df)
    assert result.check_results[0].outcome == CheckOutcome.PASSED


def test_check_selectors_exclude(spark, missing_df):
    contract = contract_from_dict(
        {
            "dataset": "t",
            "checks": ["row_count"],
            "columns": [{"name": "id", "checks": ["missing"]}],
        }
    )
    result = verify_contract(
        spark, contract, missing_df, check_selectors=["type=row_count"]
    )
    by_type = {r.check_type: r for r in result.check_results}
    assert by_type["row_count"].outcome == CheckOutcome.PASSED
    assert by_type["missing"].outcome == CheckOutcome.EXCLUDED


def test_yaml_contract_with_variables(spark, missing_df):
    yaml_text = """
dataset: t
variables:
  min_rows: 3
checks:
  - row_count:
      must_be_greater_than: ${min_rows}
"""
    contract = contract_from_yaml(yaml_text)
    result = verify_contract(spark, contract, missing_df)
    assert result.check_results[0].outcome == CheckOutcome.PASSED


def test_single_fused_aggregation(spark, missing_df):
    """All agg metrics land in ONE df.agg → metric dedup means the shared
    row-count metric appears once in measurements."""
    contract = contract_from_dict(
        {
            "dataset": "t",
            "checks": ["row_count"],
            "columns": [
                {"name": "id", "checks": ["missing", "duplicate"]},
                {"name": "age", "checks": ["missing"]},
            ],
        }
    )
    result = verify_contract(spark, contract, missing_df)
    keys = [m.metric_id for m in result.measurements]
    assert len(keys) == len(set(keys))
    # shared unfiltered rows metric deduped across all 4 checks
    assert sum(1 for k in keys if k == "rows|") == 1


def test_session_verifies_multiple_contracts_with_isolation(spark):
    """N contracts, one broken: the session records its error and the
    healthy contracts still verify (reference per-file isolation,
    session.py:45-180)."""
    from soda_core_spark import verify_contracts
    from soda_core_spark.plans.model import contract_from_dict

    a = spark.createDataFrame([(1, "x"), (2, None)], ["id", "v"])
    b = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    contracts = [
        contract_from_dict(
            {"dataset": "ds_a",
             "columns": [{"name": "v", "checks": [{"missing": {"must_be": 1}}]}]}
        ),
        contract_from_dict({"dataset": "ds_b", "checks": ["row_count"]}),
        contract_from_dict({"dataset": "ds_missing", "checks": ["row_count"]}),
    ]
    session = verify_contracts(
        spark, contracts, datasets={"ds_a": a, "ds_b": b}
    )
    assert session.status == "error"
    assert [ds for ds, _err in session.errors] == ["ds_missing"]
    assert [r.status for r in session.results] == ["passed", "passed"]
    assert "ds_missing" in session.summary()

    healthy = verify_contracts(
        spark, contracts[:2], datasets={"ds_a": a, "ds_b": b}
    )
    assert healthy.is_passed()


def test_failed_metric_keeps_its_cause(spark, missing_df):
    """Fault injection: a check ``filter`` over a missing column fails to
    analyse. The check lands NOT_EVALUATED with the cause in its message,
    the measurement carries the same cause, and a sibling check still
    evaluates."""
    contract = contract_from_dict(
        {
            "dataset": "t",
            "checks": [{"row_count": {"filter": "no_such_col > 0", "must_be": 2}}],
            "columns": [{"name": "id", "checks": ["missing"]}],
        }
    )
    result = verify_contract(spark, contract, missing_df)
    bad, sibling = result.check_results
    assert bad.outcome == CheckOutcome.NOT_EVALUATED
    assert "AnalysisException" in bad.message and "no_such_col" in bad.message
    (failed,) = [m for m in result.measurements if m.error is not None]
    assert failed.value is None
    assert failed.error.startswith("AnalysisException: ")
    assert failed.error in bad.message
    assert sibling.outcome == CheckOutcome.FAILED
    assert all(m.error is None for m in result.measurements if m is not failed)


def test_runtime_metric_failure_is_not_a_zero_count(spark):
    """Fault injection: an ANSI cast fails at RUNTIME inside the fused
    aggregation. The failed count must not be coerced to 0 (a silent
    PASS): the check lands NOT_EVALUATED with the cause, and the row
    count, computed by its own per-metric job, still evaluates."""
    df = spark.createDataFrame([("1",), ("x",), ("3",)], ["v"])
    contract = contract_from_dict(
        {
            "dataset": "t",
            "checks": [
                {"failed_rows": {"condition": "cast(v as int) > 100", "must_be": 0}},
                "row_count",
            ],
        }
    )
    result = verify_contract(spark, contract, df)
    bad, rows = result.check_results
    assert bad.outcome == CheckOutcome.NOT_EVALUATED
    assert bad.metric_value is None
    assert "CAST_INVALID_INPUT" in bad.message
    assert rows.outcome == CheckOutcome.PASSED and rows.metric_value == 3


def test_fused_fallback_is_reported(spark, tmp_path):
    """A runtime failure of the fused aggregation (an ANSI cast in a
    ``failed_rows`` condition) makes every metric re-run as its own job.
    The result says so, with the fused failure's cause; the other checks
    still evaluate, and the CLI exit codes are those of the check
    outcomes as before."""
    from soda_core_spark.cli import main as cli_main

    df = spark.createDataFrame([("1",), ("x",), ("3",)], ["v"])
    bad = {"failed_rows": {"condition": "cast(v as int) > 100", "must_be": 0}}
    contract = contract_from_dict(
        {"dataset": "t", "checks": [bad, "row_count"],
         "columns": [{"name": "v", "checks": ["missing"]}]}
    )
    result = verify_contract(spark, contract, df)
    assert result.fused_fallback
    assert result.fused_fallback_cause.startswith("NumberFormatException: ")
    assert "CAST_INVALID_INPUT" in result.fused_fallback_cause
    assert "fused aggregation failed" in result.summary()
    failed, rows, missing = result.check_results
    assert failed.outcome == CheckOutcome.NOT_EVALUATED
    assert rows.outcome == CheckOutcome.PASSED and rows.metric_value == 3
    assert missing.outcome == CheckOutcome.PASSED and missing.metric_value == 0

    healthy = verify_contract(
        spark, contract_from_dict({"dataset": "t", "checks": ["row_count"]}), df
    )
    assert not healthy.fused_fallback and healthy.fused_fallback_cause is None

    data = str(tmp_path / "t.parquet")
    df.write.parquet(data)

    def exit_code(checks):
        path = tmp_path / f"c{len(list(tmp_path.glob('c*.yml')))}.yml"
        path.write_text(yaml.safe_dump({"dataset": "t", "checks": checks}))
        return cli_main(["contract", "verify", "-c", str(path), "-ds",
                         f"t={data}", "--use-active-session"])

    assert exit_code([{"row_count": {"must_be": 3}}]) == 0
    assert exit_code([{"row_count": {"must_be": 4}}]) == 1
    assert exit_code([{"row_count": {"must_be": 4, "level": "warn"}}]) == 2
    assert exit_code([bad, {"row_count": {"must_be": 3}}]) == 3
