"""Round-2 reference-surface parity: CLI contract verify, failed_rows
rows_tested_query/keys_query, selectors with path/attributes, schema type
parameters, contract-level sampling.

Reference semantics under test:
* cli/cli.py:120-307 + cli/exit_codes.py — verify command + exit codes
* failed_rows_check.py:81-128, 314-391 — custom denominator + key form
* check_selector.py:13-186 — field grouping, wildcards, attribute lists
* sql_dialect.py:195-226 — parameter-wise type compare
* check_collections/base.py:595-605 — SAMPLE on the filtered CTE
"""

import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from soda_core_spark.operators.engine import verify_contract
from soda_core_spark.plans.model import (
    ContractParseError,
    contract_from_yaml,
)
from soda_core_spark.plans.results import CheckOutcome
from soda_core_spark.plans.selectors import (
    CheckSelector,
    CheckSelectorParseError,
)


@pytest.fixture(scope="module")
def people(spark):
    return spark.createDataFrame(
        [(i, f"u{i}", float(i)) for i in range(100)],
        "id bigint, name string, score double",
    )


# ---------------------------------------------------------------------------
# failed_rows: rows_tested_query + keys_query
# ---------------------------------------------------------------------------


def test_failed_rows_rows_tested_query_denominator(spark, people):
    people.createOrReplaceTempView("people_frt")
    # denominator 50 (not COUNT(*)=100): failed=10 → 20 percent
    c = contract_from_yaml(
        """
dataset: people_frt
checks:
  - failed_rows:
      condition: "id < 10"
      metric: percent
      rows_tested_query: "SELECT 50"
      must_be_less_than: 25
"""
    )
    res = verify_contract(spark, c, people)
    r = res.check_results[0]
    assert r.outcome == CheckOutcome.PASSED
    assert r.metric_value == pytest.approx(20.0)
    assert r.diagnostics["checkRowsTested"] == 50
    # dataset_rows_tested stays the real row count — the custom metric
    # must not clobber it (failed_rows_check.py:111-114)
    assert r.diagnostics["datasetRowsTested"] == 100


def test_failed_rows_keys_query(spark, people):
    people.createOrReplaceTempView("people_kq")
    c = contract_from_yaml(
        """
dataset: people_kq
checks:
  - failed_rows:
      keys_query: "SELECT id FROM people_kq WHERE id >= 97"
      must_be: 0
"""
    )
    res = verify_contract(spark, c, people)
    r = res.check_results[0]
    assert r.outcome == CheckOutcome.FAILED
    assert r.metric_value == 3
    assert sorted(r.diagnostics["failedKeys"]) == [97, 98, 99]
    assert r.diagnostics["failedKeysTruncated"] is False


def test_failed_rows_query_and_keys_query_conflict():
    with pytest.raises(ContractParseError):
        contract_from_yaml(
            """
dataset: x
checks:
  - failed_rows:
      query: "SELECT 1"
      keys_query: "SELECT 1"
"""
        )


# ---------------------------------------------------------------------------
# selectors: attributes / path / list matching
# ---------------------------------------------------------------------------


SELECTOR_CONTRACT = """
dataset: people_sel
checks:
  - row_count:
      attributes:
        team: ingest
        tags: [pii, core]
  - metric:
      expression: "avg(score)"
      must_be_greater_than: -1
      attributes:
        team: quality
"""


def _outcomes(spark, df, selectors):
    c = contract_from_yaml(SELECTOR_CONTRACT)
    c.source_path = "contracts/people.yml"
    res = verify_contract(spark, c, df, check_selectors=selectors)
    return {r.check_type: r.outcome for r in res.check_results}


def test_selector_attribute_scalar(spark, people):
    people.createOrReplaceTempView("people_sel")
    out = _outcomes(spark, people, ["attributes.team=ingest"])
    assert out["row_count"] == CheckOutcome.PASSED
    assert out["metric"] == CheckOutcome.EXCLUDED


def test_selector_attribute_list_member_and_exact(spark, people):
    # member match with wildcard
    out = _outcomes(spark, people, ["attributes.tags=pi*"])
    assert out["row_count"] == CheckOutcome.PASSED
    assert out["metric"] == CheckOutcome.EXCLUDED
    # exact set match
    out = _outcomes(spark, people, ["attributes.tags=[core, pii]"])
    assert out["row_count"] == CheckOutcome.PASSED
    # wrong set → excluded
    out = _outcomes(spark, people, ["attributes.tags=[core]"])
    assert out["row_count"] == CheckOutcome.EXCLUDED


def test_selector_path_and_cross_field_and(spark, people):
    # contract_path= (engine extension) matches the contract FILE path;
    # path= stays reference-pure (dotted check position only)
    out = _outcomes(spark, people, ["contract_path=contracts/*.yml", "type=metric"])
    assert out["metric"] == CheckOutcome.PASSED
    assert out["row_count"] == CheckOutcome.EXCLUDED
    # contract_path that matches nothing → all excluded
    out = _outcomes(spark, people, ["contract_path=other/*.yml"])
    assert set(out.values()) == {CheckOutcome.EXCLUDED}
    # a file glob under path= must NOT select checks via the file path
    out = _outcomes(spark, people, ["path=contracts/*.yml"])
    assert set(out.values()) == {CheckOutcome.EXCLUDED}


def test_selector_same_field_or(spark, people):
    out = _outcomes(spark, people, ["type=row_count", "type=metric"])
    assert out["row_count"] == CheckOutcome.PASSED
    assert out["metric"] == CheckOutcome.PASSED


def test_selector_parse_errors():
    with pytest.raises(CheckSelectorParseError):
        CheckSelector.parse("bogus_field=x")
    with pytest.raises(CheckSelectorParseError):
        CheckSelector.parse("=x")
    with pytest.raises(CheckSelectorParseError):
        CheckSelector.parse('attributes.tags=[a,"b]')  # unterminated quote


# ---------------------------------------------------------------------------
# schema type parameters
# ---------------------------------------------------------------------------


def _schema_result(spark, df, data_type, **col_kw):
    from soda_core_spark.plans.model import CheckSpec, ColumnSpec, Contract

    c = Contract(
        dataset="t",
        columns=[ColumnSpec(name="d", data_type=data_type, **col_kw)],
        checks=[CheckSpec(type="schema", allow_extra_columns=True)],
    )
    return verify_contract(spark, c, df).check_results[0]


@pytest.fixture(scope="module")
def decimal_df(spark):
    return spark.range(3).select(F.col("id").cast("decimal(10,2)").alias("d"))


def test_schema_type_params_match(spark, decimal_df):
    r = _schema_result(spark, decimal_df, "decimal(10,2)")
    assert r.outcome == CheckOutcome.PASSED


def test_schema_type_params_mismatch(spark, decimal_df):
    r = _schema_result(spark, decimal_df, "decimal(38,0)")
    assert r.outcome == CheckOutcome.FAILED
    assert r.diagnostics["typeMismatches"]["d"] == {
        "expected": "decimal(38,0)",
        "actual": "decimal(10,2)",
    }


def test_schema_type_params_explicit_fields(spark, decimal_df):
    # explicit numeric_precision/scale fields (reference YAML surface)
    r = _schema_result(
        spark, decimal_df, "decimal", numeric_precision=10, numeric_scale=2
    )
    assert r.outcome == CheckOutcome.PASSED
    r = _schema_result(
        spark, decimal_df, "decimal", numeric_precision=12, numeric_scale=2
    )
    assert r.outcome == CheckOutcome.FAILED


def test_schema_unparameterized_declaration_still_passes(spark, decimal_df):
    # no declared parameters → name-synonym compare only (numeric≡decimal)
    r = _schema_result(spark, decimal_df, "numeric")
    assert r.outcome == CheckOutcome.PASSED


def test_schema_varchar_length_against_plain_string_fails(spark, people):
    # Spark StringType has no length — a declared varchar(20) mismatches,
    # like the reference comparing an int expectation to a NULL actual
    from soda_core_spark.plans.model import CheckSpec, ColumnSpec, Contract

    c = Contract(
        dataset="t",
        columns=[ColumnSpec(name="name", data_type="varchar(20)")],
        checks=[CheckSpec(type="schema", allow_extra_columns=True)],
    )
    r = verify_contract(spark, c, people).check_results[0]
    assert r.outcome == CheckOutcome.FAILED
    # plain varchar (no length) passes against string
    c2 = Contract(
        dataset="t",
        columns=[ColumnSpec(name="name", data_type="varchar")],
        checks=[CheckSpec(type="schema", allow_extra_columns=True)],
    )
    assert (
        verify_contract(spark, c2, people).check_results[0].outcome
        == CheckOutcome.PASSED
    )


# ---------------------------------------------------------------------------
# contract-level sampling
# ---------------------------------------------------------------------------


def test_contract_sample_limit(spark, people):
    c = contract_from_yaml(
        """
dataset: people_sample
sample:
  limit: 30
checks:
  - row_count:
      must_be: 30
"""
    )
    res = verify_contract(spark, c, people)
    assert res.check_results[0].outcome == CheckOutcome.PASSED


def test_contract_sample_percent(spark, people):
    c = contract_from_yaml(
        """
dataset: people_sample
sample:
  percent: 50
  seed: 7
checks:
  - row_count:
      must_be_between: [20, 80]
"""
    )
    res = verify_contract(spark, c, people)
    r = res.check_results[0]
    assert r.outcome == CheckOutcome.PASSED
    # rows_tested reflects the sample, not the full table
    assert r.diagnostics["datasetRowsTested"] < 100


def test_contract_sample_validation():
    with pytest.raises(ContractParseError):
        contract_from_yaml("dataset: x\nsample:\n  percent: 200\n")
    with pytest.raises(ContractParseError):
        contract_from_yaml("dataset: x\nsample:\n  percent: 10\n  limit: 5\n")


def test_contract_sample_plan_shows_sample_node(spark, people):
    from soda_core_spark.plans.model import contract_from_yaml as cfy

    c = cfy("dataset: x\nsample:\n  percent: 10\n")
    from soda_core_spark.operators.compiler import apply_scan_filter

    filtered = apply_scan_filter(people, c.filter).sample(
        fraction=c.sample.percent / 100.0, seed=c.sample.seed
    )
    assert "Sample" in filtered._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# CLI contract verify (subprocess e2e)
# ---------------------------------------------------------------------------


def _run_cli(*args):
    return subprocess.run(
        [sys.executable, "-m", "soda_core_spark.cli", "contract", "verify", *args],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=300,
    )


@pytest.fixture(scope="module")
def people_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cli") / "people.parquet")
    spark.createDataFrame(
        [(i, f"u{i}") for i in range(50)], "id bigint, name string"
    ).write.parquet(path)
    return path


def _write_contract(tmp_path_factory, body):
    p = tmp_path_factory.mktemp("contracts") / "c.yml"
    p.write_text(body)
    return str(p)


def test_cli_verify_pass_fail_warn_error(tmp_path_factory, people_parquet):
    # exit 0: passes
    ok = _write_contract(
        tmp_path_factory, "dataset: people\nchecks:\n  - row_count:\n      must_be: 50\n"
    )
    r = _run_cli("-c", ok, "-ds", f"people={people_parquet}", "--local-cpus", "2")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "status=passed" in r.stdout

    # exit 1: check failure
    bad = _write_contract(
        tmp_path_factory, "dataset: people\nchecks:\n  - row_count:\n      must_be: 1\n"
    )
    r = _run_cli("-c", bad, "-ds", f"people={people_parquet}", "--local-cpus", "2")
    assert r.returncode == 1
    assert "status=failed" in r.stdout

    # exit 2: warning only
    warn = _write_contract(
        tmp_path_factory,
        "dataset: people\nchecks:\n  - row_count:\n      must_be: 1\n      level: warn\n",
    )
    r = _run_cli("-c", warn, "-ds", f"people={people_parquet}", "--local-cpus", "2")
    assert r.returncode == 2

    # exit 3: engine error (bad SQL expression → NOT_EVALUATED)
    err = _write_contract(
        tmp_path_factory,
        "dataset: people\nchecks:\n  - metric:\n      expression: \"bogus + 1\"\n      must_be: 0\n",
    )
    r = _run_cli("-c", err, "-ds", f"people={people_parquet}", "--local-cpus", "2")
    assert r.returncode == 3


def test_cli_verify_bad_args(tmp_path_factory, people_parquet):
    # missing contract file
    r = _run_cli("-c", "/nonexistent.yml", "-ds", f"people={people_parquet}")
    assert r.returncode == 3
    # malformed --set
    ok = _write_contract(tmp_path_factory, "dataset: people\nchecks:\n  - row_count\n")
    r = _run_cli("-c", ok, "-ds", f"people={people_parquet}", "--set", "novalue")
    assert r.returncode == 3
    # bad selector field
    r = _run_cli("-c", ok, "-ds", f"people={people_parquet}", "-cf", "nope=1")
    assert r.returncode == 3


def test_cli_verify_metrics_out(tmp_path_factory, people_parquet, spark):
    c = _write_contract(
        tmp_path_factory, "dataset: people\nchecks:\n  - row_count:\n      must_be: 50\n"
    )
    out_dir = str(tmp_path_factory.mktemp("dw"))
    r = _run_cli(
        "-c", c,
        "-ds", f"people={people_parquet}",
        "-dw", out_dir,
        "--data-timestamp", "2026-08-16T00:00:00+00:00",
        "--local-cpus", "2",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    cm = spark.read.parquet(f"{out_dir}/check_metrics")
    rows = cm.collect()
    assert len(rows) == 1
    assert rows[0]["check_type"] == "row_count"
    assert rows[0]["outcome"] == "passed"
    mm = spark.read.parquet(f"{out_dir}/measurements")
    assert mm.count() >= 1


def test_cli_verify_variables_and_selector(tmp_path_factory, people_parquet):
    c = _write_contract(
        tmp_path_factory,
        "dataset: people\n"
        "checks:\n"
        "  - row_count:\n"
        "      must_be: ${EXPECTED}\n"
        "  - metric:\n"
        "      expression: \"count(distinct name)\"\n"
        "      must_be: 50\n",
    )
    r = _run_cli(
        "-c", c,
        "-ds", f"people={people_parquet}",
        "--set", "EXPECTED=50",
        "-cf", "type=row_count",
        "--local-cpus", "2",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "EXCLUDED" in r.stdout  # the metric check was selected out


# ---------------------------------------------------------------------------
# round-2 self-review regression tests
# ---------------------------------------------------------------------------


def test_failed_rows_condition_and_keys_query_conflict():
    with pytest.raises(ContractParseError):
        contract_from_yaml(
            """
dataset: x
checks:
  - failed_rows:
      condition: "id < 0"
      keys_query: "SELECT 1"
"""
        )


def test_shared_keys_query_both_checks_get_keys(spark, people):
    """Two checks with the SAME keys_query must each capture failedKeys —
    the side query opts out of metric dedup because it carries per-check
    closure state."""
    people.createOrReplaceTempView("people_kq2")
    c = contract_from_yaml(
        """
dataset: people_kq2
checks:
  - failed_rows:
      keys_query: "SELECT id FROM people_kq2 WHERE id >= 98"
      qualifier: a
      must_be: 0
  - failed_rows:
      keys_query: "SELECT id FROM people_kq2 WHERE id >= 98"
      qualifier: b
      level: warn
      must_be: 0
"""
    )
    res = verify_contract(spark, c, people)
    for r in res.check_results:
        assert sorted(r.diagnostics["failedKeys"]) == [98, 99], r.name
    assert {r.outcome for r in res.check_results} == {
        CheckOutcome.FAILED,
        CheckOutcome.WARNED,
    }


def test_cli_verify_bad_yaml_and_bad_sample_exit_3(tmp_path_factory, people_parquet):
    bad_yaml = _write_contract(tmp_path_factory, "dataset: [unclosed\n  - x:\n")
    r = _run_cli("-c", bad_yaml, "-ds", f"people={people_parquet}")
    assert r.returncode == 3, (r.returncode, r.stderr[-500:])
    bad_sample = _write_contract(
        tmp_path_factory, "dataset: people\nsample: 10\nchecks:\n  - row_count\n"
    )
    r = _run_cli("-c", bad_sample, "-ds", f"people={people_parquet}")
    assert r.returncode == 3, (r.returncode, r.stderr[-500:])


def test_sample_limit_stable_across_jobs(spark, people):
    """sample.limit + a side query (reference check): both jobs must see
    the SAME subset (the limited frame is pinned for the verification),
    also while the side query runs concurrently with the fused
    aggregation. The reference holds only the even ids, so the anti-join
    counts the odd ids of the side query's subset, which must equal the
    fused ``failed_rows`` count of odd ids in the aggregation's subset."""
    ref = spark.createDataFrame([(i,) for i in range(0, 100, 2)], ["rid"])
    # several partitions, so an unpinned limit could answer from any of them
    people = people.repartition(8)
    c = contract_from_yaml(
        """
dataset: people_sl
sample:
  limit: 30
checks:
  - row_count:
      must_be: 30
  - failed_rows:
      condition: "id % 2 = 1"
columns:
  - name: id
    checks:
      - invalid:
          valid_reference_data:
            dataset: refs
            column: rid
"""
    )
    res = verify_contract(spark, c, people, datasets={"refs": ref})
    by_type = {r.check_type: r for r in res.check_results}
    assert by_type["row_count"].outcome == CheckOutcome.PASSED
    odd = by_type["failed_rows"].metric_value
    assert by_type["invalid"].metric_value == odd
    # rows tested by the reference check equals the sampled row count
    assert by_type["invalid"].diagnostics["checkRowsTested"] == 30


def test_cli_contract_test_parse_only(tmp_path_factory):
    ok = _write_contract(
        tmp_path_factory, "dataset: people\nchecks:\n  - row_count\n"
    )
    r = subprocess.run(
        [sys.executable, "-m", "soda_core_spark.cli", "contract", "test", "-c", ok],
        capture_output=True, text=True, cwd="/root/repo", timeout=120,
    )
    assert r.returncode == 0, r.stderr[-500:]
    assert "is valid" in r.stdout

    bad = _write_contract(
        tmp_path_factory, "dataset: people\nchecks:\n  - bogus_check_type\n"
    )
    r = subprocess.run(
        [sys.executable, "-m", "soda_core_spark.cli", "contract", "test", "-c", bad],
        capture_output=True, text=True, cwd="/root/repo", timeout=120,
    )
    assert r.returncode == 3
    assert "INVALID" in r.stderr


# ---------------------------------------------------------------------------
# round 3: sampling × raw-SQL side queries, legit-unavailable metrics,
# path-selector normalization
# ---------------------------------------------------------------------------


def test_sample_plus_raw_sql_side_query_rejected(spark, people):
    """contract sample: + failed_rows raw SQL would mix an unsampled
    numerator with a sampled denominator (r2 ADVICE) — rejected at
    planning time → NOT_EVALUATED with a clear message, scan continues."""
    people.createOrReplaceTempView("people_sq")
    c = contract_from_yaml(
        """
dataset: people_sq
sample:
  percent: 30
checks:
  - row_count:
      must_be_greater_than: 0
  - failed_rows:
      query: "SELECT * FROM people_sq WHERE id < 10"
      must_be: 0
"""
    )
    res = verify_contract(spark, c, people)
    by_type = {r.check_type: r for r in res.check_results}
    # the rest of the scan proceeds on the sampled frame
    assert by_type["row_count"].outcome == CheckOutcome.PASSED
    fr = by_type["failed_rows"]
    assert fr.outcome == CheckOutcome.NOT_EVALUATED
    assert "sample" in (fr.message or "")
    assert fr.metric_unavailable is False  # this IS an error state


def test_sample_plus_rows_tested_query_rejected(spark, people):
    people.createOrReplaceTempView("people_sq2")
    c = contract_from_yaml(
        """
dataset: people_sq2
sample:
  limit: 20
checks:
  - failed_rows:
      condition: "id < 10"
      metric: percent
      rows_tested_query: "SELECT 50"
      must_be_less_than: 25
"""
    )
    res = verify_contract(spark, c, people)
    r = res.check_results[0]
    assert r.outcome == CheckOutcome.NOT_EVALUATED
    assert "sample" in (r.message or "")


def test_rows_tested_null_is_unavailable_not_error(spark, people):
    """A legitimately-NULL rows_tested denominator leaves the percent
    check NOT_EVALUATED with metric_unavailable=True (reference treats
    NULL rows-tested as valid, failed_rows_check.py:133-140)."""
    people.createOrReplaceTempView("people_null_rt")
    c = contract_from_yaml(
        """
dataset: people_null_rt
checks:
  - failed_rows:
      condition: "id < 10"
      metric: percent
      rows_tested_query: "SELECT CAST(NULL AS BIGINT)"
      must_be_less_than: 25
"""
    )
    res = verify_contract(spark, c, people)
    r = res.check_results[0]
    assert r.outcome == CheckOutcome.NOT_EVALUATED
    assert r.metric_unavailable is True
    # the numerator was still measured and lands in diagnostics
    assert r.diagnostics["failedRowsCount"] == 10
    assert r.diagnostics["checkRowsTested"] is None


def test_rows_tested_query_error_is_error(spark, people):
    """A rows_tested_query that FAILS (bad SQL) is an engine error —
    metric_unavailable stays False so the CLI maps it to exit 3."""
    people.createOrReplaceTempView("people_err_rt")
    c = contract_from_yaml(
        """
dataset: people_err_rt
checks:
  - failed_rows:
      condition: "id < 10"
      metric: percent
      rows_tested_query: "SELECT FROM bogus syntax !!"
      must_be_less_than: 25
"""
    )
    res = verify_contract(spark, c, people)
    r = res.check_results[0]
    assert r.outcome == CheckOutcome.NOT_EVALUATED
    assert r.metric_unavailable is False


def test_cli_unavailable_metric_is_not_exit_3(tmp_path_factory, people_parquet):
    c = _write_contract(
        tmp_path_factory,
        "dataset: people\n"
        "checks:\n"
        "  - row_count:\n"
        "      must_be: 50\n"
        "  - failed_rows:\n"
        "      condition: \"id < 10\"\n"
        "      metric: percent\n"
        "      rows_tested_query: \"SELECT CAST(NULL AS BIGINT)\"\n"
        "      must_be_less_than: 25\n",
    )
    r = _run_cli("-c", c, "-ds", f"people={people_parquet}", "--local-cpus", "2")
    assert r.returncode == 0, (r.stdout, r.stderr[-2000:])


def test_contract_path_selector_matches_absolute_source_path(spark, people):
    """contract_path= globs written for relative paths must match when the
    contract was loaded via an absolute path (as-given / cwd-relative /
    absolute forms all participate in the OR)."""
    people.createOrReplaceTempView("people_pathsel")
    c = contract_from_yaml(
        "dataset: people_pathsel\nchecks:\n  - row_count:\n      must_be_greater_than: 0\n"
    )
    # absolute, as the CLI passes it
    c.source_path = str(
        Path(__file__).resolve().parents[1] / "contracts" / "webtext.yml"
    )
    res = verify_contract(
        spark, c, people, check_selectors=["contract_path=contracts/*.yml"]
    )
    assert res.check_results[0].outcome == CheckOutcome.PASSED
    # and a non-matching relative glob still excludes
    res = verify_contract(
        spark, c, people, check_selectors=["contract_path=other/*.yml"]
    )
    assert res.check_results[0].outcome == CheckOutcome.EXCLUDED


# ---------------------------------------------------------------------------
# round 3: column_expression (computed columns)
# ---------------------------------------------------------------------------


def test_column_expression_missing_invalid_duplicate(spark):
    """Checks on a column with `column_expression:` run over the SQL
    expression, not the physical column (reference contract_yaml.py:
    493-495; contract_verification_impl.py:656-675 feeds it into
    is_missing_expr/is_invalid_expr at :715-722)."""
    df = spark.createDataFrame(
        [
            (1, "Alice"), (2, "ALICE"), (3, "bob"),
            (4, "N/A"), (5, None), (6, "Carol"),
        ],
        "id bigint, name string",
    )
    c = contract_from_yaml(
        """
dataset: ce_people
columns:
  - name: name
    column_expression: "LOWER(name)"
    missing_values: ["n/a"]
    checks:
      - missing:
          must_be: 2
      - invalid:
          valid_values: ["alice", "bob", "carol"]
          must_be: 0
      - duplicate:
          must_be: 1
"""
    )
    res = verify_contract(spark, c, df)
    by_type = {r.check_type: r for r in res.check_results}
    # missing: NULL + 'N/A' (lowered to 'n/a' matches missing_values) = 2
    m = by_type["missing"]
    assert m.outcome == CheckOutcome.PASSED, m.diagnostics
    assert m.metric_value == 2
    # invalid: every non-missing lowered value is in the valid set
    assert by_type["invalid"].outcome == CheckOutcome.PASSED
    assert by_type["invalid"].metric_value == 0
    # duplicate: 'Alice' and 'ALICE' collide under LOWER → 1 duplicate
    d = by_type["duplicate"]
    assert d.outcome == CheckOutcome.PASSED, d.diagnostics
    assert d.metric_value == 1


def test_column_expression_aggregate_and_freshness(spark):
    from datetime import datetime, timezone

    df = spark.createDataFrame(
        [(1, "  5 ", "2026-08-01T00:00:00"), (2, " 15", "2026-08-10T12:00:00")],
        "id bigint, amount_str string, ts_str string",
    )
    c = contract_from_yaml(
        """
dataset: ce_agg
columns:
  - name: amount_str
    column_expression: "CAST(TRIM(amount_str) AS DOUBLE)"
    checks:
      - aggregate:
          function: avg
          must_be: 10
  - name: ts_str
    column_expression: "CAST(ts_str AS TIMESTAMP)"
    checks:
      - freshness:
          unit: hour
          must_be_less_than: 48
"""
    )
    res = verify_contract(
        spark, c, df,
        data_timestamp=datetime(2026, 8, 11, 12, 0, 0, tzinfo=timezone.utc),
    )
    by_type = {r.check_type: r for r in res.check_results}
    assert by_type["aggregate"].outcome == CheckOutcome.PASSED
    assert by_type["aggregate"].metric_value == pytest.approx(10.0)
    f = by_type["freshness"]
    assert f.outcome == CheckOutcome.PASSED, f.diagnostics
    assert f.metric_value == 24


def test_column_expression_reference_data(spark):
    """Reference-data validity joins on the EXPRESSION value."""
    df = spark.createDataFrame(
        [(1, "US "), (2, " de"), (3, "xx"), (4, None)],
        "id bigint, country string",
    )
    ref = spark.createDataFrame([("us",), ("de",), ("fr",)], "code string")
    c = contract_from_yaml(
        """
dataset: ce_ref
columns:
  - name: country
    column_expression: "LOWER(TRIM(country))"
    checks:
      - invalid:
          valid_reference_data:
            dataset: country_codes
            column: code
          must_be: 1
"""
    )
    res = verify_contract(spark, c, df, datasets={"country_codes": ref})
    r = res.check_results[0]
    assert r.outcome == CheckOutcome.PASSED, r.diagnostics
    assert r.metric_value == 1  # only 'xx' misses the reference set


# ---------------------------------------------------------------------------
# round 3: data-source test CLI
# ---------------------------------------------------------------------------


def test_cli_data_source_test(people_parquet):
    ok = subprocess.run(
        [sys.executable, "-m", "soda_core_spark.cli", "data-source", "test",
         "-ds", f"people={people_parquet}", "--local-cpus", "2"],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert ok.returncode == 0, ok.stderr[-2000:]
    assert "session ok" in ok.stdout
    assert "people" in ok.stdout and "ok: 2 columns" in ok.stdout
    assert "Success" in ok.stdout

    bad = subprocess.run(
        [sys.executable, "-m", "soda_core_spark.cli", "data-source", "test",
         "-ds", "nope=/does/not/exist.parquet", "--local-cpus", "2"],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert bad.returncode == 3
    assert "NOT readable" in bad.stderr


# ---------------------------------------------------------------------------
# round 3: dataset identifier prefixes + check_path selectors
# ---------------------------------------------------------------------------


def test_dataset_identifier_parse():
    from soda_core_spark.plans.model import DatasetIdentifier

    d = DatasetIdentifier.parse("spark_ds/lake/bronze/events")
    assert d.data_source_name == "spark_ds"
    assert d.prefixes == ("lake", "bronze")
    assert d.dataset_name == "events"
    assert d.spark_name == "lake.bronze.events"
    assert d.to_string() == "spark_ds/lake/bronze/events"
    # plain (possibly dotted) names stay opaque
    p = DatasetIdentifier.parse("catalog.db.table")
    assert p.data_source_name is None
    assert p.spark_name == "catalog.db.table"
    with pytest.raises(ContractParseError):
        DatasetIdentifier.parse("ds//x")


def test_prefixed_dataset_resolves_via_spark_table(spark, people):
    """A two-level-prefixed DQN resolves through the session catalog:
    prefixes become the database namespace of spark.table."""
    spark.sql("CREATE DATABASE IF NOT EXISTS soda_dqn_db")
    people.write.mode("overwrite").saveAsTable("soda_dqn_db.people_pref")
    try:
        c = contract_from_yaml(
            """
dataset: spark_ds/soda_dqn_db/people_pref
checks:
  - row_count:
      must_be: 100
"""
        )
        res = verify_contract(spark, c)
        r = res.check_results[0]
        assert r.outcome == CheckOutcome.PASSED
        # identity hashes the FULL qualified name — two contracts with the
        # same dataset name under different prefixes never collide
        c2 = contract_from_yaml(
            "dataset: spark_ds/other_db/people_pref\nchecks:\n  - row_count\n"
        )
        from soda_core_spark.plans.results import check_identity

        id1 = check_identity(c.dataset, "row_count", None, None)
        id2 = check_identity(c2.dataset, "row_count", None, None)
        assert id1 != id2
    finally:
        spark.sql("DROP TABLE IF EXISTS soda_dqn_db.people_pref")
        spark.sql("DROP DATABASE IF EXISTS soda_dqn_db")


def test_prefixed_dataset_binds_from_datasets_dict(spark, people):
    c = contract_from_yaml(
        "dataset: spark_ds/lake/people_x\nchecks:\n  - row_count:\n      must_be: 100\n"
    )
    # bind by dotted catalog path (what a CLI -ds flag would map to)
    res = verify_contract(spark, c, datasets={"lake.people_x": people})
    assert res.check_results[0].outcome == CheckOutcome.PASSED


def test_path_selector_matches_check_relative_path(spark, people):
    """Reference semantics: path= matches the check's dotted position
    path columns.<col>.checks.<type>[.<qualifier>]
    (contract_verification_impl.py:1156-1171, check_selector.py:113-115)."""
    people.createOrReplaceTempView("people_rp")
    c = contract_from_yaml(
        """
dataset: people_rp
columns:
  - name: name
    checks:
      - missing:
          must_be: 0
checks:
  - row_count:
      must_be: 100
"""
    )
    res = verify_contract(
        spark, c, people, check_selectors=["path=columns.name.checks.*"]
    )
    by_type = {r.check_type: r.outcome for r in res.check_results}
    assert by_type["missing"] == CheckOutcome.PASSED
    assert by_type["row_count"] == CheckOutcome.EXCLUDED
    # check_path= selects the same value without file-path fallback
    res = verify_contract(
        spark, c, people, check_selectors=["check_path=checks.row_count"]
    )
    by_type = {r.check_type: r.outcome for r in res.check_results}
    assert by_type["row_count"] == CheckOutcome.PASSED
    assert by_type["missing"] == CheckOutcome.EXCLUDED


def test_check_level_column_expression_overrides(spark):
    """check-level column_expression overrides the column-level one
    (reference contract_verification_impl.py:1136-1141)."""
    df = spark.createDataFrame(
        [(1, "A"), (2, "a"), (3, None)], "id bigint, tag string"
    )
    c = contract_from_yaml(
        """
dataset: ce_override
columns:
  - name: tag
    column_expression: "LOWER(tag)"
    checks:
      - duplicate:
          must_be: 1
      - duplicate:
          qualifier: raw
          column_expression: "tag"
          must_be: 0
"""
    )
    res = verify_contract(spark, c, df)
    by_q = {r.diagnostics.get("qualifier") or i: r
            for i, r in enumerate(res.check_results)}
    vals = [r.metric_value for r in res.check_results]
    # lowered: 'A'/'a' collide (1 dup); raw: all distinct (0 dups)
    assert sorted(vals) == [0, 1]
    assert all(r.outcome == CheckOutcome.PASSED for r in res.check_results)


# ---------------------------------------------------------------------------
# round 3: data-source create / discover
# ---------------------------------------------------------------------------


def test_cli_data_source_create(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dsyaml") / "sub" / "spark.yml")
    r = subprocess.run(
        [sys.executable, "-m", "soda_core_spark.cli", "data-source", "create",
         "-f", path],
        capture_output=True, text=True, cwd="/root/repo", timeout=60,
    )
    assert r.returncode == 0, r.stderr
    body = open(path).read()
    assert "type: spark" in body and "local_cpus" in body and "sc://" in body
    # refuses to overwrite (reference handlers/data_source.py:24-29)
    r2 = subprocess.run(
        [sys.executable, "-m", "soda_core_spark.cli", "data-source", "create",
         "-f", path],
        capture_output=True, text=True, cwd="/root/repo", timeout=60,
    )
    assert r2.returncode == 3
    assert "already exists" in r2.stderr
    # unsupported type (reference supports exactly one type too)
    r3 = subprocess.run(
        [sys.executable, "-m", "soda_core_spark.cli", "data-source", "create",
         "-f", path + ".2", "-t", "postgres"],
        capture_output=True, text=True, cwd="/root/repo", timeout=60,
    )
    assert r3.returncode == 3


def test_cli_data_source_discover(spark, capsys):
    """Discovery lists catalog datasets as DQNs with SQL-LIKE
    include/exclude (OR within include, AND-not for exclude) and hides
    __soda_temp tables (reference discovery.py:19-31)."""
    import shutil

    from soda_core_spark.cli import main as cli_main

    shutil.rmtree("/root/repo/spark-warehouse/disc_t.db", ignore_errors=True)
    spark.sql("CREATE DATABASE IF NOT EXISTS disc_t")
    try:
        for t in ("events_a", "users_b", "other_c", "__soda_temp_scan"):
            spark.range(3).write.mode("overwrite").saveAsTable(f"disc_t.{t}")
        rc = cli_main([
            "data-source", "discover", "--database", "disc_t",
            "--include", "%_a", "--include", "users%", "--use-active-session",
        ])
        out = capsys.readouterr().out
        assert rc == 0
        assert "spark_ds/disc_t/events_a" in out
        assert "spark_ds/disc_t/users_b" in out
        assert "other_c" not in out
        assert "Discovered 2 datasets" in out

        rc = cli_main([
            "data-source", "discover", "--database", "disc_t",
            "--exclude", "other%", "--name", "prod", "--use-active-session",
        ])
        out = capsys.readouterr().out
        assert rc == 0
        # temp tables never surface, exclude filters, custom DQN prefix
        assert "__soda_temp" not in out
        assert "prod/disc_t/events_a" in out
        assert "Discovered 2 datasets" in out
    finally:
        spark.sql("DROP DATABASE IF EXISTS disc_t CASCADE")


def test_cli_check_path_and_verbose(tmp_path_factory, people_parquet):
    c = _write_contract(
        tmp_path_factory,
        "dataset: people\n"
        "columns:\n"
        "  - name: name\n"
        "    checks:\n"
        "      - missing:\n"
        "          must_be: 0\n"
        "checks:\n"
        "  - row_count:\n"
        "      must_be: 1\n",  # would FAIL if selected
    )
    # only the column check selected via its position path → exit 0
    r = _run_cli(
        "-c", c, "-ds", f"people={people_parquet}",
        "-cp", "columns.name.checks.*", "-v", "--local-cpus", "2",
    )
    assert r.returncode == 0, (r.stdout, r.stderr[-1500:])
    assert "EXCLUDED" in r.stdout  # the row_count check was not selected
    assert "measurement" in r.stdout  # -v prints measurements


# ---------------------------------------------------------------------------
# round 4: primary-key schema surface (reference ColumnMetadata.is_primary_key,
# metadata_types.py:88-97 + statements/metadata_primary_keys_query.py)
# ---------------------------------------------------------------------------


def test_schema_primary_key_mismatch_and_match(spark, people):
    from soda_core_spark.plans.model import contract_from_yaml

    c = contract_from_yaml(
        """
dataset: t
columns:
  - name: id
    primary_key: true
  - name: name
checks:
  - schema:
      allow_extra_columns: true
"""
    )
    assert c.columns[0].is_primary_key and not c.columns[1].is_primary_key

    # declared PK ['id'] vs introspected ['id','name'] → FAILED + diagnostics
    r = verify_contract(
        spark, c, people, primary_keys=["name", "id"]
    ).check_results[0]
    assert r.outcome == CheckOutcome.FAILED
    assert r.diagnostics["primaryKeyMismatch"] == {
        "expected": ["id"], "actual": ["id", "name"],
    }
    assert r.diagnostics["primaryKeyIntrospection"] == "compared"

    # matching key (order-insensitive: identifier fields are a set) → PASSED
    r = verify_contract(spark, c, people, primary_keys=["id"]).check_results[0]
    assert r.outcome == CheckOutcome.PASSED


def test_schema_primary_key_noop_without_introspection(spark, people):
    """parquet/views don't introspect PKs (introspect_primary_keys → None):
    the declaration is recorded but compared against nothing — the
    reference's non-introspecting-source semantics."""
    from soda_core_spark.plans.model import contract_from_yaml
    from soda_core_spark.sources.tables import introspect_primary_keys

    c = contract_from_yaml(
        """
dataset: t
columns:
  - name: id
    primary_key: true
checks:
  - schema:
      allow_extra_columns: true
"""
    )
    r = verify_contract(spark, c, people).check_results[0]
    assert r.outcome == CheckOutcome.PASSED
    assert r.diagnostics["declaredPrimaryKey"] == ["id"]
    assert r.diagnostics["primaryKeyIntrospection"] == "unavailable"
    assert "primaryKeyMismatch" not in r.diagnostics
    # the introspection facade itself: temp view → None, never a raise
    people.createOrReplaceTempView("people_pk_probe")
    assert introspect_primary_keys(spark, "people_pk_probe") is None
