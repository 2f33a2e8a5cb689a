"""Side queries (reference-data anti-joins, metric/failed-rows queries) run
on one background thread that overlaps the fused aggregation. These tests
pin what the overlap must not change: per-query error isolation, the
caller's job group on every job, and no thread left behind."""

import re
import threading

import pytest

from soda_core_spark import CheckOutcome, verify_contract
from soda_core_spark.plans.model import contract_from_yaml


@pytest.fixture(scope="module")
def people(spark):
    df = spark.createDataFrame(
        [(i, f"u{i}" if i % 10 else None) for i in range(100)],
        "id bigint, name string",
    )
    df.createOrReplaceTempView("overlap_people")
    return df


@pytest.fixture(scope="module")
def even_ids(spark):
    return spark.createDataFrame([(i,) for i in range(0, 100, 2)], ["rid"])


_CONTRACT = """
dataset: overlap_people
checks:
  - row_count:
      must_be: 100
  - metric:
      query: "SELECT count(*) FROM overlap_people WHERE id >= 90"
      must_be: 10
columns:
  - name: name
    checks:
      - missing:
          must_be: 10
  - name: id
    checks:
      - invalid:
          valid_reference_data:
            dataset: refs
            column: rid
          must_be: 50
"""


def test_failing_side_queries_isolated_from_fused_checks(spark, people, even_ids):
    """A side query that raises and a reference dataset that is missing
    each leave only their own check NOT_EVALUATED, with the cause; the
    healthy side query and every fused check still evaluate."""
    c = contract_from_yaml(
        """
dataset: overlap_people
checks:
  - row_count:
      must_be: 100
  - metric:
      query: "SELECT assert_true(id < 0) FROM overlap_people"
      must_be: 0
columns:
  - name: name
    checks:
      - missing:
          must_be: 10
  - name: id
    checks:
      - invalid:
          valid_reference_data:
            dataset: refs
            column: rid
          must_be: 50
          qualifier: present
      - invalid:
          valid_reference_data:
            dataset: no_such_reference_table
            column: rid
          qualifier: absent
"""
    )
    res = verify_contract(spark, c, people, datasets={"refs": even_ids})
    by_name = {(r.check_type, r.column): r for r in res.check_results}
    invalid = [r for r in res.check_results if r.check_type == "invalid"]
    assert by_name[("row_count", None)].outcome == CheckOutcome.PASSED
    assert by_name[("missing", "name")].outcome == CheckOutcome.PASSED
    assert [r.outcome for r in invalid] == [
        CheckOutcome.PASSED, CheckOutcome.NOT_EVALUATED
    ]
    assert invalid[0].metric_value == 50
    assert "no_such_reference_table" in invalid[1].message
    assert "ValueError" in invalid[1].message
    bad_query = by_name[("metric", None)]
    assert bad_query.outcome == CheckOutcome.NOT_EVALUATED
    assert "failed:" in bad_query.message and "assert_true" in bad_query.message
    errored = {m.metric_id for m in res.measurements if m.error is not None}
    assert len(errored) == 2
    assert not res.fused_fallback


def test_every_job_carries_the_callers_job_group(spark, people, even_ids):
    """Jobs started on the side-query thread inherit the caller's job group,
    so cancelling the group cancels them too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    c = contract_from_yaml(_CONTRACT)
    verify_contract(spark, c, people, datasets={"refs": even_ids})  # warm
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("soda-overlap-group", "contract verification under test")
    try:
        res = verify_contract(spark, c, people, datasets={"refs": even_ids})
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert res.is_passed(), res.summary()
    grouped = set(tracker.getJobIdsForGroup("soda-overlap-group"))
    escaped = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    assert escaped == set()
    # the fused aggregation plus the metric query and the anti-join count
    assert len(grouped) >= 3, grouped


def _jvm_connection_threads(spark):
    """JVM threads with the JVM's default ``Thread-<n>`` name: py4j's
    per-connection threads, one for each Python thread that has called
    into the JVM in pinned-thread mode. Spark names the threads of its
    own pools (``shuffle-exchange-<n>``, ``broadcast-exchange-<n>``,
    ...), which grow and idle out on their own."""
    threads = spark._jvm.java.lang.Thread.getAllStackTraces().keySet().toArray()
    return sum(1 for t in threads if re.fullmatch(r"Thread-\d+", t.getName()))


def test_no_thread_left_behind(spark, people, even_ids):
    """The side-query thread is joined before verify_contract returns:
    after 40 verifications the Python thread count is back at its
    baseline, and the JVM keeps no connection thread per verification
    (the pinned py4j thread ends with its Python thread)."""
    c = contract_from_yaml(_CONTRACT)
    verify_contract(spark, c, people, datasets={"refs": even_ids})
    py_before = threading.active_count()
    jvm_before = _jvm_connection_threads(spark)
    for _ in range(40):
        res = verify_contract(spark, c, people, datasets={"refs": even_ids})
        assert threading.active_count() == py_before
    assert res.is_passed(), res.summary()
    assert _jvm_connection_threads(spark) <= jvm_before
