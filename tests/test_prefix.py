"""The bucketed prefix-sum primitive (operators/prefix.py) against the
single-window form it replaces: SUM(w) OVER (PARTITION BY keys ORDER BY
order ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)."""

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from soda_core_spark.operators import prefix


@pytest.fixture(scope="module")
def data(spark):
    """Tie-heavy seeded rows: 11 order values incl. NULL, a NULL group,
    zero weights."""
    rng = random.Random(4)
    values = [None] + [float(x) for x in range(10)]
    rows = [
        (i, rng.choice([None, "a", "b"]), rng.choice(values), rng.randint(0, 5))
        for i in range(400)
    ]
    return spark.createDataFrame(rows, "id long, g string, v double, w long")


def _order_and_bucket(df, direction, buckets):
    if direction == "asc":
        [b] = prefix.sketch_buckets(df, ["v"], buckets)
        return [F.col("v").asc_nulls_first(), F.col("id")], b
    if direction == "desc":
        # NULLS LAST descending: NULL's bucket 0 is the highest
        [b] = prefix.sketch_buckets(df, ["v"], buckets)
        return [F.col("v").desc(), F.col("id")], -b
    order = F.md5(F.col("id").cast("string"))
    return [order, F.col("id")], prefix.hash_bucket(order, buckets)


def _single_window(df, weight, order, keys):
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.select(
        "id",
        F.sum(weight).over(w).alias("cum"),
        F.sum(weight).over(Window.partitionBy(*keys)).alias("total"),
    )


@pytest.mark.parametrize("direction", ["asc", "desc", "hash"])
def test_running_sum_matches_single_window(data, direction):
    df = data.repartition(7)
    # 64 buckets > the 11 distinct values
    cases = {b: _order_and_bucket(df, direction, b) for b in (1, 3, 64)}
    for keys in ([], ["g"]):  # global, and with a NULL group
        want = {
            r["id"]: (r["cum"], r["total"])
            for r in _single_window(
                df, F.col("w"), cases[1][0], keys
            ).collect()
        }
        for buckets, (order, bucket) in cases.items():
            got = {
                r["id"]: (r[prefix.CUM], r[prefix.TOTAL])
                for r in prefix.running_sum(
                    df, F.col("w"), bucket, order, keys
                ).collect()
            }
            assert got == want, (direction, keys, buckets)


def test_running_sum_true_ties(data):
    """With no tiebreak the ROWS frame orders ties arbitrarily, so only
    tie-invariant views compare per (group, value): with weight 1 the
    running counts {o+1..o+k}, with weight w the sum through the whole
    tie group. The NULL group and NULL values are tie groups too."""
    df = data.repartition(7)
    order = [F.col("v").asc_nulls_first()]

    def per_tie(out, cum, view):
        grp = {}
        for r in out.collect():
            grp.setdefault((r["g"], r["v"]), []).append(r[cum])
        return {k: view(v) for k, v in grp.items()}

    w = (
        Window.partitionBy("g")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for b in (1, 3, 64):
        [bucket] = prefix.sketch_buckets(df, ["v"], b)
        for weight, view in ((F.lit(1), sorted), (F.col("w"), max)):
            want = per_tie(
                df.withColumn("c", F.sum(weight).over(w)), "c", view
            )
            got = per_tie(
                prefix.running_sum(df, weight, bucket, order, ["g"]),
                prefix.CUM,
                view,
            )
            assert got == want, (b, view)


def test_bucket_offsets_rejects_internal_columns(spark):
    df = spark.createDataFrame([(1, 2)], ["id", prefix.CUM])
    with pytest.raises(ValueError, match="internal column"):
        prefix.running_sum(df, F.col("id"), F.lit(0), [F.col("id")])
