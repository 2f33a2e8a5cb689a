"""Exact bucketed prefix sums — the one implementation of the two-stage
running sum behind every partition-parallel rank and cumsum in the
operators (token budgets, shard packing, rank fusion, average ranks,
exact ntiles). Private: operators import it, the package does not
export it.

``SUM(w) OVER (PARTITION BY keys ORDER BY order ROWS BETWEEN UNBOUNDED
PRECEDING AND CURRENT ROW)`` written as one window sends every row of a
key group through ONE reducer (with no keys: the whole input, an
``Exchange SinglePartition``). Here the same sum runs in two stages:

1. every row gets a bucket that is MONOTONE in the order: a row of a
   lower bucket sorts before every row of a higher bucket, so ties in
   the order never straddle a bucket boundary;
2. per-(keys, bucket) weight sums form a tiny summary (≤ buckets ×
   groups rows); an exclusive running sum over it gives each bucket's
   offset — the weight of all earlier buckets of its group;
3. the offsets are broadcast back (bucket equality; NULL-safe on the
   group keys, because PARTITION BY keeps a NULL group), and a window
   partitioned by (keys, bucket) adds the within-bucket running sum.

Exactness: by (1) the rows that precede a row in the global order are
exactly the rows of the earlier buckets of its group plus the earlier
rows of its own bucket, so offset + within-bucket sum equals the
single-window sum row for row — ties included, since a ROWS frame and
both stages see the same within-bucket sort. Rows whose bucket is NULL
drop at the equi-join. Callers needing the exclusive sum subtract their
own weight; a rank is the running sum of weight 1 (or of per-value
counts at distinct-value grain).

Two monotone bucket maps cover the callers: :func:`hash_bucket` (a
range of the md5 hex order) and :func:`sketch_buckets` (range buckets
from ≤ buckets−1 quantile-sketch cut points).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: output columns: inclusive running sum, and the group's total weight
CUM, TOTAL = "__px_cum", "__px_total"
#: the bucket column, and the summary's per-bucket weight and offset
BUCKET, SUM, OFFSET = "__px_bucket", "__px_sum", "__px_offset"
_PREFIX = "__px_"


def hash_bucket(order: Column, buckets: int) -> Column:
    """``floor(prefix32 · buckets / 2^32)`` of an md5 hex ``order``:
    exact in double (prefix32 · buckets ≤ 2^52) and non-decreasing in
    the hex string, so the rows of a bucket are contiguous in
    ``order``."""
    prefix32 = F.conv(F.substring(order, 1, 8), 16, 10).cast("long")
    return F.floor((prefix32 * F.lit(int(buckets))) / F.lit(float(2**32)))


def sketch_buckets(
    df: DataFrame, cols: Sequence[str], buckets: int
) -> list[Column]:
    """One range-bucket expression per numeric column of ``cols``: the
    number of cut points strictly below the value, the cuts being the
    ≤ ``buckets``−1 strictly increasing quantiles of ONE shared
    ``percentile_approx`` aggregate (the only collect — driver-bounded).
    Monotone in the value; NULL values take bucket 0."""
    if buckets <= 1:
        return [F.lit(0) for _ in cols]
    qs = [i / buckets for i in range(1, buckets)]
    sketch = df.agg(
        *[
            F.percentile_approx(c, qs, 10_000).alias(f"{_PREFIX}cuts{i}")
            for i, c in enumerate(cols)
        ]
    ).collect()[0]
    out = []
    for i, c in enumerate(cols):
        # strictly increasing cut list (duplicates collapse buckets)
        uniq: list = []
        for cut in sketch[i] or []:
            if not uniq or cut > uniq[-1]:
                uniq.append(cut)
        # a CASE-sum over the literals (a higher-order filter() here
        # trips lambda rebinding when the plan branch is reused)
        out.append(
            sum(
                (F.when(F.lit(u) < F.col(c), 1).otherwise(0) for u in uniq),
                F.lit(0),
            ).cast("int")
            if uniq
            else F.lit(0)
        )
    return out


def bucket_offsets(
    df: DataFrame,
    weight: Column,
    bucket: Column,
    keys: Sequence[str] = (),
) -> tuple[DataFrame, DataFrame]:
    """Stages 1-2: ``df`` tagged with ``bucket``, and the tiny summary
    (keys, bucket, OFFSET, TOTAL) — OFFSET the weight of the group's
    earlier buckets, TOTAL the group's weight. A caller may filter the
    summary before :func:`apply_offsets`; the rows of a dropped bucket
    then drop before the within-bucket sort."""
    clash = [c for c in df.columns if c.startswith(_PREFIX)]
    if clash:
        raise ValueError(f"input already has internal column(s) {clash}")
    tagged = df.withColumn(BUCKET, bucket)
    sums = tagged.groupBy(*keys, BUCKET).agg(F.sum(weight).alias(SUM))
    s = F.col(SUM)
    earlier = (
        Window.partitionBy(*keys)
        .orderBy(BUCKET)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sums.select(
        *keys,
        BUCKET,
        F.coalesce(F.sum(s).over(earlier), F.lit(0)).alias(OFFSET),
        F.sum(s).over(Window.partitionBy(*keys)).alias(TOTAL),
    )
    return tagged, offsets


def apply_offsets(
    tagged: DataFrame,
    offsets: DataFrame,
    weight: Column,
    order: Sequence[Column],
    keys: Sequence[str] = (),
) -> DataFrame:
    """Stage 3: the tagged rows of the buckets left in ``offsets``, with
    CUM = offset + within-bucket running sum of ``weight`` in ``order``,
    and TOTAL. The bucket columns are dropped."""
    names = [f"{_PREFIX}key{i}" for i in range(len(keys))]
    o = offsets.select(
        *[F.col(k).alias(n) for k, n in zip(keys, names)],
        F.col(BUCKET).alias(f"{_PREFIX}obucket"),
        OFFSET,
        TOTAL,
    )
    cond = F.col(BUCKET) == F.col(f"{_PREFIX}obucket")
    for k, n in zip(keys, names):
        cond = cond & F.col(k).eqNullSafe(F.col(n))
    within = (
        Window.partitionBy(*keys, BUCKET)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        tagged.join(F.broadcast(o), cond)
        .withColumn(CUM, F.col(OFFSET) + F.sum(weight).over(within))
        .drop(BUCKET, OFFSET, f"{_PREFIX}obucket", *names)
    )


def running_sum(
    df: DataFrame,
    weight: Column,
    bucket: Column,
    order: Sequence[Column],
    keys: Sequence[str] = (),
) -> DataFrame:
    """``df`` plus CUM — the inclusive running sum of ``weight`` per
    ``keys`` group in ``order`` — and TOTAL, the group's weight.
    ``bucket`` must be monotone in ``order`` (see the module
    docstring)."""
    tagged, offsets = bucket_offsets(df, weight, bucket, keys)
    return apply_offsets(tagged, offsets, weight, order, keys)
