"""Deterministic, engine-portable sampling.

``df.sample`` is seeded-deterministic *within* Spark but its RNG stream is
engine-specific and partitioning-sensitive — useless for resumable corpus
subsampling or cross-engine verification. The portable primitive is a pure
filter on a cryptographic hash of a stable row key: the same rows survive
across engines, restarts, and repartitioning, and the predicate pushes past
the scan with no shuffle (reference FROM.SAMPLE sql_ast.py:113-124 is the
count-level analogue; this is the row-deterministic variant a training
pipeline needs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from soda_core_spark.operators import prefix

_HEX = "0123456789abcdef"


def hash_sample(df: DataFrame, key: Column, sixteenths: int) -> DataFrame:
    """Keep rows whose md5(key) first hex digit falls in the lowest
    ``sixteenths`` of the 16 hex buckets — an exact ``sixteenths/16``
    expected rate, reproducible in any engine with md5. ``key`` must be a
    string column that uniquely (or at least stably) identifies the row."""
    if not 0 < sixteenths <= 16:
        raise ValueError("sixteenths must be in 1..16")
    digit = F.substring(F.md5(key), 1, 1)
    return df.where(digit.isin(*_HEX[:sixteenths]))


def hash_sample_sql_predicate(key_sql: str, sixteenths: int) -> str:
    """The DuckDB/ANSI twin of :func:`hash_sample`'s predicate."""
    digits = ", ".join(f"'{c}'" for c in _HEX[:sixteenths])
    return f"substr(md5({key_sql}), 1, 1) IN ({digits})"


def _hash_fraction(key: Column) -> Column:
    """md5(key)'s first 8 hex digits as a uniform double in [0, 1) —
    finer-grained than the 16-bucket form, still engine-portable
    (any engine: parse 8 hex chars, divide by 16^8)."""
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double") / float(
        16**8
    )


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key: Column,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sampling: keep each row iff its portable
    hash fraction is below its stratum's rate — the training-mix
    primitive (e.g. keep 100 % of books, 10 % of common-crawl, 0 % of
    the rest). Same survivor set across engines, restarts, and
    partitionings; the predicate is a pure per-row probe (no shuffle,
    pushes past the scan). Strata missing from ``fractions`` get
    ``default_fraction``.
    """
    for s, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for stratum {s!r} must be in [0,1], got {f}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(
            f"default_fraction must be in [0,1], got {default_fraction}"
        )
    rate = F.lit(float(default_fraction))
    for s, f in sorted(fractions.items()):
        rate = F.when(F.col(strata_col) == s, F.lit(float(f))).otherwise(rate)
    return df.where(_hash_fraction(key) < rate)


def weighted_hash_topk(
    df: DataFrame,
    k: int,
    weight: Column,
    key: Column,
    key_col_name: str = "__ws_key",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, "Weighted random sampling with a reservoir"): each row
    draws u = portable hash fraction of ``key`` and scores
    ``u**(1/weight)``; the k largest scores are exactly a weight-
    proportional sample without replacement. Rows with ``weight <= 0``
    or NULL are excluded.

    Determinism replaces the RNG: u comes from md5(key), so the selected
    set is identical across engines, restarts, and partitionings — the
    property a resumable training-mix needs (re-running the job cannot
    silently select different documents).

    Scale shape: the score is one codegen expression and the selection is
    ``orderBy(desc).limit(k)``, which Spark plans as TakeOrderedAndProject
    — per-partition top-k heaps merged on the driver, NO global sort
    shuffle. O(rows) scan + O(k) driver state, any corpus size.

    The returned frame carries ``key_col_name`` (the selection score) so
    callers can audit the cut; drop it if unwanted.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if key_col_name in df.columns:
        raise ValueError(f"input already has column {key_col_name!r}")
    u = _hash_fraction(key)
    w = weight.cast("double")
    score = F.pow(u, F.lit(1.0) / w)
    # NaN guard matters: Spark sorts NaN ABOVE every real number, so an
    # unfiltered NaN weight would both pass `> 0` and win the top-k
    return (
        df.where(w.isNotNull() & ~F.isnan(w) & (w > 0))
        .withColumn(key_col_name, score)
        .orderBy(F.desc(key_col_name), key)
        .limit(k)
    )


def temperature_mixed_sample(
    df: DataFrame,
    source_col: str,
    key: Column,
    alpha: float = 0.7,
    target_fraction: float = 0.4,
) -> DataFrame:
    """Temperature-scaled source mixing: keep-rate per source chosen so
    the KEPT corpus follows p_s ∝ n_s^alpha (the multilingual /
    multi-source rebalancing rule of fastText/XLM-R/mT5 pipelines —
    alpha < 1 up-samples small sources relative to their raw share),
    sized to ``target_fraction`` of the corpus, then rows kept by the
    deterministic hash-fraction predicate.

        rate_s = min(1, target_fraction * N * n_s^alpha / Z / n_s),
        Z = Σ_s n_s^alpha,  N = Σ_s n_s

    Scale shape: one tiny per-source count aggregate (partial-agg
    absorbed), a 1-row normalizer cross-joined onto it, and the rate
    table broadcast back — the corpus is scanned once and filtered by a
    pure per-row predicate; nothing wide shuffles, no collect. Rates are
    rounded to 9dp so the boundary compare is stable across engines'
    pow() last-bit differences (a hash fraction lands within 5e-10 of a
    cutoff with probability ~1e-7 per source; the rounding pins both
    engines to the same cutoff value).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0.0 < target_fraction <= 1.0:
        raise ValueError(
            f"target_fraction must be in (0, 1], got {target_fraction}"
        )
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    norm = counts.agg(
        F.sum("__n").cast("double").alias("__tot_n"),
        F.sum(F.pow(F.col("__n").cast("double"), F.lit(float(alpha)))).alias(
            "__tot_z"
        ),
    )
    w = F.pow(F.col("__n").cast("double"), F.lit(float(alpha)))
    rate = F.least(
        F.lit(1.0),
        F.lit(float(target_fraction))
        * F.col("__tot_n")
        * w
        / F.col("__tot_z")
        / F.col("__n").cast("double"),
    )
    rates = counts.crossJoin(F.broadcast(norm)).select(
        source_col, F.round(rate, 9).alias("__rate")
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .where(_hash_fraction(key) < F.col("__rate"))
        .select(*df.columns)
    )


def pack_token_shards(
    df: DataFrame,
    shard_tokens: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    buckets: int = 1024,
    shard_col: str = "shard_id",
) -> DataFrame:
    """Assign every document to a fixed-token-budget training shard:
    documents are laid out in portable-hash order (a stable, engine-
    independent shuffle of the corpus) and cut greedily into consecutive
    shards of ``shard_tokens`` tokens — ``shard_id = exclusive_cumsum //
    shard_tokens``, so a document belongs to the shard its FIRST token
    falls in (greedy packing; sequence-level split/pad of boundary docs
    is the in-shard writer's job). The assignment is identical across
    engines, restarts, and partitionings — what a resumable shard writer
    needs (re-runs regenerate byte-identical shard manifests).

    Scale shape: the exact bucketed running sum of
    :mod:`~soda_core_spark.operators.prefix` over ``buckets`` md5-order
    ranges — no single-reducer global window; all arithmetic is
    integer, so the oracle is exact.
    """
    if shard_tokens < 1:
        raise ValueError(f"shard_tokens must be >= 1, got {shard_tokens}")
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    if shard_col in df.columns:
        raise ValueError(f"input already has column {shard_col!r}")
    order = F.md5(F.col(id_col).cast("string"))
    tok = F.col(token_col).cast("long")
    packed = prefix.running_sum(
        df, tok, prefix.hash_bucket(order, buckets), [order, F.col(id_col)]
    )
    exclusive = F.col(prefix.CUM) - tok
    return packed.withColumn(
        shard_col, F.floor(exclusive / F.lit(int(shard_tokens))).cast("long")
    ).select(*df.columns, shard_col)


def leakage_free_split(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    node_col: str = "node",
    component_col: str = "component",
    train_frac: float = 0.8,
    val_frac: float = 0.1,
    split_col: str = "split",
) -> DataFrame:
    """Train/val/test split that never separates near-duplicates: every
    document inherits its near-dup CLUSTER's split, decided by the
    portable hash fraction of the cluster representative — so a document
    and its near-copies land on the same side and the eval sets stay
    leakage-free (splitting row-wise would put one copy in train and its
    twin in test, silently inflating eval scores). Documents in no
    cluster are their own singleton (component = own id).

    ``components`` is a (node, component) map — the output of
    :func:`~soda_core_spark.operators.dedup.connected_components` over
    any near-dup pair table (MinHash, SimHash, Jaccard, embedding).

    Assignment: u = hash fraction of the component id; ``u <
    train_frac`` → train, ``< train_frac + val_frac`` → val, else test.
    u is an exact 32-bit integer over 2^32 (both division and the
    threshold literals are exactly representable), so the comparison is
    bit-identical across engines.

    Scale shape: one id-keyed join of the corpus against the component
    map (both sides hash-partition on the id — co-locatable via
    bucketing, sources/bucketing.py) and a pure codegen CASE; the split
    decision itself shuffles nothing.
    """
    if not (0.0 < train_frac < 1.0 and 0.0 <= val_frac < 1.0):
        raise ValueError(
            f"invalid fractions train={train_frac} val={val_frac}"
        )
    if train_frac + val_frac > 1.0:
        raise ValueError("train_frac + val_frac must be <= 1")
    if "__lf_component" in df.columns:
        raise ValueError("input already has column '__lf_component'")
    comp = components.select(
        F.col(node_col).alias(id_col),
        F.col(component_col).alias("__lf_component"),
    )
    joined = df.join(comp, id_col, "left").withColumn(
        "__lf_component",
        F.coalesce(F.col("__lf_component"), F.col(id_col)),
    )
    u = _hash_fraction(F.col("__lf_component").cast("string"))
    split = (
        F.when(u < float(train_frac), F.lit("train"))
        .when(u < float(train_frac) + float(val_frac), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return joined.withColumn(split_col, split).withColumnRenamed(
        "__lf_component", component_col
    )


def materialize_shards(
    df: DataFrame,
    shard_col: str = "shard_id",
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str | None = None,
    sep: str = "\n\n",
) -> DataFrame:
    """Assemble :func:`pack_token_shards` output into actual training
    sequences: one row per shard with the member documents concatenated
    in the SAME portable-hash order the packer used (so the shard text
    is byte-identical across engines/restarts — a re-run regenerates
    the exact same training file). Returns (shard, n_docs,
    shard_tokens?, shard_text).

    Scale shape: one groupBy on the shard id. A shard is budget-bounded
    (~10-100k tokens), so per-group state is small by construction —
    this is the rare case where collect_list-style aggregation is the
    RIGHT answer, because the packer upstream already bounded every
    group. The sort-and-join runs inside each aggregated row (no extra
    shuffle, no window).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    order = F.md5(F.col(id_col).cast("string"))
    member = F.struct(
        order.alias("o"), F.col(id_col).alias("i"), t.alias("t")
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(member)), lambda x: x["t"]
            ),
            sep,
        ).alias("shard_text"),
    ]
    if token_col is not None:
        aggs.insert(
            1,
            F.sum(F.col(token_col).cast("long")).alias("shard_tokens"),
        )
    return df.groupBy(F.col(shard_col).alias("shard")).agg(*aggs)


def sample_to_token_budget(
    df: DataFrame,
    budget_tokens: int,
    token_col: str = "n_tokens",
    group_col: str | None = None,
    id_col: str = "doc_id",
    buckets: int = 1024,
) -> DataFrame:
    """Deterministic token-budget selection: order documents by the
    portable hash of their id (a stable shuffle) and keep them while the
    running token total stays ≤ ``budget_tokens`` — per ``group_col``
    when given (per-source budgets for data mixing), else globally. The
    kept set is identical across engines/restarts/partitionings because
    both the order and the cumulative sum are hash-determined.

    Scale shape — the exact bucketed running sum of
    :mod:`~soda_core_spark.operators.prefix` over ``buckets`` md5-order
    ranges per group, not a global window (which would put every
    candidate row of a group through ONE reducer). Between its two
    stages, buckets whose offset is already past the budget DROP BEFORE
    the expensive sort-shuffle (with a uniform hash only ~budget/total
    of the data reaches it). The survivor set is identical to the
    single-window form (pinned by a parity test).
    """
    if buckets < 1:
        raise ValueError(f"buckets must be ≥ 1, got {buckets}")
    order = F.md5(F.col(id_col).cast("string"))
    keys = [group_col] if group_col is not None else []
    tok = F.col(token_col).cast("long")
    tagged, offsets = prefix.bucket_offsets(
        df, tok, prefix.hash_bucket(order, buckets), keys
    )
    within_budget = offsets.where(F.col(prefix.OFFSET) < budget_tokens)
    return (
        prefix.apply_offsets(
            tagged, within_budget, tok, [order, F.col(id_col)], keys
        )
        .where(F.col(prefix.CUM) <= budget_tokens)
        .select(*df.columns)
    )


def _token_budget_single_window(
    df: DataFrame,
    budget_tokens: int,
    token_col: str = "n_tokens",
    group_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """The one-reducer-per-group window form — kept as the parity oracle
    for :func:`sample_to_token_budget` (identical survivor set by
    construction; the test pins it)."""
    from pyspark.sql import Window

    order = F.md5(F.col(id_col).cast("string"))
    w = Window.orderBy(order, F.col(id_col))
    if group_col is not None:
        w = Window.partitionBy(group_col).orderBy(order, F.col(id_col))
    cum = F.sum(F.col(token_col).cast("long")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("__cum_tokens", cum)
        .where(F.col("__cum_tokens") <= budget_tokens)
        .drop("__cum_tokens")
    )


def assign_length_buckets(
    df: DataFrame,
    boundaries: list[int],
    token_col: str = "n_tokens",
    bucket_col: str = "len_bucket",
    pad_col: str = "pad_tokens",
) -> DataFrame:
    """Length-bucketed batching assignment — the standard padding-waste
    reducer for batched training/inference: documents grouped with
    similar-length peers pad only to their bucket's ceiling, not the
    global max. ``boundaries`` are inclusive ceilings, ascending (e.g.
    [128, 256, 512, 1024]); rows longer than the last ceiling land in
    the overflow bucket ``len(boundaries)`` with ``pad_tokens`` 0 (they
    pad to their own length at batch time — the caller decides whether
    to truncate or split them first).

    Pure row-local CASE algebra — zero shuffle; the per-bucket padding
    audit is one partial-agg groupBy the caller runs when sizing
    buckets (``padding_waste_report``)."""
    if not boundaries or sorted(boundaries) != list(boundaries) or len(
        set(boundaries)
    ) != len(boundaries):
        raise ValueError("boundaries must be ascending and distinct")
    t = F.col(token_col)
    bucket = F.lit(len(boundaries))
    for i in range(len(boundaries) - 1, -1, -1):
        bucket = F.when(t <= boundaries[i], F.lit(i)).otherwise(bucket)
    ceil = F.lit(None).cast("long")
    for i in range(len(boundaries) - 1, -1, -1):
        ceil = F.when(t <= boundaries[i], F.lit(boundaries[i])).otherwise(ceil)
    pad = F.coalesce(ceil - t, F.lit(0)).cast("long")
    return df.withColumns(
        {bucket_col: bucket.cast("long"), pad_col: pad}
    )


def padding_waste_report(
    bucketed: DataFrame,
    token_col: str = "n_tokens",
    bucket_col: str = "len_bucket",
    pad_col: str = "pad_tokens",
) -> DataFrame:
    """Per-bucket padding audit: rows, real tokens, pad tokens, and the
    waste fraction pad/(pad+real) — the number you tune ``boundaries``
    against. One partial-agg groupBy."""
    return bucketed.groupBy(bucket_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(token_col).cast("long").alias("real_tokens"),
        F.sum(pad_col).cast("long").alias("pad_tokens"),
        F.round(
            F.sum(pad_col).cast("double")
            / (F.sum(pad_col) + F.sum(token_col)).cast("double"),
            6,
        ).alias("waste_frac"),
    )


def mixture_plan(
    df: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    source_col: str = "source",
    token_col: str = "n_tokens",
    max_epochs: float = 4.0,
) -> DataFrame:
    """Training-mixture planning: given per-source token inventories and
    target mixture weights, the table every corpus recipe publishes
    (The Pile's epochs column, LLaMA's sampling proportions): how many
    tokens each source contributes to a ``token_budget``-token run, the
    sampling rate that achieves it, and the EPOCH count where the
    target demands more tokens than the source holds (upsampling).
    Sources in the data but not in ``weights`` get weight 0 (excluded,
    reported); weights are renormalized over the sources present.

    Returns one row per source in ``weights`` ∪ data::

        source, weight, available_tokens, target_tokens,
        planned_tokens, sampling_rate, epochs, capped

    ``epochs = target/available`` (NULL when the source is absent from
    the data); ``capped`` marks sources clipped by ``max_epochs`` — the
    repeat ceiling after which published recipes redistribute or accept
    a smaller run. ``planned_tokens`` is the post-cap allocation; its
    sum is the achievable budget under the cap.

    Shape for scale: ONE partial-aggregated groupBy collapses the
    corpus to |sources| rows; the weight table is a literal frame; the
    full-outer join between them (full outer cannot broadcast) touches
    only those source-grain frames, and everything downstream is
    arithmetic on them. All ratios at 6 dp."""
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    if not weights:
        raise ValueError("weights must be non-empty")
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights must sum to > 0")
    spark = df.sparkSession
    inv = df.groupBy(F.col(source_col).alias("source")).agg(
        F.coalesce(F.sum(F.col(token_col)), F.lit(0))
        .cast("long")
        .alias("available_tokens")
    )
    wdf = spark.createDataFrame(
        [(s, float(w) / wsum) for s, w in sorted(weights.items())],
        "source string, weight double",
    )
    j = inv.join(F.broadcast(wdf), "source", "full_outer").select(
        "source",
        F.round(F.coalesce(F.col("weight"), F.lit(0.0)), 6).alias("weight"),
        F.coalesce(F.col("available_tokens"), F.lit(0))
        .cast("long")
        .alias("available_tokens"),
    )
    target = F.col("weight") * F.lit(float(token_budget))
    avail = F.col("available_tokens").cast("double")
    raw_epochs = F.when(avail > 0, target / avail)
    capped = F.coalesce(raw_epochs > F.lit(float(max_epochs)), F.lit(False))
    planned = F.when(
        capped, F.lit(float(max_epochs)) * avail
    ).otherwise(F.when(avail > 0, target).otherwise(F.lit(0.0)))
    return j.select(
        "source",
        "weight",
        "available_tokens",
        F.round(target, 6).alias("target_tokens"),
        F.round(planned, 6).alias("planned_tokens"),
        F.round(
            F.when(avail > 0, F.least(planned / avail, F.lit(1.0)))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("sampling_rate"),
        F.round(raw_epochs, 6).alias("epochs"),
        capped.alias("capped"),
    ).orderBy("source")


def review_sample_plan(
    df: DataFrame,
    group_col: str,
    flag: Column,
    z: float = 1.96,
    margin: float = 0.02,
) -> DataFrame:
    """Per-group manual-review planning: the Wilson score interval for
    each group's observed violation rate, plus the sample size a human
    audit needs to pin that rate to ``margin`` at confidence ``z``.
    The governance companion to failed-rows sampling: a check can say
    "source X violates at 3.1%", but deciding whether to ship X needs
    the uncertainty (Wilson stays honest at small n and p near 0 —
    the classic Wald interval collapses to width 0 there) and the
    review budget ``n_req = z^2 * p(1-p) / margin^2`` (worst-case 0.25
    variance when the group has no observations yet).

    One partial-aggregated groupBy collapses the corpus to |groups|
    rows; everything else is per-row arithmetic on that tiny frame.
    NULL flags count as non-violations (consistent with
    :func:`soda_core_spark.operators.profiling.shrunk_group_rate`).

    Returns ``(group, n, k, rate, wilson_lo, wilson_hi, n_required)``
    with rates/bounds rounded 6 dp, ordered by group.
    """
    if z <= 0:
        raise ValueError(f"z must be > 0, got {z}")
    if not 0.0 < margin < 1.0:
        raise ValueError(f"margin must be in (0,1), got {margin}")
    g = (
        df.select(
            F.col(group_col).alias("group"),
            F.coalesce(flag.cast("boolean"), F.lit(False)).alias("__f"),
        )
        .groupBy("group")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("__f").cast("long")).cast("long").alias("k"),
        )
    )
    zz = float(z) * float(z)
    p = F.col("k").cast("double") / F.col("n").cast("double")
    nn = F.col("n").cast("double")
    denom = F.lit(1.0) + F.lit(zz) / nn
    center = (p + F.lit(zz) / (F.lit(2.0) * nn)) / denom
    half = (
        F.lit(float(z))
        / denom
        * F.sqrt(p * (F.lit(1.0) - p) / nn + F.lit(zz) / (F.lit(4.0) * nn * nn))
    )
    # audit budget: worst-case variance 0.25 for groups with n == 0 is
    # unreachable here (groups only exist with rows), so use observed p
    n_req = F.ceil(F.lit(zz) * p * (F.lit(1.0) - p) / F.lit(float(margin) ** 2))
    return g.select(
        "group",
        "n",
        "k",
        F.round(p, 6).alias("rate"),
        F.round(F.greatest(center - half, F.lit(0.0)), 6).alias("wilson_lo"),
        F.round(F.least(center + half, F.lit(1.0)), 6).alias("wilson_hi"),
        n_req.cast("long").alias("n_required"),
    ).orderBy("group")


def neyman_allocation(
    df: DataFrame,
    group_col: str,
    value_col: str,
    budget: int,
) -> DataFrame:
    """Neyman-optimal allocation of a fixed sampling budget across
    strata: stratum h gets ``n_h = budget * N_h*S_h / sum(N_g*S_g)``
    (Neyman 1934) — the allocation that minimizes the variance of the
    stratified mean estimator for ``value_col``. The companion to
    :func:`review_sample_plan`: that op sizes the audit per group in
    isolation; this one splits ONE fixed budget across groups so the
    corpus-level estimate is tightest. High-variance strata (mixed-
    quality sources) get proportionally more of the budget than
    uniform ones — proportional-to-size allocation wastes samples on
    homogeneous strata.

    One partial-aggregated groupBy collapses the corpus to |groups|
    rows carrying (count, sample-stddev); the weight normalization is
    a scalar-subquery cross join against that tiny frame's single
    aggregate. Single-row strata and constant strata have S_h = 0 and
    receive 0 (they need no sample to know their mean). Allocations
    are floored and capped at the stratum population; the raw
    (uncapped, unrounded) allocation is reported alongside so callers
    can redistribute the rounding slack if they care.

    Returns ``(group, n_rows, sd, weight, alloc_raw, alloc)`` with
    floats rounded 6 dp, ordered by group. NULL values are excluded
    from both the count and the stddev (they can't be sampled for the
    signal anyway).
    """
    if budget <= 0:
        raise ValueError(f"budget must be > 0, got {budget}")
    g = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("group"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(
                F.stddev_samp(F.col(value_col).cast("double")), F.lit(0.0)
            ).alias("sd"),
        )
    )
    w = F.col("n_rows").cast("double") * F.col("sd")
    tot = g.agg(F.sum(w).alias("__tot"))
    raw = F.when(
        F.col("__tot") > 0, F.lit(float(budget)) * w / F.col("__tot")
    ).otherwise(F.lit(0.0))
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "group",
            "n_rows",
            F.round(F.col("sd"), 6).alias("sd"),
            F.round(
                F.when(F.col("__tot") > 0, w / F.col("__tot")).otherwise(
                    F.lit(0.0)
                ),
                6,
            ).alias("weight"),
            F.round(raw, 6).alias("alloc_raw"),
            F.least(F.floor(raw).cast("long"), F.col("n_rows")).alias(
                "alloc"
            ),
        )
        .orderBy("group")
    )


def exemplar_sample(
    df: DataFrame,
    score_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    n_buckets: int = 10,
) -> DataFrame:
    """Deterministic exemplar per (group × score-quantile-bucket) — the
    human-review surface: one REPRESENTATIVE document from every
    stratum of every source, stable across runs/partitionings, so a
    reviewer reads 10 docs per source and sees the whole quality range
    instead of whatever .limit() happened to return.

    One row per non-empty (group, bucket)::

        group, bucket: int (0 = lowest scores)
        n_docs: bigint, mean_score: double (6 dp)
        exemplar_id: bigint      -- argmin md5(id) in the cell (a
                                    deterministic 'random' pick)
        exemplar_score: double (6 dp)

    Scale shape: bucket boundaries are the group's exact interpolated
    quantiles (q25/q163 convention — exact percentile buffers each
    group in the aggregator; swap approx_percentile at true web scale,
    same plan), broadcast back; assignment is a fold over the ≤
    ``n_buckets-1`` boundary array — NO ntile, NO per-group sort, no
    single-task group. The exemplar is min_by on the md5 of the id —
    order-free and engine-portable. NULL score/group rows are
    excluded."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    v = F.col(score_col).cast("double")
    base = df.where(
        v.isNotNull() & ~F.isnan(v) & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("group"),
        v.alias("__v"),
        F.col(id_col).alias("__id"),
    )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = base.groupBy("group").agg(
        F.expr(
            f"percentile(__v, array({', '.join(repr(q) for q in qs)}))"
        ).alias("__bounds")
    )
    j = base.join(F.broadcast(bounds), "group")
    bucket = F.aggregate(
        F.col("__bounds"),
        F.lit(0),
        lambda acc, b: acc + F.when(F.col("__v") > b, 1).otherwise(0),
    )
    cells = (
        j.select("group", "__v", "__id", bucket.alias("bucket"))
        .groupBy("group", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("__v"), 6).alias("mean_score"),
            F.min_by(
                F.struct(F.col("__id"), F.col("__v")),
                F.md5(F.col("__id").cast("string")),
            ).alias("__ex"),
        )
    )
    return cells.select(
        "group",
        F.col("bucket").cast("int").alias("bucket"),
        "n_docs",
        "mean_score",
        F.col("__ex.__id").alias("exemplar_id"),
        F.round(F.col("__ex.__v"), 6).alias("exemplar_score"),
    ).orderBy("group", "bucket")
