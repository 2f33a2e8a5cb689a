"""Distribution profiling: join-key skew diagnostics and numeric
histograms.

soda-core's profiling surface reports per-column aggregates (reference:
soda-core's dataset/column metric checks compute single numbers like avg/
min/max per column); a 100-TB pipeline additionally needs the two
distribution shapes those single numbers hide:

* **key skew** — before launching a groupBy/join keyed on host, url, or
  user, you want to know whether one key owns 30 % of the rows (then you
  salt it, or let AQE split it). The diagnostic itself must survive the
  skew it measures: a partial-aggregated count combines each hot key
  map-side, so the shuffle carries one row per (partition, key), never
  the raw rows.
* **histograms** — score/latency/length distributions for threshold
  picking and drift detection.

Both touch the corpus once and produce tiny frames.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from soda_core_spark.functions.text import words_col
from soda_core_spark.operators import prefix


def key_skew_stats(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
) -> DataFrame:
    """Top-``top_k`` hottest keys with their row share and skew factor
    (count / mean-count-per-key). Returns (rank, <key_col>, n_rows,
    share, skew_x) ordered hottest-first, ties broken by key for
    determinism.

    Scale shape: ONE partial-aggregated groupBy(key) → per-key counts;
    totals are a second aggregate over that counts frame (not the
    corpus); top-k is orderBy+limit = TakeOrderedAndProject (per-
    partition heaps, no global sort); rank is a window over ≤ top_k
    rows. NULL keys count as a key (they're the classic skew culprit).
    """
    from pyspark.sql import Window

    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    counts = df.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    totals = counts.agg(
        F.sum("n_rows").cast("long").alias("__ks_total"),
        F.count(F.lit(1)).cast("long").alias("__ks_keys"),
    )
    top = counts.orderBy(F.desc("n_rows"), F.col(key_col)).limit(top_k)
    w = Window.orderBy(F.desc("n_rows"), F.col(key_col))
    return (
        top.crossJoin(F.broadcast(totals))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "rank",
            key_col,
            "n_rows",
            F.round(F.col("n_rows") / F.col("__ks_total"), 6).alias("share"),
            F.round(
                F.col("n_rows") * F.col("__ks_keys") / F.col("__ks_total"), 4
            ).alias("skew_x"),
        )
    )


def population_stability_index(
    ref: DataFrame,
    cur: DataFrame,
    value: Column,
    n_bins: int = 10,
) -> DataFrame:
    """Per-bin PSI contributions between a reference window and a
    current window of the same metric — the standard drift score for
    "did this week's crawl change shape?" (PSI < 0.1 stable, 0.1-0.25
    drifting, > 0.25 shifted; the credit-scoring convention). Returns
    one row per bin: (bin, lo, hi, ref_share, cur_share, psi_term);
    ``sum(psi_term)`` is the PSI.

    Binning follows PSI practice: boundaries come from the REFERENCE
    window's [min, max]; current values outside that range clamp into
    the edge bins (drift mass at the extremes lands in bins 0/n-1, it
    never disappears). Shares are Laplace-smoothed (+0.5 per bin) so an
    empty bin contributes a finite, engine-identical term instead of
    ln(0).

    Scale shape: each corpus is touched once — the two frames are
    tagged and unioned BEFORE a single partial-aggregated groupBy on
    (bin), so Spark runs one shuffle of ≤ 2·n_bins aggregated rows;
    the reference min/max is a 1-row broadcast. NULL/NaN excluded.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    v = value.cast("double")

    def _clean(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            v.alias("__nh_v"), F.lit(side).alias("__nh_side")
        ).where(F.col("__nh_v").isNotNull() & ~F.isnan("__nh_v"))

    r = _clean(ref, "ref")
    c = _clean(cur, "cur")
    stats = r.agg(
        F.min("__nh_v").alias("__nh_min"), F.max("__nh_v").alias("__nh_max")
    )
    width = F.when(
        F.col("__nh_max") > F.col("__nh_min"),
        (F.col("__nh_max") - F.col("__nh_min")) / F.lit(float(n_bins)),
    ).otherwise(F.lit(1.0))
    bin_ = F.least(
        F.greatest(
            F.floor((F.col("__nh_v") - F.col("__nh_min")) / width).cast("long"),
            F.lit(0),
        ),
        F.lit(int(n_bins) - 1),
    )
    counts = (
        r.unionByName(c)
        .crossJoin(F.broadcast(stats))
        .select(bin_.alias("bin"), "__nh_side")
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("__nh_side") == "ref", 1).otherwise(0))
            .cast("long")
            .alias("__psi_ref_n"),
            F.sum(F.when(F.col("__nh_side") == "cur", 1).otherwise(0))
            .cast("long")
            .alias("__psi_cur_n"),
        )
    )
    spark = ref.sparkSession
    grid = spark.range(0, n_bins).select(F.col("id").alias("bin"))
    filled = grid.join(F.broadcast(counts), "bin", "left").select(
        "bin",
        F.coalesce("__psi_ref_n", F.lit(0)).cast("long").alias("ref_n"),
        F.coalesce("__psi_cur_n", F.lit(0)).cast("long").alias("cur_n"),
    )
    tot = filled.agg(
        F.sum("ref_n").cast("long").alias("__psi_rt"),
        F.sum("cur_n").cast("long").alias("__psi_ct"),
    )
    p = (F.col("ref_n") + 0.5) / (F.col("__psi_rt") + 0.5 * n_bins)
    q = (F.col("cur_n") + 0.5) / (F.col("__psi_ct") + 0.5 * n_bins)
    return (
        filled.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(stats))
        .select(
            "bin",
            F.round(F.col("__nh_min") + F.col("bin") * width, 6).alias("lo"),
            F.round(F.col("__nh_min") + (F.col("bin") + 1) * width, 6).alias(
                "hi"
            ),
            F.round(p, 6).alias("ref_share"),
            F.round(q, 6).alias("cur_share"),
            F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
        )
    )


def numeric_histogram(
    df: DataFrame,
    value: Column,
    n_bins: int = 20,
) -> DataFrame:
    """Equal-width histogram of ``value`` over its observed [min, max]:
    one row per bin (bin, lo, hi, n_rows), empty bins included, NULL/NaN
    values excluded. The top bin is closed (max lands in bin
    ``n_bins - 1``), all others half-open.

    Scale shape: pass 1 is a 1-row min/max aggregate (broadcast back);
    pass 2 is one partial-aggregated groupBy over the bin index; the
    bin grid is a ``range(n_bins)`` joined against the tiny counts
    frame. Degenerate input (min == max, or no rows) yields a single
    populated bin 0 / an all-zero grid respectively.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    spark = df.sparkSession
    v = value.cast("double")
    clean = df.select(v.alias("__nh_v")).where(
        F.col("__nh_v").isNotNull() & ~F.isnan("__nh_v")
    )
    stats = clean.agg(
        F.min("__nh_v").alias("__nh_min"), F.max("__nh_v").alias("__nh_max")
    )
    width = F.when(
        F.col("__nh_max") > F.col("__nh_min"),
        (F.col("__nh_max") - F.col("__nh_min")) / F.lit(float(n_bins)),
    ).otherwise(F.lit(1.0))
    binned = (
        clean.crossJoin(F.broadcast(stats))
        .select(
            F.least(
                F.floor((F.col("__nh_v") - F.col("__nh_min")) / width).cast(
                    "long"
                ),
                F.lit(int(n_bins) - 1),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    grid = spark.range(0, n_bins).select(F.col("id").alias("bin"))
    return (
        grid.join(F.broadcast(binned), "bin", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "bin",
            F.round(
                F.col("__nh_min") + F.col("bin") * width, 6
            ).alias("lo"),
            F.round(
                F.col("__nh_min") + (F.col("bin") + 1) * width, 6
            ).alias("hi"),
            F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias(
                "n_rows"
            ),
        )
    )


def psi_against_bins(
    cur: DataFrame,
    value: Column,
    ref_bins: list[tuple[int, float, float, int]],
) -> tuple[float, list[dict]]:
    """PSI of ``cur``'s values against PRECOMPUTED reference bins —
    the incremental form of :func:`population_stability_index` for
    monitoring a stream/batch against a frozen baseline histogram
    (``ref_bins`` = (bin, lo, hi, n_rows) rows, i.e.
    :func:`numeric_histogram` output of the reference window).

    Identical math to the two-frame form (same +0.5 smoothing, same
    edge clamping), so the two agree exactly when the bins come from
    the same reference window — pinned by a test. Returns
    (psi, per-bin detail dicts).

    Scale shape: ONE partial-agg groupBy over the current window's bin
    index; the reference side is driver-held metadata (≤ n_bins tuples,
    the k-means-centroid precedent), and the final arithmetic runs on
    ≤ n_bins numbers. The ``cur`` corpus is touched once, never
    collected.
    """
    if not ref_bins:
        raise ValueError("ref_bins must be non-empty")
    bins = sorted(ref_bins)
    n_bins = len(bins)
    mn = bins[0][1]
    width = bins[0][2] - bins[0][1]
    if width <= 0:
        width = 1.0
    v = value.cast("double")
    bin_ = F.least(
        F.greatest(
            F.floor((F.col("__nh_v") - F.lit(mn)) / F.lit(width)).cast(
                "long"
            ),
            F.lit(0),
        ),
        F.lit(n_bins - 1),
    )
    # NULL/NaN filtered BEFORE binning: cast(NaN as long) is 0 in Spark,
    # so an unfiltered NaN would silently land in bin 0
    counts = {
        r["bin"]: r["n"]
        for r in cur.select(v.alias("__nh_v"))
        .where(F.col("__nh_v").isNotNull() & ~F.isnan("__nh_v"))
        .select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    ref_total = sum(b[3] for b in bins)
    cur_total = sum(counts.values())
    import math

    psi = 0.0
    detail = []
    for b, lo, hi, ref_n in bins:
        cur_n = counts.get(b, 0)
        p = (ref_n + 0.5) / (ref_total + 0.5 * n_bins)
        q = (cur_n + 0.5) / (cur_total + 0.5 * n_bins)
        term = (p - q) * math.log(p / q)
        psi += term
        detail.append(
            {
                "bin": b,
                "lo": lo,
                "hi": hi,
                "ref_share": p,
                "cur_share": q,
                "psi_term": term,
            }
        )
    return psi, detail


def top_vocabulary(
    docs: DataFrame, k: int, text_col: str = "text"
) -> list[str]:
    """The corpus's ``k`` most frequent words (ties by word) — one
    explode + partial-agg groupBy + TakeOrdered; the collect is bounded
    by ``k`` regardless of corpus size."""

    w = F.explode(words_col(F.coalesce(F.col(text_col), F.lit(""))))
    rows = (
        docs.select(w.alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("w"))
        .limit(int(k))
        .collect()
    )
    return [r["w"] for r in rows]


def with_oov_rate(
    docs: DataFrame,
    vocab: list[str],
    text_col: str = "text",
    out_col: str = "oov_rate",
    n_col: str = "n_words",
) -> DataFrame:
    """Out-of-vocabulary rate per document against a fixed vocabulary —
    the rare-word-density quality signal (gibberish, base64 blobs, and
    boilerplate code score high; ordinary prose scores low). The vocab
    (typically :func:`top_vocabulary`'s output) folds into the plan as
    an InSet literal, so scoring is a pure row-local projection: zero
    shuffle, zero Python — the language-ID hot-path pattern
    (functions/langid.py). 6 dp rounding pins the integer/integer
    division's cross-engine compare."""

    ws = words_col(F.coalesce(F.col(text_col), F.lit("")))
    staged = docs.withColumn("__ws", ws)
    n = F.size(F.col("__ws"))
    hits = F.size(F.filter(F.col("__ws"), lambda w: w.isin(list(vocab))))
    rate = F.when(
        n > 0,
        F.round(
            F.lit(1.0) - hits.cast("double") / n.cast("double"), 6
        ),
    ).otherwise(F.lit(0.0))
    return staged.withColumns(
        {n_col: n.cast("long"), out_col: rate}
    ).drop("__ws")


def corpus_report(
    docs: DataFrame,
    group_cols: list[str],
    text_col: str = "text",
) -> DataFrame:
    """The data-card rollup: per group, document count, NULL-text count,
    char-count mean/median/max — the first table every corpus release
    publishes (public analogues: C4/FineWeb dataset cards). ONE
    partial-agg groupBy; the exact median is fine at group granularity
    (groups ≪ rows); swap `percentile` for `approx_percentile` when a
    group's rows exceed executor memory."""
    n_chars = F.length(F.col(text_col))
    return docs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col(text_col).isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_text"),
        F.round(F.avg(n_chars), 4).alias("avg_chars"),
        F.expr(f"percentile(length({text_col}), 0.5)").alias("p50_chars"),
        F.max(n_chars).cast("long").alias("max_chars"),
    )


def group_diversity(
    df: DataFrame,
    group_col: str,
    key_col: str,
    min_entropy: float = 1.0,
) -> DataFrame:
    """Per-group key-diversity audit — the data-mixing QA step for
    packed training shards: a shard dominated by one host (a crawl burst,
    a skewed partition key) trains like an epoch of that host. Per
    group: document count, distinct keys, Shannon entropy of the key
    distribution (nats) and the top key's share; ``low_diversity`` flags
    groups under ``min_entropy``.

    Entropy is computed as ``ln(n) - Σ c·ln(c) / n`` — one algebraic
    form, written identically in the SQL oracle, so engines differ only
    by summation-order ulps (absorbed by 6dp rounding). Shape for scale:
    two stacked partial aggregations — (group, key) counts, then the
    per-group fold; the second input is |groups × keys| rows, no text,
    no window, no shuffle wider than the count table.
    """
    counts = df.groupBy(group_col, key_col).agg(
        F.count(F.lit(1)).alias("c")
    )
    n = F.sum("c")
    ent = F.round(
        F.log(n.cast("double"))
        - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n,
        6,
    )
    return counts.groupBy(group_col).agg(
        n.cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        ent.alias("entropy"),
        F.round(F.max("c") / n, 6).alias("top_share"),
    ).withColumn("low_diversity", F.col("entropy") < F.lit(float(min_entropy)))


def daily_trend(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    ma_days: int = 7,
) -> DataFrame:
    """Crawl-health trend rollup: per (key, day) — event count and value
    sum, a ``ma_days``-row moving average of the count, and the
    day-over-day delta. The table a crawl/ingest dashboard reads to spot
    a collapsing fetcher or an exploding spam host before the corpus
    ships.

    Shape for scale: the daily rollup is one partial aggregation (the
    corpus never reaches the window); the moving frame then runs over
    |keys × days| rows partitioned BY KEY — each partition is a few
    hundred rows per year, so the window stage is trivially parallel and
    no key concentrates more than its own calendar. Missing days are a
    gap in the frame (ROWS, not RANGE): the MA is over observed days,
    matching how ops dashboards bucket sparse series.
    """
    from pyspark.sql import Window

    daily = df.groupBy(
        F.col(key_col).alias("key"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum(value_col), 6).alias("sum_value"),
    )
    w = Window.partitionBy("key").orderBy("day")
    ma = w.rowsBetween(-(ma_days - 1), 0)
    return daily.select(
        F.col("key").alias(key_col),
        "day",
        "n",
        "sum_value",
        F.round(F.avg("n").over(ma), 6).alias(f"ma{ma_days}_n"),
        (F.col("n") - F.lag("n", 1).over(w)).cast("long").alias("delta_n"),
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 500,
    min_rank: int = 10,
) -> DataFrame:
    """Zipf's-law fit over the corpus token frequencies — a one-row
    corpus-sanity statistic: natural text follows ln(freq) ≈ a + s·ln(rank)
    with slope s ≈ −1; template/boilerplate-dominated or synthetic corpora
    bend the curve (|s| far from 1, poor fit). Used as a drift tripwire
    next to PSI: cheap, model-free, and sensitive to generator bugs that
    per-document signals miss.

    Computes term counts (one groupBy with map-side combine over
    (token) — the only corpus-wide shuffle), takes the ``top_k`` terms by
    count via TakeOrdered (distributed top-k, NO global sort/window over
    the vocabulary), assigns ranks on that tiny frame, drops ranks below
    ``min_rank`` (the flat head distorts the power-law region — standard
    practice), and fits OLS ln(freq)~ln(rank) in closed form:
    slope = covar_pop/var_pop on the ≤``top_k``-row frame.

    Returns one row: ``(n_terms_fit, zipf_slope, zipf_r2)`` rounded to
    6 dp; ties in counts rank deterministically by token (both engines).
    """
    from pyspark.sql import Window

    toks = F.explode(_ws_tokens(text_col)).alias("tok")
    counts = df.select(toks).groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    top = counts.orderBy(F.col("n").desc(), F.col("tok")).limit(int(top_k))
    # rank window over ≤ top_k rows — bounded, not corpus-wide
    ranked = top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("n").desc(), F.col("tok"))
        ).cast("long"),
    ).where(F.col("rank") >= int(min_rank))
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("n").cast("double"))
    fit = ranked.select(x.alias("x"), y.alias("y")).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_fit"),
        F.covar_pop("y", "x").alias("cxy"),
        F.var_pop("x").alias("vx"),
        F.var_pop("y").alias("vy"),
    )
    slope = F.col("cxy") / F.col("vx")
    r2 = (F.col("cxy") * F.col("cxy")) / (F.col("vx") * F.col("vy"))
    return fit.select(
        "n_terms_fit",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(r2, 6).alias("zipf_r2"),
    )


def corpus_concentration(
    df: DataFrame,
    group_col: str,
    top_n: int = 10,
) -> DataFrame:
    """Corpus-level concentration of documents over a grouping key
    (host, registered domain, source) — the Herfindahl–Hirschman index
    (HHI = Σ share_i², the antitrust-economics standard) plus its
    reciprocal, the *effective number of groups* (1/HHI: a corpus with
    HHI 0.01 behaves like 100 equal sources no matter how many it
    nominally has), and the top-1 / top-``top_n`` shares. The question
    this answers — "is my trillion-document crawl secretly an epoch of
    five CDNs?" — is the corpus-wide complement of
    :func:`group_diversity`'s per-shard entropy audit.

    Returns ONE row: ``(n_docs, n_groups, hhi, effective_groups,
    top1_share, topn_share)`` at 6 dp.

    Shape for scale: one partial-aggregated groupBy to |groups| rows,
    then one fused fold over that count table (the Σc² and Σc ride one
    aggregate; the top-``top_n`` sum comes from a bounded TakeOrdered —
    deterministic tie-break by (count desc, group) — never a global
    sort). The corpus itself shuffles once, to |groups| rows."""
    counts = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).alias("c")
    )
    top = (
        counts.orderBy(F.col("c").desc(), F.col("g"))
        .limit(int(top_n))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("topn_c"))
    )
    agg = counts.agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("__sq"),
        F.max("c").cast("double").alias("__top1"),
    )
    n = F.col("n_docs").cast("double")
    hhi = F.col("__sq") / (n * n)
    return agg.crossJoin(F.broadcast(top)).select(
        "n_docs",
        "n_groups",
        F.round(hhi, 6).alias("hhi"),
        F.round(F.lit(1.0) / hhi, 6).alias("effective_groups"),
        F.round(F.col("__top1") / n, 6).alias("top1_share"),
        F.round(F.col("topn_c").cast("double") / n, 6).alias("topn_share"),
    )

def spearman_correlation(
    df: DataFrame,
    x: str,
    y: str,
) -> DataFrame:
    """Spearman rank correlation between two per-document quality
    signals — "do these two filters ORDER the corpus the same way?"
    (rank agreement, invariant to any monotone recalibration of either
    signal). The continuous complement to the boolean-decision
    agreement checks (``decision_kappa`` / ``fleiss_kappa``): run it
    before adding a new quality score to a rule pack — a signal with
    ρ ≈ 1 against an existing one adds cost but no information, and a
    distilled student should show ρ ≈ 1 against its teacher.

    Standard tie handling: Pearson correlation over AVERAGE ranks
    (``avg_rank = |values below| + (tie_size + 1)/2``).

    Shape for scale — NO corpus-wide per-row rank window, and (r6) no
    single-partition DISTINCT-VALUE window either:

    1. per signal, one partial-aggregated groupBy → one row per
       DISTINCT value;
    2. the below-count prefix is the bucketed running sum of
       :mod:`~soda_core_spark.operators.prefix` (:func:`_avg_rank_table`
       — the ``spearman_matrix`` machinery; the former
       ``Window.orderBy`` over the distinct values serialized a
       wide-range signal through one task);
    3. rank tables join back to the rows on the value key (AQE
       broadcasts them when small), then ONE ``corr`` aggregate.

    Average ranks are half-integers — exact in doubles to 2^52 — so
    the only float work is the final correlation fold; rounded to 6 dp
    for cross-engine stability. Rows where either signal is NULL or
    NaN are excluded entirely (the ``spearman_matrix`` listwise
    policy). Returns one row ``(n, spearman_rho)``; ``rho`` is NULL
    when fewer than 2 rows or either signal is constant."""
    from pyspark.sql import types as T

    def _floaty(col_name: str) -> bool:
        return isinstance(
            df.schema[col_name].dataType, (T.FloatType, T.DoubleType)
        )

    cond = F.col("__x").isNotNull() & F.col("__y").isNotNull()
    # only genuinely floating INPUTS can be NaN; an unconditional
    # isnan() would be inlined into the pushed-down scan filter and
    # re-evaluate a derived column's whole expression per row (isNotNull
    # on a null-intolerant chain simplifies away; isnan cannot)
    if _floaty(x):
        cond = cond & ~F.isnan(F.col("__x"))
    if _floaty(y):
        cond = cond & ~F.isnan(F.col("__y"))
    rows = df.select(
        F.col(x).cast("double").alias("__x"),
        F.col(y).cast("double").alias("__y"),
    ).where(cond)

    ranked = (
        rows.join(
            _avg_rank_table(rows, "__x", pre_filtered=True)
            .withColumnRenamed("__v", "__x")
            .withColumnRenamed("__rank", "__rx"),
            "__x",
        )
        .join(
            _avg_rank_table(rows, "__y", pre_filtered=True)
            .withColumnRenamed("__v", "__y")
            .withColumnRenamed("__rank", "__ry"),
            "__y",
        )
    )
    # corr() itself raises DIVIDE_BY_ZERO under ANSI mode on a constant
    # signal; build it from guarded covar/var components instead
    # (population vs sample normalization cancels in the ratio)
    fold = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.covar_pop("__rx", "__ry").alias("__cxy"),
        F.var_pop("__rx").alias("__vx"),
        F.var_pop("__ry").alias("__vy"),
    )
    return fold.select(
        "n",
        F.round(
            F.when(
                (F.col("__vx") > 0) & (F.col("__vy") > 0),
                F.col("__cxy") / F.sqrt(F.col("__vx") * F.col("__vy")),
            ),
            6,
        ).alias("spearman_rho"),
    )

def vocab_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_k: int = 1000,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the unigram
    distributions of corpus sources — "how far apart do these slices
    speak?". The inter-source complement to
    :func:`population_stability_index` (PSI tracks ONE feature drifting
    over time; JSD compares whole vocabularies across slices) and the
    standard diagnostic before mixing crawls: a source pair at
    JSD ≈ ln 2 shares essentially no vocabulary, one at ≈ 0 is
    redundant. Lin 1991 (IEEE Trans. IT 37:1); symmetric, bounded, no
    unbounded KL terms.

    Vocabulary is the global top-``top_k`` tokens by corpus count
    (deterministic tie-break by token); everything else folds into one
    ``<oov>`` bucket so every source's distribution sums to exactly 1
    over ``top_k + 1`` cells and a token missing from one source is an
    honest 0, not a dropped term (0-probability terms contribute 0 —
    the JSD mixture keeps every log finite).

    Shape for scale: ONE corpus-wide shuffle (the (group, token) count
    groupBy with map-side combine); the vocabulary comes from a bounded
    TakeOrdered over the token-marginal table; every later step —
    grid completion, the pair self-join on the vocab key, the JSD fold
    — runs on |groups|·(top_k+1) rows. Probabilities stay rational
    (count/total) until the log fold; rounded to 6 dp. Returns one row
    per unordered pair ``(group_a, group_b, n_tokens_a, n_tokens_b,
    jsd)``, ordered by the pair."""
    toks = F.explode(_ws_tokens(text_col)).alias("tok")
    gt = (
        df.select(F.col(group_col).alias("g"), toks)
        .groupBy("g", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    vocab = (
        gt.groupBy("tok")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.col("tc").desc(), F.col("tok"))
        .limit(int(top_k))
        .select("tok")
    )
    # fold out-of-vocabulary mass into one bucket, re-aggregate
    folded = (
        gt.join(F.broadcast(vocab.withColumn("__iv", F.lit(True))),
                "tok", "left")
        .select(
            "g",
            F.when(F.col("__iv").isNotNull(), F.col("tok"))
            .otherwise(F.lit("<oov>")).alias("v"),
            "c",
        )
        .groupBy("g", "v")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    totals = folded.groupBy("g").agg(F.sum("c").cast("long").alias("t"))
    # complete grid: every (group, vocab-cell) — bounded, broadcast-sized
    cells = folded.select("v").distinct()
    grid = (
        totals.crossJoin(F.broadcast(cells))
        .join(folded, ["g", "v"], "left")
        .select(
            "g", "v", "t",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        )
    )
    a, b = grid.alias("a"), grid.alias("b")
    pa = F.col("a.c").cast("double") / F.col("a.t").cast("double")
    pb = F.col("b.c").cast("double") / F.col("b.t").cast("double")
    m = (pa + pb) / 2.0
    term = (
        F.when(F.col("a.c") > 0, pa * F.log(pa / m)).otherwise(F.lit(0.0))
        + F.when(F.col("b.c") > 0, pb * F.log(pb / m)).otherwise(F.lit(0.0))
    ) / 2.0
    return (
        a.join(b, F.col("a.v") == F.col("b.v"))
        .where(F.col("a.g") < F.col("b.g"))
        .groupBy(
            F.col("a.g").alias("group_a"),
            F.col("b.g").alias("group_b"),
        )
        .agg(
            F.max(F.col("a.t")).cast("long").alias("n_tokens_a"),
            F.max(F.col("b.t")).cast("long").alias("n_tokens_b"),
            F.round(F.sum(term), 6).alias("jsd"),
        )
        .orderBy("group_a", "group_b")
    )


def vocabulary_novelty(
    df: DataFrame,
    day_col: str = "day",
    text_col: str = "text",
) -> DataFrame:
    """First-seen vocabulary curve: per crawl day, how many distinct
    tokens the corpus used that day and how many of them had NEVER been
    seen on an earlier day. A healthy crawl's novelty rate decays
    smoothly (Heaps' law); a spike means a spam campaign, an encoding
    regression, or a new-source onboarding dumped fresh vocabulary into
    the mix — caught the day it happens, not after training. Complements
    :func:`vocab_divergence` (space: which sources differ) with the time
    axis (when did the vocabulary move).

    Shape for scale: tokens dedup to (day, token) pairs in ONE
    corpus-wide groupBy with map-side combine (a token repeated a
    million times on one day crosses the shuffle once); first-seen is a
    second groupBy keyed on token. Everything after runs on |days| rows;
    the cumulative window is a single bounded calendar frame. Returns
    one row per day: ``(day, distinct_tokens, new_tokens, novelty_rate,
    cum_vocab)`` with ``day`` as an ISO string (cross-engine-stable),
    ordered by day.
    """
    from pyspark.sql import Window

    toks = F.explode(_ws_tokens(text_col)).alias("tok")
    dt = (
        df.select(F.col(day_col).cast("date").alias("day"), toks)
        .distinct()
    )
    daily = dt.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("distinct_tokens")
    )
    news = (
        dt.groupBy("tok")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("new_tokens"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    new_c = F.coalesce(F.col("new_tokens"), F.lit(0)).cast("long")
    return (
        daily.join(news, "day", "left")
        .select(
            F.col("day"),
            "distinct_tokens",
            new_c.alias("new_tokens"),
            F.round(
                new_c.cast("double")
                / F.col("distinct_tokens").cast("double"),
                6,
            ).alias("novelty_rate"),
        )
        .withColumn(
            "cum_vocab", F.sum("new_tokens").over(w).cast("long")
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "distinct_tokens",
            "new_tokens",
            "novelty_rate",
            "cum_vocab",
        )
        .orderBy("day")
    )


def robust_anomaly_days(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    threshold: float = 3.5,
) -> DataFrame:
    """Median/MAD anomaly detection over per-key daily event counts —
    "which days did this host/type behave abnormally?". Mean/stddev
    anomaly scoring (operators/history.py metric z-scores) is itself
    dragged by the outliers it hunts; the modified z-score
    0.6745·(n−median)/MAD (Iglewicz & Hoaglin 1993, threshold 3.5) is
    the standard robust alternative — a one-day spam flood can't
    inflate its own baseline.

    The per-key calendar is DENSIFIED between that key's first and last
    observed day: a silent day scores n=0 — a collapsed fetcher is
    exactly the anomaly you want flagged, and an operator that only
    scores days that produced rows can never see it. Days outside a
    key's own observed span are not invented.

    NULL policy (documented, not accidental): when MAD = 0 (more than
    half the days sit exactly on the median) the score divides by zero
    — ``robust_z`` is NULL and ``is_anomaly`` degrades to the exact
    test ``n <> median``, so a constant-rate key flags any deviation
    and never divides by zero.

    Shape for scale: the corpus collapses to |keys × days| rows in one
    partial-aggregated groupBy; densification explodes a bounded
    per-key ``sequence(min_day, max_day)`` calendar; median and MAD are
    two grouped exact percentiles over that tiny frame. Returns one row
    per (key, day): ``(key, day, n, med, mad, robust_z, is_anomaly)``,
    day as ISO string, ordered by (key, day).
    """
    daily = df.groupBy(
        F.col(key_col).alias("key"),
        F.to_date(F.col(ts_col)).alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    cal = (
        daily.groupBy("key")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "key",
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
        )
    )
    dense = cal.join(daily, ["key", "day"], "left").select(
        "key", "day", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
    )
    med = dense.groupBy("key").agg(
        F.percentile(F.col("n").cast("double"), F.lit(0.5)).alias("med")
    )
    with_med = dense.join(med, "key")
    mad = with_med.groupBy("key").agg(
        F.percentile(
            F.abs(F.col("n").cast("double") - F.col("med")), F.lit(0.5)
        ).alias("mad")
    )
    z = F.lit(0.6745) * (F.col("n").cast("double") - F.col("med")) / F.col(
        "mad"
    )
    return (
        with_med.join(mad, "key")
        .select(
            F.col("key"),
            F.col("day").cast("string").alias("day"),
            "n",
            F.round(F.col("med"), 6).alias("med"),
            F.round(F.col("mad"), 6).alias("mad"),
            F.when(F.col("mad") > 0, F.round(z, 6)).alias("robust_z"),
            F.when(F.col("mad") > 0, F.abs(z) > F.lit(float(threshold)))
            .otherwise(F.col("n").cast("double") != F.col("med"))
            .alias("is_anomaly"),
        )
        .orderBy("key", "day")
    )


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Shannon entropy of the character (code-point)
    distribution — the cheap garbage detector: base64 blobs, hex dumps,
    and minified payloads sit far ABOVE natural-language entropy
    (~4.0-4.5 bits for English prose), while repeated-char padding and
    template spam sit far BELOW it. C4/Gopher-style rule packs gate on
    word-level signals; entropy catches byte-level junk those tokenizers
    normalize away.

    Shape for scale: entropy is a pure per-row function, so it runs as
    ONE Arrow-batched pandas projection — zero shuffle, zero explode.
    (The naive relational form — explode per character, groupBy
    (doc, char) — shuffles ~|corpus chars| rows; at 10^12 documents that
    is the single worst plan in the pipeline. The oracle uses that form
    because DuckDB is local; the Spark side must not.) Per batch, each
    text is mapped to its UTF-32 code-point array and counted with
    ``np.unique`` — vectorized per row, no per-character Python.

    Returns ``(id, n_cp, distinct_cp, entropy_bits)`` with entropy in
    bits (log2) rounded 6 dp; empty/NULL text scores 0.0 with zero
    counts. Accumulation is float64 over counts sorted by code point
    (``np.unique`` returns sorted keys), giving a deterministic
    summation order the oracle reproduces with an ORDER BY inside its
    sum — both engines add the same doubles in the same order.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<n_cp: long, distinct_cp: long, entropy_bits: double>")
    def _ent(texts):
        import numpy as np

        n = np.zeros(len(texts), dtype=np.int64)
        k = np.zeros(len(texts), dtype=np.int64)
        h = np.zeros(len(texts), dtype=np.float64)
        for i, t in enumerate(texts):
            if t is None or len(t) == 0:
                continue
            cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
            _, counts = np.unique(cp, return_counts=True)
            tot = float(cp.size)
            p = counts.astype(np.float64) / tot
            n[i] = cp.size
            k[i] = counts.size
            # sum in sorted-code-point order (np.unique order) so the
            # oracle's ORDER BY-ed sum adds identical doubles
            h[i] = round(float(-np.sum(p * np.log2(p))), 6)
        return pd.DataFrame({"n_cp": n, "distinct_cp": k, "entropy_bits": h})

    s = _ent(F.col(text_col))
    return df.select(
        F.col(id_col),
        s["n_cp"].alias("n_cp"),
        s["distinct_cp"].alias("distinct_cp"),
        s["entropy_bits"].alias("entropy_bits"),
    )


def vocab_stats(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source lexical-richness profile: token count, vocabulary
    size, type-token ratio, and hapax-legomena share — the classic
    corpus-linguistics fingerprint of a source. Template farms and
    boilerplate mirrors show pathologically LOW TTR (few types, endless
    tokens); OCR noise and spam show pathologically HIGH hapax share
    (every "word" unique). Complements :func:`vocabulary_novelty`
    (arrival-order curve) and :func:`zipf_fit` (rank-frequency slope)
    with the two scalars mixture planners actually threshold on.

    Tokens are the whitespace-split lowered words (empty strings
    dropped). Plan: explode -> partial-aggregated groupBy
    ((group, word) counts combine map-side, so the shuffle carries at
    most |groups x vocab| rows, not |corpus tokens|) -> one tiny
    per-group rollup. Returns ``(group, n_tokens, vocab_size, ttr,
    hapax_count, hapax_ratio)``; ratios rounded 6 dp; groups whose
    documents contain no tokens report zeros (ratio 0.0, not NULL).
    """
    words = F.explode(_ws_tokens(text_col)).alias("word")
    per_word = (
        df.select(F.col(group_col).alias("group"), words)
        .groupBy("group", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    groups = df.select(F.col(group_col).alias("group")).distinct()
    stats = per_word.groupBy("group").agg(
        F.sum("freq").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum((F.col("freq") == 1).cast("long")).cast("long").alias("hapax_count"),
    )
    return (
        groups.join(stats, "group", "left")
        .select(
            "group",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce(F.col("vocab_size"), F.lit(0)).cast("long").alias("vocab_size"),
            F.round(
                F.coalesce(
                    F.col("vocab_size").cast("double")
                    / F.col("n_tokens").cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("ttr"),
            F.coalesce(F.col("hapax_count"), F.lit(0)).cast("long").alias("hapax_count"),
            F.round(
                F.coalesce(
                    F.col("hapax_count").cast("double")
                    / F.col("vocab_size").cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("hapax_ratio"),
        )
    )


def shrunk_group_rate(
    df: DataFrame,
    group_col: str = "source",
    flag_col: str = "kept",
) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-group pass
    rates — the host/source-level decision input. Raw per-host
    keep-rates are unusable for small hosts (one kept doc out of one
    looks perfect); shrinking toward the corpus prior by evidence mass
    is the standard fix (James-Stein / beta-binomial with
    method-of-moments prior). A reputation system over crawl hosts is
    exactly this operator.

    Prior fit (method of moments over the UNWEIGHTED group rates
    p_i = k_i/n_i): with m = mean(p_i) and s2 = population variance of
    p_i, the prior strength is ``nu = m(1-m)/s2 - 1`` and the prior is
    Beta(alpha = m*nu, beta = (1-m)*nu). Each group's posterior mean is
    ``(k_i + alpha) / (n_i + nu)``. Degenerate-policy (documented, NOT
    silent): if fewer than 2 groups, s2 == 0 (all rates equal) or
    s2 >= m(1-m) (MoM invalid), shrinkage is a no-op and shrunk_rate
    equals the raw rate, with ``prior_strength`` reported as 0.0.

    Scale shape: ONE partial-aggregated groupBy collapses the corpus to
    |groups| rows; the prior is a scalar aggregate over that tiny frame
    cross-joined back (broadcast) — no second corpus scan, no window.
    NULL flags count as False (missing evidence is not a pass).

    Returns ``(group, n, k, rate, shrunk_rate, prior_strength)`` with
    rates rounded 6 dp.

    Reference parity: soda-core has no cross-dataset shrinkage; its
    metric checks are per-dataset scalars (metric_check.py). This is
    the training-pipeline extension for host-level filtering.
    """
    g = (
        df.select(
            F.col(group_col).alias("group"),
            F.coalesce(F.col(flag_col).cast("boolean"), F.lit(False)).alias("__f"),
        )
        .groupBy("group")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("__f").cast("long")).cast("long").alias("k"),
        )
        .withColumn("rate", F.col("k").cast("double") / F.col("n").cast("double"))
    )
    prior = g.agg(
        F.count(F.lit(1)).alias("__ng"),
        F.avg("rate").alias("__m"),
        F.var_pop("rate").alias("__s2"),
    )
    nu = F.when(
        (F.col("__ng") >= 2)
        & (F.col("__s2") > 0.0)
        & (F.col("__s2") < F.col("__m") * (F.lit(1.0) - F.col("__m"))),
        F.col("__m") * (F.lit(1.0) - F.col("__m")) / F.col("__s2") - F.lit(1.0),
    ).otherwise(F.lit(0.0))
    joined = g.crossJoin(F.broadcast(prior.select(nu.alias("__nu"), F.col("__m"))))
    shrunk = (
        F.col("k").cast("double") + F.col("__m") * F.col("__nu")
    ) / (F.col("n").cast("double") + F.col("__nu"))
    return joined.select(
        "group",
        "n",
        "k",
        F.round("rate", 6).alias("rate"),
        F.round(shrunk, 6).alias("shrunk_rate"),
        F.round("__nu", 6).alias("prior_strength"),
    )


def ks_drift(
    df: DataFrame,
    day_col: str = "day",
    value_col: str = "score",
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between EVERY
    adjacent pair of days — the distribution-drift tripwire run on each
    crawl increment (PSI needs binning choices; KS is the
    assumption-free exact complement: max ECDF gap, any shape).
    NULL values are excluded; a day pair is emitted only when both days
    have at least one value.

    Scale shape: the corpus collapses FIRST to value grain — one
    partial-aggregated groupBy to (day, value, count) — so everything
    after is bounded by |days x distinct values|, never row count.
    Both contribution sides re-read that grain through the SAME
    exchange subtree (AQE ReuseExchange — pinned in
    test_plan_shape.py; a naive join-per-pair-side form scanned the
    corpus 9x). The final plan touches the corpus exactly TWICE: the
    grain aggregate, plus the per-day totals/adjacency aggregate that
    Catalyst collapses to a direct partial-agged count (both shuffles
    carry aggregate-grain rows only). Each grain row then routes to
    its <= 2 adjacent pairs via a broadcast |pairs|-row map, and one
    cumsum window per pair ordered by value gives both ECDFs and
    ``ks = max |F_prev(v) - F_cur(v)|`` evaluated at every observed
    value — exact, no sampling, no bins. The adjacency (lead) window
    runs over the |days|-row totals frame only.

    Returns ``(day, n_prev, n_cur, ks)`` ordered by day (the LATER day
    of each pair), ks rounded 6 dp.
    """
    from pyspark.sql import Window

    # the explicit isNotNull(day) matters for plan REUSE, not semantics:
    # every consumer joins on day, so Catalyst pushes that filter into
    # their copies of this subtree — carrying it here keeps all
    # canonicalized subtrees identical and lets ReuseExchange collapse
    # them to one scan + one shuffle
    vals = (
        df.select(F.col(day_col).alias("day"), F.col(value_col).alias("v"))
        .where(F.col("v").isNotNull() & F.col("day").isNotNull())
        .groupBy("day", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = vals.groupBy("day").agg(F.sum("c").cast("long").alias("n"))
    # adjacency over the tiny |days| frame (single-partition window: fine)
    wd = Window.orderBy("day")
    meta = (
        tot.select(
            "day",
            "n",
            F.lead("day").over(wd).alias("next_day"),
            F.lead("n").over(wd).alias("next_n"),
        )
        .where(F.col("next_day").isNotNull())
        .select(
            F.col("next_day").alias("pair"),
            F.col("day").alias("prev_day"),
            F.col("n").alias("n_prev"),
            F.col("next_n").alias("n_cur"),
        )
    )
    # routing maps (broadcast): day d contributes to pair d as "cur"
    # and to pair next(d) as "prev"
    prev_map = meta.select("pair", F.col("prev_day").alias("day"))
    cur_map = meta.select("pair", F.col("pair").alias("day"))
    lrows = vals.join(F.broadcast(prev_map), "day").select(
        F.col("pair"), "v", F.col("c").alias("cp"), F.lit(0).alias("cc")
    )
    rrows = vals.join(F.broadcast(cur_map), "day").select(
        F.col("pair"), "v", F.lit(0).alias("cp"), F.col("c").alias("cc")
    )
    grain = (
        lrows.unionByName(rrows)
        .groupBy("pair", "v")
        .agg(F.sum("cp").cast("long").alias("cp"), F.sum("cc").cast("long").alias("cc"))
    )
    w = Window.partitionBy("pair").orderBy("v")
    cum = grain.select(
        "pair",
        F.sum("cp").over(w).alias("cum_p"),
        F.sum("cc").over(w).alias("cum_c"),
    )
    return (
        cum.join(F.broadcast(meta.select("pair", "n_prev", "n_cur")), "pair")
        .groupBy(F.col("pair").alias("day"), F.col("n_prev"), F.col("n_cur"))
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("cum_p").cast("double") / F.col("n_prev").cast("double")
                        - F.col("cum_c").cast("double") / F.col("n_cur").cast("double")
                    )
                ),
                6,
            ).alias("ks")
        )
        .orderBy("day")
    )


def group_gini(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
) -> DataFrame:
    """Exact Gini coefficient of a non-negative size signal per group —
    the inequality summary that HHI (:func:`corpus_concentration`)
    gives for SHARES-of-groups, applied instead WITHIN a group's
    documents. A source where one mega-page carries half the tokens
    behaves very differently under sampling/dedup than one with the
    same mean spread evenly; Gini is the standard single scalar for
    that skew (0 = all docs equal, -> 1 = one doc holds everything).

    Exact tie-aware computation at VALUE GRAIN: collapse each group to
    (value, count) — the only corpus-scale aggregate — then with
    values ascending and ``cum`` the count cumsum, each tied block
    contributes its average-rank mass ``c * (cum_before + (c+1)/2)``
    and ``G = (2 * sum(v * rankmass) / (n * sum(v))) - (n + 1) / n``
    (the classic rank formula, exactly the all-pairs
    ``sum |x_i - x_j| / (2 n^2 mu)`` under average-rank ties). One
    cumsum window per group over the bounded grain, never a per-row
    window. NULL and negative values are excluded; groups whose total
    is 0 (all zeros) report gini 0.0 (documented, not NULL).

    Returns ``(group, n, total, gini)`` with gini rounded 6 dp,
    ordered by group.
    """
    from pyspark.sql import Window

    vals = (
        df.select(
            F.col(group_col).alias("group"),
            F.col(value_col).cast("double").alias("v"),
        )
        .where(F.col("v").isNotNull() & (F.col("v") >= 0))
        .groupBy("group", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("group").orderBy("v")
    ranked = vals.select(
        "group",
        "v",
        "c",
        (F.sum("c").over(w) - F.col("c")).alias("cum_before"),
    )
    rankmass = F.col("c").cast("double") * (
        F.col("cum_before").cast("double")
        + (F.col("c").cast("double") + F.lit(1.0)) / F.lit(2.0)
    )
    agg = ranked.groupBy("group").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("v") * F.col("c")).alias("total"),
        F.sum(F.col("v") * rankmass).alias("__s"),
    )
    gini = F.when(F.col("total") > 0.0,
        F.lit(2.0) * F.col("__s")
        / (F.col("n").cast("double") * F.col("total"))
        - (F.col("n").cast("double") + F.lit(1.0)) / F.col("n").cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "group",
        "n",
        F.round("total", 6).alias("total"),
        F.round(gini, 6).alias("gini"),
    ).orderBy("group")


def hill_tail_index(
    df: DataFrame,
    key_col: str,
    k: int = 50,
) -> DataFrame:
    """Hill (1975) estimator of the power-law tail exponent of the
    group-size distribution: how heavy is the heavy tail of per-key
    row counts? ``alpha = k / sum_{i<=k} ln(X_(i) / X_(k+1))`` over the
    k+1 largest group sizes. The single-scalar answer to "do I need
    salting?": alpha ≤ 1 means the biggest key dominates the corpus no
    matter the scale (Zipf-like hosts/users), alpha > 2 means the tail
    is tame and plain hash partitioning holds. Complements
    :func:`group_gini` (whole-distribution inequality) and q76's
    key-skew top-list with the asymptotic tail law those can't see.

    Scale shape: one partial-aggregated groupBy collapses the corpus
    to |keys| size rows, then ``orderBy(...).limit(k+1)`` compiles to
    TakeOrderedAndProject — a distributed top-k that ships exactly
    k+1 rows per partition to the driver-side heap, never a global
    sort. All log arithmetic runs on that (k+1)-row frame. Ties at
    the boundary are broken by key for a deterministic row set; the
    estimate itself is tie-invariant (tied sizes contribute equal
    logs).

    Returns one row ``(n_groups, k, x_k1, inv_alpha, alpha)``; alpha
    is NULL when fewer than k+1 groups exist or X_(k+1) == 0 (the
    estimator is undefined there — reported, not fabricated).
    """
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    from pyspark.sql import Window

    sizes = (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
    )
    n_groups = sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups")
    )
    top = sizes.orderBy(F.col("sz").desc(), F.col("key").asc()).limit(k + 1)
    w = Window.orderBy(F.col("sz").desc(), F.col("key").asc())
    ranked = top.select(
        F.row_number().over(w).alias("rn"), F.col("sz").cast("double").alias("x")
    )
    agg = ranked.agg(
        F.max(F.when(F.col("rn") == k + 1, F.col("x"))).alias("x_k1"),
        F.sum(
            F.when(F.col("rn") <= k, F.log(F.col("x")))
        ).alias("__sumlog"),
        F.count(F.when(F.col("rn") <= k, F.lit(1))).alias("__k_seen"),
    )
    inv = (
        F.col("__sumlog") / F.lit(float(k))
        - F.log(F.col("x_k1"))
    )
    valid = (
        (F.col("__k_seen") == k)
        & F.col("x_k1").isNotNull()
        & (F.col("x_k1") > 0)
    )
    return (
        agg.crossJoin(F.broadcast(n_groups))
        .select(
            "n_groups",
            F.lit(k).cast("long").alias("k"),
            F.col("x_k1").cast("long").alias("x_k1"),
            F.round(F.when(valid, inv), 6).alias("inv_alpha"),
            F.round(
                F.when(valid & (inv > 0), F.lit(1.0) / inv), 6
            ).alias("alpha"),
        )
    )


def burrows_delta(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_k: int = 50,
) -> DataFrame:
    """Burrows' Delta (Burrows 2002, "Delta: a measure of stylistic
    difference") between corpus sources: z-normalize each of the
    global top-``top_k`` words' relative frequencies ACROSS sources,
    then score each source pair by the mean |z_a - z_b|. Because the
    top of any corpus frequency list is function words (the, of, and),
    Delta reads STYLE where :func:`vocab_divergence`'s JSD reads
    TOPIC — two mirrors of one template score near 0 here even when
    their subject matter (and hence JSD) differs; the stylometric
    complement to content-hash mirror detection (q106/q119).

    Shape for scale: the ONE corpus-wide shuffle is the
    (group, token) count groupBy with map-side combine; the word list
    is a bounded TakeOrdered over the token marginals; the z-grid is
    completed on a |groups|·top_k crossJoin of two tiny frames so a
    word a source never uses is an honest z below the mean, not a
    dropped term; the pair self-join runs on that grid. Words whose
    frequency is constant across sources (stddev 0) carry no style
    signal and drop from the mean on both engines (NULL-skip avg);
    ``n_terms`` reports how many words actually scored. z-scores are
    rounded 12 dp before the |diff| (cross-engine trajectory pin),
    deltas 6 dp. Sources contributing zero tokens have no
    distribution and drop out entirely.

    Returns ``(g1, g2, n_terms, delta)`` for g1 < g2, ordered by pair.
    """
    if top_k <= 0:
        raise ValueError(f"top_k must be > 0, got {top_k}")
    toks = F.explode(_ws_tokens(text_col)).alias("tok")
    gt = (
        df.select(F.col(group_col).alias("g"), toks)
        .groupBy("g", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    vocab = (
        gt.groupBy("tok")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.col("tc").desc(), F.col("tok"))
        .limit(int(top_k))
        .select("tok")
    )
    totals = gt.groupBy("g").agg(F.sum("c").alias("__t"))
    grid = (
        totals.crossJoin(F.broadcast(vocab))
        .join(gt, ["g", "tok"], "left")
        .select(
            "g",
            "tok",
            (
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("__t").cast("double")
            ).alias("f"),
        )
    )
    stats = grid.groupBy("tok").agg(
        F.avg("f").alias("__m"), F.stddev_samp("f").alias("__s")
    )
    z = grid.join(F.broadcast(stats), "tok").select(
        "g",
        "tok",
        F.round(
            F.when(
                F.col("__s") > 0,
                (F.col("f") - F.col("__m")) / F.col("__s"),
            ),
            12,
        ).alias("z"),
    )
    a, b = z.alias("a"), z.alias("b")
    pairs = a.join(
        b,
        (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.g") < F.col("b.g")),
    ).select(
        F.col("a.g").alias("g1"),
        F.col("b.g").alias("g2"),
        F.abs(F.col("a.z") - F.col("b.z")).alias("__d"),
    )
    return (
        pairs.groupBy("g1", "g2")
        .agg(
            F.count("__d").cast("long").alias("n_terms"),
            F.round(F.avg("__d"), 6).alias("delta"),
        )
        .orderBy("g1", "g2")
    )


def heavy_hitter_tokens(
    docs: DataFrame,
    phi: float = 0.001,
    text_col: str = "text",
) -> DataFrame:
    """EXACT phi-heavy hitters — every token whose corpus frequency
    strictly exceeds ``phi`` of all tokens, with its exact count — at a
    shuffle cost bounded by the SUMMARY size, not the vocabulary.

    ``top_vocabulary``/``boilerplate_ngrams`` pay a full (token, count)
    exchange: web-scale text has a heavy-tailed vocabulary, so at 100 TB
    the map-side combine still emits millions of distinct singletons per
    partition into the shuffle. This operator caps that:

    1. **Summary pass** — one ``mapInPandas`` over the corpus keeps a
       Misra-Gries summary of k = ceil(1/phi) counters per partition
       (Misra & Gries 1982), merged batch-wise with the mergeable-
       summaries rule (Agarwal et al., PODS 2012: add counts, then
       subtract the (k+1)-th largest and drop non-positives), which
       preserves the deficit bound: a token missing from a partition's
       summary has local count <= n_p/(k+1). Summing the bound over
       partitions, any token with GLOBAL count > N/(k+1) <= phi*N must
       survive in at least one summary — the union of summaries is a
       guaranteed superset of the answer. Each partition emits at most
       k candidate tokens plus its exact local token total.
    2. **Recount pass** — exact counts for the candidate set only: the
       explode is filtered by a BROADCAST semi-join on the (<= P*k)-row
       candidate table before the groupBy, so the exchange carries heavy
       candidates only, then ``HAVING count > phi*N`` (N exact from
       pass 1) makes the output exact and independent of partitioning.

    Tokenization is :func:`~soda_core_spark.functions.text.words_col`
    (whitespace split) lowercased — the q154 convention. Returns
    ``(token, n, freq)`` sorted by n desc, token; ``freq`` is 6 dp.
    soda-core analogue: a distinct-value / frequent-values profile
    column metric, made exact and shuffle-bounded for web scale.
    """
    import math

    import numpy as np
    import pandas as pd

    if not (0.0 < phi < 1.0):
        raise ValueError(f"phi must be in (0, 1), got {phi}")
    k = int(math.ceil(1.0 / phi))
    spark = docs.sparkSession

    toks = docs.select(
        words_col(F.lower(F.coalesce(F.col(text_col), F.lit("")))).alias(
            "__w"
        )
    )

    def _summarize(batches):
        summary: "pd.Series | None" = None
        total = 0
        for pdf in batches:
            arrs = [a for a in pdf["__w"] if len(a)]
            if not arrs:
                continue
            flat = pd.Series(np.concatenate(arrs))
            total += len(flat)
            counts = flat.value_counts()
            summary = (
                counts
                if summary is None
                else summary.add(counts, fill_value=0)
            )
            if len(summary) > k:
                # mergeable-MG prune: subtract the (k+1)-th largest
                # count from every counter, keep strictly positive —
                # deficit per counter grows by that pivot, total
                # deficit stays <= n_p/(k+1).
                pivot = summary.nlargest(k + 1).iloc[-1]
                summary = summary - pivot
                summary = summary[summary > 0]
        cand = [] if summary is None else list(summary.index)
        yield pd.DataFrame(
            {"token": cand + [None], "local_total": [0] * len(cand) + [total]}
        )

    summaries = toks.mapInPandas(
        _summarize, "token string, local_total long"
    )
    rows = summaries.collect()  # bounded: <= partitions * (k + 1)
    n_total = sum(r["local_total"] for r in rows)
    candidates = sorted({r["token"] for r in rows if r["token"] is not None})
    out_schema = "token string, n bigint, freq double"
    if n_total == 0 or not candidates:
        return spark.createDataFrame([], out_schema)

    cand_df = spark.createDataFrame(
        [(c,) for c in candidates], "token string"
    )
    cutoff = float(phi) * float(n_total)
    return (
        toks.select(F.explode("__w").alias("token"))
        .join(F.broadcast(cand_df), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > cutoff)
        .select(
            "token",
            "n",
            F.round(F.col("n") / F.lit(float(n_total)), 6).alias("freq"),
        )
        .orderBy(F.col("n").desc(), "token")
    )


def heaps_law_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 64,
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth — the companion corpus-sanity
    statistic to ``zipf_fit``: natural text grows its vocabulary as
    V(n) ≈ K·n^β with β ≈ 0.4-0.6 over token count n (Heaps 1978).
    β near 1 means the corpus keeps minting tokens (mojibake, random
    IDs, crawl traps); β near 0 means a closed template vocabulary
    (boilerplate mirror farms). Both pathologies pass per-document
    checks and bend this curve.

    The growth curve needs a CORPUS-ORDER prefix notion, which a naive
    implementation makes sequential. Here the order is the md5 hash of
    the document id cut into ``buckets`` contiguous ranges
    (:func:`~soda_core_spark.operators.prefix.hash_bucket`, so the prefix
    order is deterministic across engines/partitionings), and the whole
    curve comes out of two parallel aggregates:

    - n_b: total tokens per bucket (one map-side-combined groupBy),
    - v_b: tokens whose FIRST bucket (min over its occurrences) is b —
      vocabulary is "minted where first seen", so the prefix-distinct
      count V(b) is the running sum of v_b, no sequential scan.

    Cumulative windows run over ≤ ``buckets`` rows. OLS of
    ln V(b) ~ ln N(b) in closed form over those ≤ ``buckets`` points
    (empty buckets contribute no point). One row::

        n_points, n_tokens, vocabulary,
        heaps_beta, heaps_k, heaps_r2   -- 6 dp; NULL when < 2 distinct
                                           curve points (degenerate fit)

    Tokens are lowercased whitespace-split words (q156 convention);
    NULL text folds to ''. soda-core analogue: none — corpus-level
    drift tripwire alongside q112/q78.
    """
    from pyspark.sql import Window

    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    bucket = prefix.hash_bucket(F.md5(F.col(id_col).cast("string")), buckets)
    toks = df.select(
        bucket.alias("__b"),
        F.explode(_ws_tokens(text_col)).alias("__tok"),
    )
    n_b = toks.groupBy("__b").agg(F.count(F.lit(1)).alias("__n"))
    v_b = (
        toks.groupBy("__tok")
        .agg(F.min("__b").alias("__b"))
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__v"))
    )
    w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        n_b.join(v_b, "__b", "full")
        .select(
            F.sum(F.coalesce(F.col("__n"), F.lit(0))).over(w).alias("N"),
            F.sum(F.coalesce(F.col("__v"), F.lit(0))).over(w).alias("V"),
        )
        .where((F.col("N") > 0) & (F.col("V") > 0))
    )
    pts = curve.select(
        F.log(F.col("N").cast("double")).alias("x"),
        F.log(F.col("V").cast("double")).alias("y"),
        "N",
        "V",
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.max("N").cast("long").alias("n_tokens"),
        F.max("V").cast("long").alias("vocabulary"),
        F.covar_pop("y", "x").alias("cxy"),
        F.var_pop("x").alias("vx"),
        F.var_pop("y").alias("vy"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
    )
    ok = F.col("vx") > 0
    beta = F.col("cxy") / F.col("vx")
    return fit.select(
        "n_points",
        "n_tokens",
        "vocabulary",
        F.round(F.when(ok, beta), 6).alias("heaps_beta"),
        F.round(F.when(ok, F.exp(F.col("my") - beta * F.col("mx"))), 6)
        .alias("heaps_k"),
        F.round(
            F.when(
                ok & (F.col("vy") > 0),
                (F.col("cxy") * F.col("cxy")) / (F.col("vx") * F.col("vy")),
            ),
            6,
        ).alias("heaps_r2"),
    )


def vocabulary_coverage(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Good-Turing / Chao1 vocabulary-coverage estimates per group — the
    inferential layer over ``vocab_stats``'s observational counts: not
    "how many distinct tokens did we see" but "how much of this source's
    vocabulary have we NOT crawled yet".

    - ``unseen_mass`` — Good-Turing P₀ = n₁/N (Good 1953): the
      probability the NEXT token drawn from the source is a never-seen
      type. The standard sample-coverage estimate; high P₀ = the crawl
      is still minting vocabulary (keep crawling / or it's an
      open-vocabulary pathology, cross-check q159's Heaps β).
    - ``coverage`` — 1 - P₀.
    - ``chao1`` — bias-corrected Chao1 richness (Chao 1984):
      V + n₁(n₁-1)/(2(n₂+1)); a lower bound on the source's TRUE
      vocabulary size, finite-sample-safe when n₂ = 0.

    One row per group::

        group, n_tokens, vocab_size, n1, n2: bigint
        unseen_mass, coverage: double (6 dp; NULL when n_tokens = 0)
        chao1: double (6 dp; NULL when vocab_size = 0)

    Scale shape: ONE (group, token) groupBy with map-side combine — the
    only vocabulary-wide shuffle — then a per-group reduce of 4
    counters. Empty/NULL-text docs contribute nothing; groups with no
    tokens still report (LEFT join from the distinct group set).
    Tokens: lowercased whitespace words (q142/q156 convention)."""
    toks = df.select(
        F.col(group_col).alias("group"),
        F.explode(_ws_tokens(text_col)).alias("word"),
    )
    per_word = toks.groupBy("group", "word").agg(
        F.count(F.lit(1)).alias("freq")
    )
    st = per_word.groupBy("group").agg(
        F.sum("freq").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("freq") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    groups = df.select(F.col(group_col).alias("group")).distinct()
    j = groups.join(st, "group", "left")
    n_tok = F.coalesce(F.col("n_tokens"), F.lit(0))
    vocab = F.coalesce(F.col("vocab_size"), F.lit(0))
    n1 = F.coalesce(F.col("n1"), F.lit(0))
    n2 = F.coalesce(F.col("n2"), F.lit(0))
    p0 = F.when(n_tok > 0, n1.cast("double") / n_tok.cast("double"))
    chao1 = F.when(
        vocab > 0,
        vocab.cast("double")
        + (n1 * (n1 - 1)).cast("double") / (2.0 * (n2 + 1).cast("double")),
    )
    return j.select(
        "group",
        n_tok.cast("long").alias("n_tokens"),
        vocab.cast("long").alias("vocab_size"),
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        F.round(p0, 6).alias("unseen_mass"),
        F.round(F.lit(1.0) - p0, 6).alias("coverage"),
        F.round(chao1, 6).alias("chao1"),
    ).orderBy("group")


def winsorized_stats(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Outlier-robust per-group location stats: winsorized and trimmed
    means next to the raw mean. Web-corpus per-host metrics are
    pathologically heavy-tailed (one 10 MB concatenated-feed page moves
    a host's raw mean length more than a thousand normal pages), so
    contract thresholds on raw means fire on single outliers; the
    winsorized mean (clip to the [lower, upper] group quantiles, then
    average — Tukey) and trimmed mean (drop outside, then average) are
    the standard robust replacements.

    One row per group::

        group, n: bigint
        mean: double               -- raw, 6 dp
        p_lo, p_hi: double         -- the group's clip quantiles, 6 dp
        winsorized_mean: double    -- 6 dp
        winsorized_std: double     -- stddev_samp of clipped values,
                                      6 dp (NULL when n < 2)
        trimmed_mean: double       -- 6 dp (NULL when all rows trimmed)
        n_trimmed: bigint          -- rows outside [p_lo, p_hi]

    NULL / NaN values are excluded up front. Quantiles are EXACT
    interpolated percentiles (q25 convention — matches quantile_cont);
    exact percentile buffers each group in the aggregator, so at
    true web scale swap in ``approx_percentile`` with the same plan
    shape (documented trade: the oracle needs exactness, a 10^12-doc
    run needs the sketch). Plan: one groupBy for bounds+raw stats, the
    tiny bounds frame broadcast back, one more map-side-combined
    groupBy for the clipped aggregates — two corpus scans, no window,
    no per-group sort."""
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(f"need 0 <= lower < upper <= 1, got {lower}, {upper}")
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull() & ~F.isnan(v)).select(
        F.col(group_col).alias("group"), v.alias("__v")
    )
    bounds = base.groupBy("group").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("__v").alias("__mean"),
        F.expr(f"percentile(__v, {lower!r})").alias("__lo"),
        F.expr(f"percentile(__v, {upper!r})").alias("__hi"),
    )
    clipped = base.join(
        F.broadcast(bounds.select("group", "__lo", "__hi")), "group"
    )
    cv = F.least(F.greatest(F.col("__v"), F.col("__lo")), F.col("__hi"))
    inside = F.col("__v").between(F.col("__lo"), F.col("__hi"))
    robust = clipped.groupBy("group").agg(
        F.avg(cv).alias("__wmean"),
        F.stddev_samp(cv).alias("__wstd"),
        F.avg(F.when(inside, F.col("__v"))).alias("__tmean"),
        F.sum(F.when(inside, 0).otherwise(1)).cast("long").alias("n_trimmed"),
    )
    return (
        bounds.join(robust, "group")
        .select(
            "group",
            "n",
            F.round("__mean", 6).alias("mean"),
            F.round("__lo", 6).alias("p_lo"),
            F.round("__hi", 6).alias("p_hi"),
            F.round("__wmean", 6).alias("winsorized_mean"),
            F.round("__wstd", 6).alias("winsorized_std"),
            F.round("__tmean", 6).alias("trimmed_mean"),
            "n_trimmed",
        )
        .orderBy("group")
    )


#: extraction-residue regexes, shared VERBATIM with the SQL oracle —
#: kept inside the Java-regex ∩ RE2 common subset (no lookaround, no
#: backreferences) so `rlike` and `regexp_matches` agree.
MARKUP_RESIDUE_PATTERNS: dict[str, str] = {
    "html_tag": r"</?[a-zA-Z][^>]*>",
    "html_entity": r"&(amp|lt|gt|quot|nbsp|#[0-9]+);",
    "template_brace": r"\{\{",
    "escaped_ws": r"\\[ntr]",
}


#: LLM-era contamination markers, shared VERBATIM with the SQL oracle —
#: assistant-style refusal stubs, chat-template special tokens, and
#: instruction-tuning scaffolding that leak into post-2022 web crawls
#: when pages embed model output verbatim (the FineWeb/Dolma-era cleanup
#: concern: training on such text teaches the model to imitate refusals
#: and emit template tokens). Java-regex ∩ RE2 common subset; inline
#: ``(?i)`` is honored by both engines; no apostrophes so the patterns
#: embed directly in single-quoted SQL.
LLM_CONTAMINATION_PATTERNS: dict[str, str] = {
    "ai_self_reference": r"(?i)\bas an ai (language )?model\b",
    "refusal_stub": r"(?i)\bi cannot (fulfill|assist with|comply with)\b",
    "chat_special_token": r"<\|(im_start|im_end|endoftext|assistant|user|system)\|>",
    "inst_template": r"\[/?INST\]|<<SYS>>",
    "instruction_header": r"### (Instruction|Response|Assistant):",
    "regenerate_ui": r"(?i)\bregenerate response\b",
}


def llm_contamination(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Model-output contamination audit per source: what fraction of
    documents carry assistant-style refusal stubs, chat-template special
    tokens, or instruction-tuning scaffolding (see
    ``LLM_CONTAMINATION_PATTERNS``). Same fused one-scan shape and
    output schema as :func:`markup_residue`; the synthetic OR row is
    labeled ``any_marker``. soda-core analogue: invalid_count with regex
    validity (invalid_check.py) generalized to a multi-pattern report."""
    return markup_residue(
        df,
        text_col=text_col,
        group_col=group_col,
        patterns=patterns if patterns is not None else LLM_CONTAMINATION_PATTERNS,
        any_label="any_marker",
    )


def markup_residue(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    patterns: dict[str, str] | None = None,
    any_label: str = "any_residue",
) -> DataFrame:
    """Extraction-residue audit per source: what fraction of documents
    still carry raw-HTML artifacts AFTER text extraction — residual
    tags, unresolved entities, wiki/template braces, literal escaped
    whitespace. Every published pipeline's cleanup stage (C4's
    "remove lines with {", RefinedWeb/trafilatura QC) is gated on
    exactly these signals; a source whose residue rate jumps means its
    extractor regressed, not its content.

    One row per (group, pattern)::

        group, pattern, n_docs: bigint
        n_hit: bigint, hit_rate: double (6 dp)

    plus a synthetic ``pattern = any_label`` row per group (OR of all
    patterns; default ``'any_residue'``). NULL text counts as clean (no
    artifact to find).

    Scale shape: all flags are ``rlike`` booleans in ONE fused
    map-side-combined aggregate — one corpus scan regardless of pattern
    count; ``inline`` unpivots the counter row per group. Patterns live
    in ``MARKUP_RESIDUE_PATTERNS`` (Java-regex ∩ RE2 subset, shared
    verbatim with the oracle). soda-core analogue: invalid_count with
    regex validity (invalid_check) generalized to a multi-pattern
    corpus report."""
    pats = patterns if patterns is not None else MARKUP_RESIDUE_PATTERNS
    if not pats:
        raise ValueError("patterns must be non-empty")
    if any_label in pats:
        raise ValueError(
            f"any_label {any_label!r} collides with a pattern name"
        )
    t = F.coalesce(F.col(text_col), F.lit(""))
    flags = {n: t.rlike(p) for n, p in pats.items()}
    any_flag = None
    for c in flags.values():
        any_flag = c if any_flag is None else (any_flag | c)
    agg = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(f"__h_{n}")
            for n, c in flags.items()
        ],
        F.sum(F.when(any_flag, 1).otherwise(0))
        .cast("long")
        .alias(f"__h_{any_label}"),
    )
    names = [*pats, any_label]
    out = agg.select(
        "group",
        "n_docs",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("pattern"),
                        F.col(f"__h_{n}").alias("n_hit"),
                    )
                    for n in names
                ]
            )
        ),
    )
    return out.select(
        "group",
        "pattern",
        "n_docs",
        "n_hit",
        F.round(
            F.when(
                F.col("n_docs") > 0,
                F.col("n_hit") / F.col("n_docs").cast("double"),
            ),
            6,
        ).alias("hit_rate"),
    ).orderBy("group", "pattern")


def distinct_ngram_diversity(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    ns: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Distinct-n diversity per source (Li et al. 2016,
    arXiv:1510.03055 §5's *distinct-1/distinct-2*, the standard text
    diversity metric): for each n-gram order, the number of DISTINCT
    n-grams over the TOTAL n-gram count. A source whose distinct ratio
    collapses is template-generated or boilerplate-dominated even when
    per-document repetition rules (Gopher §A1) pass — the repetition
    lives ACROSS documents, not within them.

    One row per (group, n)::

        group, n: bigint, total_ngrams: bigint
        distinct_ngrams: bigint, distinct_ratio: double (6 dp)

    Groups with no n-grams of an order (all docs shorter than n tokens)
    have no row for that order, mirroring the SQL twin's empty-unnest.

    Shape for scale: tokens are built once per order with pure array
    algebra (the tokenizer expression is inlined per order by Catalyst's
    projection collapse — |ns| regex splits per row, no shuffle), all
    orders tagged and exploded in ONE pass, then a two-stage aggregate:
    ``groupBy(group, n, gram).count`` (partial-aggregated — repeated
    grams combine map-side) feeding a tiny ``groupBy(group, n)``. Exact
    by design (the oracle demands it); at extreme scale swap stage one
    for ``approx_count_distinct`` on the same exploded frame — one less
    shuffle, bounded error. soda-core analogue: distinct/duplicate
    metrics (duplicate_count) lifted from rows to n-gram events."""
    if not ns or any(n < 1 for n in ns):
        raise ValueError(f"ns must be non-empty positive orders, got {ns}")

    toks = words_col(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    t = F.col("__toks")
    # NB: single-param lambdas via closure factories — a default-arg
    # lambda (lambda i, _n=n: ...) is seen by pyspark's transform as the
    # two-param (element, index) form and n silently becomes the index
    def _gram_at(n: int):
        return lambda i: F.concat_ws(" ", F.slice(t, i, n))

    def _tag(n: int):
        return lambda g: F.struct(
            F.lit(n).cast("long").alias("n"), g.alias("gram")
        )

    tagged = []
    for n in ns:
        # sequence(1, 0) descends (step -1 when start > stop): short docs
        # must yield [] here, not a slice-from-0 error (q129 convention)
        starts = F.when(
            F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - F.lit(n - 1))
        ).otherwise(F.array().cast("array<int>"))
        tagged.append(F.transform(F.transform(starts, _gram_at(n)), _tag(n)))
    events = (
        df.select(F.col(group_col).alias("group"), toks.alias("__toks"))
        .select("group", F.explode(F.concat(*tagged)).alias("e"))
        .select("group", F.col("e.n").alias("n"), F.col("e.gram").alias("gram"))
    )
    counts = events.groupBy("group", "n", "gram").agg(
        F.count(F.lit(1)).alias("__c")
    )
    return (
        counts.groupBy("group", "n")
        .agg(
            F.sum("__c").cast("long").alias("total_ngrams"),
            F.count(F.lit(1)).cast("long").alias("distinct_ngrams"),
        )
        .select(
            "group",
            "n",
            "total_ngrams",
            "distinct_ngrams",
            F.round(
                F.col("distinct_ngrams") / F.col("total_ngrams").cast("double"),
                6,
            ).alias("distinct_ratio"),
        )
        .orderBy("group", "n")
    )


#: invisible / format-control character classes, shared VERBATIM with
#: the SQL oracle. Non-ASCII classes embed RAW codepoints (both Java
#: regex and RE2 accept literal chars in classes — the one escape syntax
#: they agree on above 0xFF); the control class uses two-digit ``\xhh``
#: escapes, the shared sub-0xFF syntax. These are the corpus-poisoning
#: and copy-paste-artifact channels: bidi overrides reorder rendered
#: text against its logical order (Trojan Source, CVE-2021-42574),
#: zero-width chars hide watermarks/fingerprints and break tokenizers,
#: soft hyphens and NBSP variants split tokens invisibly.
INVISIBLE_CHAR_CLASSES: dict[str, str] = {
    "bidi_control": "[\u202a-\u202e\u2066-\u2069\u200e\u200f]",
    "zero_width": "[\u200b-\u200d\u2060\ufeff]",
    "soft_hyphen": "[\u00ad]",
    "nbsp_variant": "[\u00a0\u2007\u202f]",
    "c0_control": r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]",
}


def invisible_chars(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    classes: dict[str, str] | None = None,
) -> DataFrame:
    """Invisible-character audit per source: documents carrying bidi override
    controls, zero-width chars, soft hyphens, NBSP variants or
    raw C0 controls (see ``INVISIBLE_CHAR_CLASSES``) — the channels for
    Trojan-Source-style display spoofing, hidden watermarks and
    tokenizer-splitting artifacts that survive HTML extraction.

    One row per (group, class)::

        group, class, n_docs: bigint, n_docs_hit: bigint
        doc_rate: double (6 dp), total_occurrences: bigint

    NULL text counts as clean. Occurrences are counted by length delta
    after ``regexp_replace`` (every class is single-codepoint, so the
    delta IS the occurrence count).

    Scale shape: one fused map-side-combined aggregate — hit flags and
    length deltas are all column expressions over one corpus scan;
    ``inline`` unpivots per class. soda-core analogue: invalid_count
    with regex validity (invalid_check.py) as a multi-class report."""
    cls = classes if classes is not None else INVISIBLE_CHAR_CLASSES
    if not cls:
        raise ValueError("classes must be non-empty")
    t = F.coalesce(F.col(text_col), F.lit(""))
    agg = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            c
            for n, p in cls.items()
            for c in (
                F.sum(F.when(t.rlike(p), 1).otherwise(0))
                .cast("long")
                .alias(f"__h_{n}"),
                F.sum(F.length(t) - F.length(F.regexp_replace(t, p, "")))
                .cast("long")
                .alias(f"__o_{n}"),
            )
        ],
    )
    out = agg.select(
        "group",
        "n_docs",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("class"),
                        F.col(f"__h_{n}").alias("n_docs_hit"),
                        F.col(f"__o_{n}").alias("total_occurrences"),
                    )
                    for n in cls
                ]
            )
        ),
    )
    return out.select(
        "group",
        "class",
        "n_docs",
        "n_docs_hit",
        F.round(
            F.when(
                F.col("n_docs") > 0,
                F.col("n_docs_hit") / F.col("n_docs").cast("double"),
            ),
            6,
        ).alias("doc_rate"),
        "total_occurrences",
    ).orderBy("group", "class")


def pii_cooccurrence(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """PII co-occurrence / re-identification risk census: for every
    document, which scrub-rule PII types fire TOGETHER (detection via
    the same ``functions/scrub.py`` rule patterns the scrubber
    replaces), rolled up to one row per observed combination. A doc
    leaking an email alone is low risk; email + phone + SSN in one page
    is a re-identification record — exactly the tiering GDPR/HIPAA
    release reviews apply, and the prioritization signal for scrub QA
    sampling.

    One row per observed type combination::

        pii_types: string  ('none' or '+'-joined rule names, rule order)
        n_types: bigint, risk_tier: string (none|low|medium|high)
        n_docs: bigint

    Tiers: 0 types → none, 1 → low, 2 → medium, ≥3 → high.

    Scale shape: |rules| ``rlike`` flags per row (JVM-side, one corpus
    scan), combination key built with ``concat_ws`` over conditional
    names, then one partial-aggregated groupBy whose cardinality is
    bounded by 2^|rules|, not corpus size. The flags deliberately test
    each pattern INDEPENDENTLY (no replacement-order masking — the
    scrubber's ordered chain means an SSN is eaten before the phone
    rule sees it; the audit wants ground-truth presence per type).
    soda-core analogue: failed-rows condition checks
    (failed_rows_check.py) lifted to a combination census."""
    from soda_core_spark.functions.scrub import ALL_RULES

    t = F.coalesce(F.col(text_col), F.lit(""))
    flags = [(name, t.rlike(pat)) for name, pat, _repl in ALL_RULES]
    combo = F.concat_ws("+", *[F.when(c, F.lit(n)) for n, c in flags])
    n_types = None
    for _n, c in flags:
        term = F.when(c, 1).otherwise(0)
        n_types = term if n_types is None else (n_types + term)
    keyed = df.select(
        F.when(combo == "", "none").otherwise(combo).alias("pii_types"),
        n_types.cast("long").alias("n_types"),
    )
    tier = (
        F.when(F.col("n_types") == 0, "none")
        .when(F.col("n_types") == 1, "low")
        .when(F.col("n_types") == 2, "medium")
        .otherwise("high")
    )
    return (
        keyed.groupBy("pii_types", "n_types")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select("pii_types", "n_types", tier.alias("risk_tier"), "n_docs")
        .orderBy(F.col("n_types").desc(), "pii_types")
    )


def mann_whitney_groups(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
) -> DataFrame:
    """Exact tie-corrected Mann-Whitney U for every group against the
    rest of the corpus — the location-sensitive, binning-free
    complement to ``ks_drift``: which source's value distribution is
    stochastically shifted, with a z-score a contract threshold can
    gate on. ``auc`` is the common-language effect size
    P(value_group > value_rest) + ½P(tie) — 0.5 means no shift.

    One row per group::

        group, n, n_rest: bigint
        auc: double (6 dp)      -- U / (n · n_rest); NULL when n_rest=0
        z: double (6 dp)        -- tie-corrected normal approximation;
                                   NULL when every value is tied

    Determinism & exactness: ranks never materialize per row. At value
    grain, ``2·R_g = Σ_v c_g(v)·(2·C(<v) + c(v) + 1)`` — ALL INTEGER
    arithmetic (the ½-s from midranks cancel against the doubling), so
    both engines agree exactly; doubles appear only in the final
    auc/z division. Exact up to ~3·10⁹ rows per comparison before the
    2R term leaves int64 — size for per-increment audits, not the full
    10^12 corpus in one call (document trade: decimal aggregation or
    the plain normal approximation past that).

    Scale shape (the ks_drift discipline): corpus collapses FIRST to
    (group, value, count) grain through one partial-aggregated groupBy;
    the global cumulative-below counts run over the DISTINCT-VALUE
    frame only (single ordered window, bounded by value cardinality —
    quantize continuous signals first); one grain-level join + groupBy
    finishes. NULL values and NULL groups are excluded."""
    from pyspark.sql import Window

    vals = df.select(
        F.col(group_col).alias("group"), F.col(value_col).alias("v")
    ).where(F.col("v").isNotNull() & F.col("group").isNotNull())
    grain = vals.groupBy("group", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c_gv")
    )
    gtot = grain.groupBy("v").agg(F.sum("c_gv").alias("c_v"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = gtot.withColumn(
        "c_lt", F.coalesce(F.sum("c_v").over(w), F.lit(0))
    )
    per_group = (
        grain.join(cum, "v")
        .groupBy("group")
        .agg(
            F.sum("c_gv").cast("long").alias("n"),
            F.sum(
                F.col("c_gv")
                * (2 * F.col("c_lt") + F.col("c_v") + 1)
            ).cast("long").alias("__two_r"),
        )
    )
    totals = gtot.agg(
        F.sum("c_v").cast("long").alias("__N"),
        F.sum(
            F.col("c_v") * F.col("c_v") * F.col("c_v") - F.col("c_v")
        ).cast("long").alias("__T"),
    )
    j = per_group.crossJoin(F.broadcast(totals))
    n = F.col("n")
    n_rest = (F.col("__N") - n).cast("long")
    two_u = F.col("__two_r") - n * (n + 1)
    nn = (n * n_rest).cast("double")
    var = (
        nn
        / 12.0
        * (
            (F.col("__N") + 1).cast("double")
            - F.col("__T").cast("double")
            / (F.col("__N").cast("double") * (F.col("__N") - 1).cast("double"))
        )
    )
    auc = F.when(n_rest > 0, two_u.cast("double") / (2.0 * nn))
    z = F.when(
        (n_rest > 0) & (var > 0),
        (two_u.cast("double") - nn) / (2.0 * F.sqrt(var)),
    )
    return j.select(
        "group",
        "n",
        n_rest.alias("n_rest"),
        F.round(auc, 6).alias("auc"),
        F.round(z, 6).alias("z"),
    ).orderBy("group")


def functional_dependency_audit(
    df: DataFrame,
    determinant: str,
    dependent: str,
    max_examples: int = 5,
) -> DataFrame:
    """Does ``determinant -> dependent`` actually hold? The classic
    profiling question behind schema normalization and silent-join-bug
    hunts (a url that maps to two hosts, a doc_id with two languages,
    a source with inconsistent casing of itself). Reports the
    dependency's strength and the worst violating keys.

    One summary row (``kind = 'summary'``) plus up to ``max_examples``
    violation rows (``kind = 'violation'``)::

        kind, key: string        -- key NULL on the summary row
        n_keys, n_violating_keys: bigint
        n_distinct_dependent: bigint  -- summary: corpus-wide; violation
                                         rows: within that key
        strength: double (6 dp)  -- 1 - violating/keys (1.0 = FD holds)

    NULL determinants are excluded (no key to depend on); NULL
    dependents count as a distinct value (a key mapping to both 'en'
    and NULL is inconsistent — that is the finding).

    Scale shape: ONE map-side-combined groupBy to (determinant,
    distinct-dependent-count) via count(DISTINCT) per key — Spark
    plans it as two-level partial aggregation, no row ships twice —
    then a tiny reduce; examples via TakeOrdered (distributed top-k,
    no global sort). soda-core analogue: none — the reference's
    duplicate/validity checks cannot express cross-column dependency."""
    det = F.col(determinant)
    # NULL dependents participate as a sentinel distinct value
    dep = F.coalesce(
        F.col(dependent).cast("string"), F.lit("<null>")
    )
    per_key = (
        df.where(det.isNotNull())
        .groupBy(det.cast("string").alias("key"))
        .agg(F.countDistinct(dep).cast("long").alias("n_dep"))
    )
    summary = per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_violating_keys"),
        F.sum("n_dep").cast("long").alias("n_distinct_dependent"),
    ).select(
        F.lit("summary").alias("kind"),
        F.lit(None).cast("string").alias("key"),
        "n_keys",
        "n_violating_keys",
        "n_distinct_dependent",
        F.round(
            F.when(
                F.col("n_keys") > 0,
                F.lit(1.0)
                - F.col("n_violating_keys")
                / F.col("n_keys").cast("double"),
            ),
            6,
        ).alias("strength"),
    )
    viols = (
        per_key.where(F.col("n_dep") > 1)
        .orderBy(F.col("n_dep").desc(), F.col("key"))
        .limit(int(max_examples))
        .select(
            F.lit("violation").alias("kind"),
            "key",
            F.lit(None).cast("long").alias("n_keys"),
            F.lit(None).cast("long").alias("n_violating_keys"),
            F.col("n_dep").alias("n_distinct_dependent"),
            F.lit(None).cast("double").alias("strength"),
        )
    )
    return summary.unionAll(viols)


#: Benford expected first-digit probabilities log10(1 + 1/d), d = 1..9 —
#: shared verbatim with the SQL oracle.
BENFORD_P: tuple[float, ...] = tuple(
    __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)
)


def benford_audit(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    synthetic-data / fabricated-metrics tripwire: naturally occurring
    multi-scale positive quantities (prices, counts, durations) follow
    P(d) = log10(1 + 1/d), while generator bugs, unit mix-ups and
    hand-typed numbers don't. Flags via the mean absolute deviation
    (Nigrini's MAD: < 0.006 close, > 0.015 nonconformity) and the
    chi-square statistic.

    One row per digit 1-9::

        digit: int, n: bigint
        observed: double (6 dp), expected: double (6 dp)
        chi2_total: double (6 dp)  -- same on every row
        mad: double (6 dp)         -- same on every row

    Only finite values with |v| >= 1 participate (a first SIGNIFICANT
    digit of fractions below 1 needs per-row log scaling — documented
    subset keeps the extraction pure string arithmetic, identical on
    both engines: first char of the integral part of |v|). Empty
    digits (n = 0) still report with observed 0. Scale: one fused
    map-side-combined aggregate over a 9-way CASE; everything after is
    a 9-row frame."""
    v = F.col(value_col).cast("double")
    # upper bound keeps the decimal(38,0) cast total under ANSI mode
    ok = (
        v.isNotNull()
        & ~F.isnan(v)
        & (F.abs(v) >= 1.0)
        & (F.abs(v) < 1e37)
    )
    digit = F.substring(
        F.floor(F.abs(v)).cast("decimal(38,0)").cast("string"), 1, 1
    ).cast("int")
    base = df.where(ok).select(digit.alias("__d"))
    counts = base.groupBy("__d").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    digits = base.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("digit")
    )
    j = digits.join(
        counts, digits["digit"] == counts["__d"], "left"
    ).select("digit", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
    tot = j.agg(F.sum("n").alias("__N"))
    expected = F.array(*[F.lit(p) for p in BENFORD_P])[
        F.col("digit") - 1
    ]
    scored = j.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.when(
            F.col("__N") > 0, F.col("n") / F.col("__N").cast("double")
        ).alias("__obs"),
        expected.alias("__exp"),
        F.col("__N"),
    )
    stats = scored.agg(
        F.sum(
            (F.col("__obs") - F.col("__exp"))
            * (F.col("__obs") - F.col("__exp"))
            / F.col("__exp")
            * F.col("__N").cast("double")
        ).alias("__chi2"),
        F.avg(F.abs(F.col("__obs") - F.col("__exp"))).alias("__mad"),
    )
    return (
        scored.crossJoin(F.broadcast(stats))
        .select(
            "digit",
            "n",
            F.round("__obs", 6).alias("observed"),
            F.round("__exp", 6).alias("expected"),
            F.round("__chi2", 6).alias("chi2_total"),
            F.round("__mad", 6).alias("mad"),
        )
        .orderBy("digit")
    )


def event_transition_matrix(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral fingerprint of an event stream: a bot
    cohort shows near-deterministic rows, an instrumentation bug shows
    a transition that stops firing, a funnel regression shows
    purchase→error mass. Each user's events order by (ts, id) — the
    deterministic tiebreak — and every event contributes exactly one
    transition, to the '<end>' sink for the user's last event.

    One row per (from_type, to_type)::

        from_type, to_type: string   -- NULL types fold to '<null>'
        n: bigint
        prob: double (6 dp)          -- row-normalized: P(to | from)

    Rows with NULL user or ts are excluded (no sequence position).
    Scale shape: ONE hash exchange on user for the lead() window
    (per-user sequential is the semantics, users are the parallelism —
    the only correct partitioning for sequence ops), then transition
    counts collapse map-side to the |types|² grain and row totals ride
    a broadcast of that tiny frame. soda-core analogue: none — batch
    twin of a stateful streaming audit (SURVEY §2.5 extension)."""
    from pyspark.sql import Window

    base = df.where(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.coalesce(F.col(type_col).cast("string"), F.lit("<null>"))
        .alias("__t"),
    )
    w = Window.partitionBy("__u").orderBy("__ts", "__id")
    trans = base.select(
        F.col("__t").alias("from_type"),
        F.coalesce(F.lead("__t").over(w), F.lit("<end>"))
        .alias("to_type"),
    )
    counts = trans.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    totals = counts.groupBy("from_type").agg(
        F.sum("n").alias("__row_n")
    )
    return (
        counts.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(
                F.col("n") / F.col("__row_n").cast("double"), 6
            ).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


def interarrival_burstiness(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Inter-arrival-time dispersion per event type — the
    traffic-shape audit: a Poisson-ish human stream has burstiness
    B = (σ-μ)/(σ+μ) ≈ 0 and CV ≈ 1; schedulers/bots drive B toward -1
    (clockwork), retry storms and crawl traps drive B toward +1
    (Goh & Barabási 2008). Gaps are measured WITHIN each (user, type)
    sequence ordered by (ts, id) — cross-user gaps are meaningless.

    One row per event_type::

        event_type: string (NULL folds to '<null>')
        n_gaps: bigint
        mean_gap_s, std_gap_s: double (6 dp; std NULL when n_gaps < 2)
        cv: double (6 dp)           -- σ/μ; NULL when μ = 0
        burstiness: double (6 dp)   -- (σ-μ)/(σ+μ); NULL when σ+μ = 0

    Gaps are exact integer MICROSECONDS (unix_micros both engines) and
    convert to seconds as one double division per gap, so both engines
    aggregate identical values; population σ (q29 convention). Rows
    with NULL user/ts are excluded. Scale shape: one hash exchange on
    (user, type) for the lag window — users × types is the
    parallelism — then a map-side-combined |types|-row aggregate."""
    from pyspark.sql import Window

    base = df.where(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).alias("__u"),
        F.coalesce(F.col(type_col).cast("string"), F.lit("<null>"))
        .alias("__t"),
        # cast handles TIMESTAMP_NTZ parquet columns; session TZ is
        # pinned UTC so NTZ -> TZ is identity (and matches epoch_us)
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__us"),
        F.col(id_col).alias("__id"),
    )
    w = Window.partitionBy("__u", "__t").orderBy("__us", "__id")
    gaps = base.select(
        "__t",
        ((F.col("__us") - F.lag("__us").over(w)).cast("double") / 1e6)
        .alias("__gap"),
    ).where(F.col("__gap").isNotNull())
    agg = gaps.groupBy(F.col("__t").alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.avg("__gap").alias("__mu"),
        F.stddev_pop("__gap").alias("__sigma"),
    )
    mu, sigma = F.col("__mu"), F.col("__sigma")
    return agg.select(
        "event_type",
        "n_gaps",
        F.round(mu, 6).alias("mean_gap_s"),
        F.round(sigma, 6).alias("std_gap_s"),
        F.round(F.when(mu > 0, sigma / mu), 6).alias("cv"),
        F.round(
            F.when((sigma + mu) > 0, (sigma - mu) / (sigma + mu)), 6
        ).alias("burstiness"),
    ).orderBy("event_type")


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_offset: int | None = None,
) -> DataFrame:
    """Classic retention triangle over an event stream: users cohort by
    their FIRST active day, and each (cohort, day-offset) cell counts
    how many came back — the canonical health read for any
    crawl/user/producer population (a cohort whose retention cliff
    moved is a product or instrumentation change; for crawls, a host
    cohort that stops re-appearing is a dead feed).

    One row per (cohort_day, offset_days) with activity::

        cohort_day: date
        offset_days: int          -- 0 = the cohort's first day
        cohort_size: bigint       -- users whose first day = cohort_day
        n_active: bigint          -- cohort users active that day
        retention: double (6 dp)  -- n_active / cohort_size

    Rows with NULL user/ts are excluded; ``max_offset`` truncates the
    triangle (None = all offsets). offset-0 retention is 1.0 by
    construction — pinned in tests as the self-check.

    Scale shape: (user, day) activity grain first (map-side-combined
    distinct), first-day per user OFF THAT GRAIN (no second corpus
    scan), one key-grain join back, then the (cohort, offset) reduce —
    the shuffles carry activity grain and |users| rows, never raw
    events. soda-core analogue: none (longitudinal extension of
    freshness/row_count, SURVEY §2.5)."""
    base = df.where(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).alias("__u"),
        F.to_date(F.col(ts_col)).alias("__d"),
    )
    activity = base.distinct()
    first = activity.groupBy("__u").agg(F.min("__d").alias("cohort_day"))
    j = activity.join(first, "__u").select(
        "cohort_day",
        F.datediff(F.col("__d"), F.col("cohort_day")).alias("offset_days"),
        "__u",
    )
    if max_offset is not None:
        j = j.where(F.col("offset_days") <= int(max_offset))
    sizes = first.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    cells = j.groupBy("cohort_day", "offset_days").agg(
        F.countDistinct("__u").cast("long").alias("n_active")
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            F.col("offset_days").cast("int").alias("offset_days"),
            "cohort_size",
            "n_active",
            F.round(
                F.col("n_active") / F.col("cohort_size").cast("double"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_day", "offset_days")
    )


def correlation_matrix(
    df: DataFrame, cols: list[str]
) -> DataFrame:
    """Pairwise Pearson correlation of k numeric columns in ONE corpus
    pass — the numeric-profile companion to ``rule_overlap``'s boolean
    matrix: redundant metrics (|r| near 1) are dropped from dashboards,
    surprise decorrelations (price no longer tracks quantity) are
    regressions. Rows with a NULL/NaN in EITHER column of a pair are
    excluded pairwise (each pair keeps its own n).

    One row per unordered pair::

        col_a, col_b: string, n: bigint
        r: double (6 dp)   -- NULL when either variance is 0 or n < 2

    Scale shape: the whole matrix reduces through ONE partial
    aggregation to a single row of 6·k(k-1)/2 + k·... counters
    (pairwise n, Σx, Σy, Σxy, Σx², Σy²), then ``inline`` unpivots pairs
    driver-free — pair count widens the aggregate, never multiplies
    corpus passes (the q97/q155 execution contract, continuous case).
    """
    if len(cols) < 2:
        raise ValueError("need at least 2 columns")
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    def v(c):
        x = F.col(c).cast("double")
        return F.when(~F.isnan(x), x)  # NULL/NaN -> NULL

    aggs = []
    for a, b in pairs:
        x, y = v(a), v(b)
        both = x.isNotNull() & y.isNotNull()
        xb = F.when(both, x)
        yb = F.when(both, y)
        tag = f"{a}__{b}"
        aggs += [
            F.sum(F.when(both, 1).otherwise(0)).cast("long")
            .alias(f"__n_{tag}"),
            F.sum(xb).alias(f"__sx_{tag}"),
            F.sum(yb).alias(f"__sy_{tag}"),
            F.sum(xb * yb).alias(f"__sxy_{tag}"),
            F.sum(xb * xb).alias(f"__sxx_{tag}"),
            F.sum(yb * yb).alias(f"__syy_{tag}"),
        ]
    one = df.agg(*aggs)
    structs = []
    for a, b in pairs:
        tag = f"{a}__{b}"
        n = F.col(f"__n_{tag}").cast("double")
        sx, sy = F.col(f"__sx_{tag}"), F.col(f"__sy_{tag}")
        sxy = F.col(f"__sxy_{tag}")
        sxx, syy = F.col(f"__sxx_{tag}"), F.col(f"__syy_{tag}")
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        r = F.when(
            (F.col(f"__n_{tag}") >= 2) & (vx > 0) & (vy > 0),
            (n * sxy - sx * sy) / F.sqrt(vx * vy),
        )
        structs.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"__n_{tag}").alias("n"),
                F.round(r, 6).alias("r"),
            )
        )
    return one.select(F.inline(F.array(*structs))).orderBy(
        "col_a", "col_b"
    )


def mann_kendall_trend(
    daily: DataFrame, day_col: str, value_col: str
) -> DataFrame:
    """Mann-Kendall trend test + Theil-Sen slope over a (day, value)
    series — the nonparametric "is this metric actually drifting"
    answer for daily corpus counts/rates: no normality assumption, one
    outlier day cannot fake or hide a trend (the OLS failure q103's
    moving average inherits). Standard pairing in hydrology/monitoring
    (Mann 1945; Sen 1968).

    One row::

        n_days: bigint
        s_statistic: bigint        -- Σ sign(v_j - v_i), j later
        z: double (6 dp)           -- tie-corrected, continuity-adjusted
        theil_sen_slope: double    -- median pairwise slope per day,
                                      6 dp; NULL when < 2 days
        trend: string              -- increasing/decreasing/none at
                                      |z| > 1.96

    Input is the ALREADY-AGGREGATED daily frame (day: date, value:
    numeric — build it with one groupBy; NULL days/values excluded
    here). The pair enumeration is a self-join of that |days|-row
    frame — quadratic in DAYS, not rows (3 years of days = ~600k
    pairs, trivial), which is the honest cost of an exact rank test;
    S and the tie term are exact integers, so engines agree to the
    final division. soda-core analogue: metric_anomaly z-score
    (history.py) upgraded from point outliers to monotone drift."""
    base = daily.where(
        F.col(day_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(day_col).alias("__d"),
        F.col(value_col).cast("double").alias("__v"),
    )
    a = base.select(
        F.col("__d").alias("__d1"), F.col("__v").alias("__v1")
    )
    b = base.select(
        F.col("__d").alias("__d2"), F.col("__v").alias("__v2")
    )
    pairs = a.crossJoin(b).where(F.col("__d1") < F.col("__d2"))
    sgn = F.signum(F.col("__v2") - F.col("__v1")).cast("long")
    slope = (F.col("__v2") - F.col("__v1")) / F.datediff(
        F.col("__d2"), F.col("__d1")
    ).cast("double")
    ps = (
        pairs.select(sgn.alias("__sgn"), slope.alias("__slope"))
        .agg(
            F.coalesce(F.sum("__sgn"), F.lit(0)).cast("long")
            .alias("s_statistic"),
            F.expr("percentile(__slope, 0.5)").alias("__ts"),
        )
    )
    nd = base.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    ties = (
        base.groupBy("__v")
        .agg(F.count(F.lit(1)).alias("__t"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("__t") * (F.col("__t") - 1)
                    * (2 * F.col("__t") + 5)
                ),
                F.lit(0),
            ).cast("long").alias("__tie_term")
        )
    )
    j = nd.crossJoin(ties).crossJoin(ps)
    n = F.col("n_days")
    var = (
        (n * (n - 1) * (2 * n + 5) - F.col("__tie_term")).cast("double")
        / 18.0
    )
    s = F.col("s_statistic")
    z = F.when(
        var > 0,
        F.when(s > 0, (s - 1).cast("double") / F.sqrt(var))
        .when(s < 0, (s + 1).cast("double") / F.sqrt(var))
        .otherwise(F.lit(0.0)),
    )
    return j.select(
        "n_days",
        "s_statistic",
        F.round(z, 6).alias("z"),
        F.round(F.col("__ts"), 6).alias("theil_sen_slope"),
        F.when(z > 1.959963984540054, F.lit("increasing"))
        .when(z < -1.959963984540054, F.lit("decreasing"))
        .when(z.isNotNull(), F.lit("none"))
        .alias("trend"),
    )


def cusum_changepoint(
    daily: DataFrame, day_col: str, value_col: str
) -> DataFrame:
    """Offline CUSUM mean-shift changepoint over a (day, value) series
    (Page 1954; the Taylor change-in-mean formulation): WHERE did the
    level move — the localization companion to ``mann_kendall_trend``'s
    is-there-drift. S_i = Σ_{j<=i}(v_j - mean); the split lands at
    argmax |S_i| (earliest day on ties, deterministic).

    One row::

        n_days: bigint
        cp_day: string (ISO)     -- last day of the BEFORE segment;
                                    NULL when n_days < 2
        cusum_max: double (6 dp) -- max |S_i|
        mean_before, mean_after, shift: double (6 dp)
        cusum_score: double      -- max|S|/(σ·√n), 6 dp: > ~1.36
                                    suggests a real shift (KS-style
                                    threshold); NULL when σ = 0

    Input is the already-aggregated daily frame; NULL days/values are
    excluded. Scale shape: everything after the caller's daily groupBy
    runs on the |days|-row frame — one ordered cumsum window and a
    1-row reduce; exactness is float-sum over days (bounded, both
    engines agree at 6 dp)."""
    from pyspark.sql import Window

    base = daily.where(
        F.col(day_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(day_col).alias("__d"),
        F.col(value_col).cast("double").alias("__v"),
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.avg("__v").alias("__mu"),
        F.stddev_pop("__v").alias("__sd"),
    )
    w = Window.orderBy("__d").rowsBetween(Window.unboundedPreceding, 0)
    cum = base.crossJoin(F.broadcast(stats)).select(
        "__d",
        "__v",
        "n_days",
        "__mu",
        "__sd",
        F.sum(F.col("__v") - F.col("__mu")).over(w).alias("__s"),
    )
    # argmax |S| with earliest-day tiebreak via one ordered limit on the
    # tiny day frame
    best = cum.orderBy(
        F.abs(F.col("__s")).desc(), F.col("__d")
    ).limit(1).select(
        F.col("__d").alias("__cp"), F.abs(F.col("__s")).alias("__smax")
    )
    seg = cum.crossJoin(F.broadcast(best)).agg(
        F.avg(F.when(F.col("__d") <= F.col("__cp"), F.col("__v")))
        .alias("__mb"),
        F.avg(F.when(F.col("__d") > F.col("__cp"), F.col("__v")))
        .alias("__ma"),
    )
    out = stats.crossJoin(best).crossJoin(seg)
    score = F.when(
        (F.col("__sd") > 0) & (F.col("n_days") > 0),
        F.col("__smax")
        / (F.col("__sd") * F.sqrt(F.col("n_days").cast("double"))),
    )
    return out.select(
        "n_days",
        F.when(F.col("n_days") >= 2, F.col("__cp").cast("string"))
        .alias("cp_day"),
        F.round("__smax", 6).alias("cusum_max"),
        F.round("__mb", 6).alias("mean_before"),
        F.round("__ma", 6).alias("mean_after"),
        F.round(F.col("__ma") - F.col("__mb"), 6).alias("shift"),
        F.round(score, 6).alias("cusum_score"),
    )


def dow_seasonality(
    daily: DataFrame, day_col: str, value_col: str
) -> DataFrame:
    """Day-of-week seasonality profile of a daily series — the weekly
    rhythm audit: human-driven streams dip on weekends, schedulers
    don't; a vanished dip is a bot cohort, a new one is lost traffic.

    One row per ISO weekday (1 = Monday .. 7 = Sunday) that occurs::

        dow: int, n_days: bigint
        mean_value: double (6 dp)
        seasonal_index: double (6 dp) -- mean_dow / overall daily
                                         mean; 1 = no seasonality
        chi2_total: double (6 dp) -- Σ (tot_dow - exp_dow)²/exp_dow,
                                     exp proportional to day counts;
                                     repeated on every row

    Tiny-frame math after the caller's daily aggregate; NULL
    days/values excluded."""
    base = daily.where(
        F.col(day_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.dayofweek(F.col(day_col)).alias("__sun1"),
        F.col(value_col).cast("double").alias("__v"),
    )
    # dayofweek: 1=Sunday..7=Saturday -> ISO 1=Monday..7=Sunday
    iso = F.when(F.col("__sun1") == 1, 7).otherwise(F.col("__sun1") - 1)
    per = base.select(iso.alias("dow"), "__v").groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.avg("__v").alias("__mean"),
        F.sum("__v").alias("__tot"),
    )
    tot = per.agg(
        F.sum("__tot").alias("__gt"),
        F.sum("n_days").alias("__gd"),
    )
    j = per.crossJoin(F.broadcast(tot))
    chi = per.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            (F.col("__tot") - F.col("__gt") * F.col("n_days")
             / F.col("__gd").cast("double"))
            * (F.col("__tot") - F.col("__gt") * F.col("n_days")
               / F.col("__gd").cast("double"))
            / (F.col("__gt") * F.col("n_days")
               / F.col("__gd").cast("double"))
        ).alias("__chi2")
    )
    overall = F.col("__gt") / F.col("__gd").cast("double")
    return (
        j.crossJoin(F.broadcast(chi))
        .select(
            F.col("dow").cast("int").alias("dow"),
            "n_days",
            F.round("__mean", 6).alias("mean_value"),
            F.round(F.col("__mean") / overall, 6)
            .alias("seasonal_index"),
            F.round("__chi2", 6).alias("chi2_total"),
        )
        .orderBy("dow")
    )


def runs_test(
    daily: DataFrame, day_col: str, value_col: str
) -> DataFrame:
    """Wald-Wolfowitz runs test around the median — the randomness
    audit for a daily metric: too FEW runs means sticky regimes
    (autocorrelation, weekly cycles, level shifts), too MANY means
    oscillation (retry ping-pong, alternating load balancers). Values
    EQUAL to the median drop (the standard convention).

    One row::

        n_days, n_above, n_below, n_runs: bigint
        expected_runs: double (6 dp)
        z: double (6 dp)          -- NULL when either side is empty or
                                     variance degenerates

    Exact-integer run counting over the ordered tiny day frame (one
    lag window); the median is the exact interpolated percentile (q25
    convention)."""
    from pyspark.sql import Window

    base = daily.where(
        F.col(day_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(day_col).alias("__d"),
        F.col(value_col).cast("double").alias("__v"),
    )
    med = base.agg(F.expr("percentile(__v, 0.5)").alias("__med"))
    signed = (
        base.crossJoin(F.broadcast(med))
        .where(F.col("__v") != F.col("__med"))
        .select(
            "__d",
            (F.col("__v") > F.col("__med")).cast("int").alias("__s"),
        )
    )
    w = Window.orderBy("__d")
    runs = signed.select(
        "__s",
        F.when(
            F.lag("__s").over(w).isNull()
            | (F.lag("__s").over(w) != F.col("__s")),
            1,
        ).otherwise(0).alias("__new_run"),
    )
    agg = runs.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("__s").cast("long").alias("n_above"),
        F.sum(F.lit(1) - F.col("__s")).cast("long").alias("n_below"),
        F.coalesce(F.sum("__new_run"), F.lit(0)).cast("long")
        .alias("n_runs"),
    )
    n1, n2, r = F.col("n_above"), F.col("n_below"), F.col("n_runs")
    nn = (n1 + n2).cast("double")
    er = 2.0 * n1 * n2 / nn + 1.0
    vr = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / (nn * nn * (nn - 1.0))
    )
    ok = (n1 > 0) & (n2 > 0) & ((n1 + n2) > 1)
    return agg.select(
        "n_days",
        "n_above",
        "n_below",
        "n_runs",
        F.round(F.when(ok, er), 6).alias("expected_runs"),
        F.round(
            F.when(ok & (vr > 0), (r.cast("double") - er) / F.sqrt(vr)), 6
        ).alias("z"),
    )


def truncation_artifacts(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Truncation-artifact audit per source: how much of a source's
    text was CUT, not written — the extraction-pipeline regression
    every cap/preview/db-column bug produces. Three independent
    signals (a doc can fire several)::

        group, n_docs: bigint
        n_midsentence: bigint     -- non-empty text whose last char is
                                     not terminal punctuation
                                     (functions.text.TERMINAL_PUNCT)
        n_marker: bigint          -- carries a truncation marker
                                     ('read more', '…', '[...]', ...)
        n_at_cap: bigint          -- length EXACTLY at a round cap
                                     (255/256/500/512/1000/1024/2048)
        midsentence_rate, marker_rate, at_cap_rate: double (6 dp)

    mid-sentence alone is noisy (headlines legitimately lack periods);
    a SOURCE-level rate jump, or rate × at-cap agreement, is the
    finding. NULL/empty text is excluded from every numerator and from
    n_docs (nothing to truncate). One fused map-side-combined
    aggregate; constants shared verbatim with the oracle."""
    from soda_core_spark.functions.text import (
        TERMINAL_PUNCT,
        TRUNCATION_CAPS,
        TRUNCATION_MARKERS,
    )

    t = F.col(text_col)
    # regexp trim, not rtrim: rtrim strips only ASCII space on both
    # engines, and trailing newlines must not read as mid-sentence
    trimmed = F.regexp_replace(
        F.coalesce(t, F.lit("")), "[ \t\n\r]+$", ""
    )
    nonempty = F.length(trimmed) > 0
    last = F.substring(trimmed, -1, 1)
    mids = nonempty & ~last.isin(*list(TERMINAL_PUNCT))
    low = F.lower(trimmed)
    marker = nonempty & F.lit(False)
    for m in TRUNCATION_MARKERS:
        marker = marker | (nonempty & low.contains(m.lower()))
    at_cap = nonempty & F.length(t).isin(*TRUNCATION_CAPS)
    agg = (
        df.where(nonempty)
        .groupBy(F.col(group_col).alias("group"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(mids, 1).otherwise(0)).cast("long")
            .alias("n_midsentence"),
            F.sum(F.when(marker, 1).otherwise(0)).cast("long")
            .alias("n_marker"),
            F.sum(F.when(at_cap, 1).otherwise(0)).cast("long")
            .alias("n_at_cap"),
        )
    )
    rate = lambda c: F.round(  # noqa: E731
        F.col(c) / F.col("n_docs").cast("double"), 6
    )
    return agg.select(
        "group",
        "n_docs",
        "n_midsentence",
        "n_marker",
        "n_at_cap",
        rate("n_midsentence").alias("midsentence_rate"),
        rate("n_marker").alias("marker_rate"),
        rate("n_at_cap").alias("at_cap_rate"),
    ).orderBy("group")


def soft_error_pages(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    id_col: str = "doc_id",
    max_examples: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """Soft-error-page detection: documents that arrived with an HTTP
    200 but are error SHELLS — 'page not found', consent/robot walls,
    login gates (functions.text.SOFT_ERROR_PHRASES, lowercased
    substring match). These poison training data silently: they pass
    length and language checks while carrying zero content, and a
    host whose soft-error rate jumps has broken its serving, not its
    writing.

    Returns ``(rates, examples)``::

        rates:    group, n_docs, n_soft_error, soft_error_rate (6 dp)
        examples: group, doc_id, phrase   -- first matching phrase per
                  flagged doc, ≤ max_examples per group (min doc_id
                  order, deterministic)

    Scale shape: ONE fused aggregate for the rates; the example path
    filters FIRST (soft errors are rare, the filtered frame is tiny)
    then takes a per-group WindowGroupLimit via row_number ≤ k —
    Spark pushes the limit map-side, no giant group materializes.
    NULL text is clean. soda-core analogue: invalid_count with a
    regex list, upgraded to a corpus report + diagnostics sample."""
    from pyspark.sql import Window

    from soda_core_spark.functions.text import SOFT_ERROR_PHRASES

    low = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    flags = [
        (p, low.contains(p)) for p in SOFT_ERROR_PHRASES
    ]
    any_flag = None
    for _, c in flags:
        any_flag = c if any_flag is None else (any_flag | c)
    rates = (
        df.groupBy(F.col(group_col).alias("group"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(any_flag, 1).otherwise(0)).cast("long")
            .alias("n_soft_error"),
        )
        .select(
            "group",
            "n_docs",
            "n_soft_error",
            F.round(
                F.col("n_soft_error") / F.col("n_docs").cast("double"), 6
            ).alias("soft_error_rate"),
        )
        .orderBy("group")
    )
    phrase = F.lit(None).cast("string")
    for p, c in reversed(flags):
        phrase = F.when(c, F.lit(p)).otherwise(phrase)
    flagged = df.where(any_flag).select(
        F.col(group_col).alias("group"),
        F.col(id_col).alias("doc_id"),
        phrase.alias("phrase"),
    )
    w = Window.partitionBy("group").orderBy("doc_id")
    examples = (
        flagged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= int(max_examples))
        .drop("__rn")
        .orderBy("group", "doc_id")
    )
    return rates, examples


def distinctive_tokens(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    alpha: float = 0.01,
    top_k: int = 10,
    min_count: int = 5,
) -> DataFrame:
    """Distinctive vocabulary per group — Monroe, Colaresi & Quinn 2008
    ("Fightin' Words") log-odds with an informative Dirichlet prior:
    WHICH tokens make this source sound like itself vs the rest of the
    corpus, variance-stabilized so rare tokens can't fake distinction
    (the failure of raw tf-idf/PMI lists). The content-drift
    companion to q135's distribution-level JSD.

    Per (group, token), top ``top_k`` by |z| per group::

        group, token: string
        n_group, n_rest: bigint     -- token count in group / elsewhere
        log_odds: double (6 dp)     -- prior-smoothed delta
        z: double (6 dp)            -- log_odds / sqrt(approx var)
        rank: int                   -- 1 = most distinctive

    Prior: alpha₀ = alpha · corpus count per token (the corpus itself
    is the informative prior, the paper's recommended instantiation).
    Tokens below ``min_count`` corpus occurrences are dropped (noise
    floor). Tokens are lowercased whitespace words (q142 convention).

    Scale shape: ONE (group, token) groupBy with map-side combine is
    the only vocabulary-wide shuffle; corpus totals re-aggregate FROM
    that grain; the z computation is column algebra on the grain and
    the per-group top-k is a WindowGroupLimit (rank pushes map-side),
    never a global sort."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(group_col).alias("group"),
        F.explode(_ws_tokens(text_col)).alias("token"),
    )
    grain = toks.groupBy("group", "token").agg(
        F.count(F.lit(1)).cast("long").alias("n_group")
    )
    tok_tot = grain.groupBy("token").agg(
        F.sum("n_group").alias("n_tok")
    ).where(F.col("n_tok") >= int(min_count))
    grp_tot = grain.groupBy("group").agg(F.sum("n_group").alias("n_g"))
    all_tot = tok_tot.agg(F.sum("n_tok").alias("n_all"))
    j = (
        grain.join(tok_tot, "token")
        .join(F.broadcast(grp_tot), "group")
        .crossJoin(F.broadcast(all_tot))
    )
    y_i = F.col("n_group").cast("double")
    y_rest = (F.col("n_tok") - F.col("n_group")).cast("double")
    # informative prior: alpha_w proportional to corpus counts, and
    # alpha_0 = sum_w alpha_w = alpha * n_all on BOTH sides (the
    # paper's instantiation — the prior is the corpus itself)
    a_w = F.lit(float(alpha)) * F.col("n_tok").cast("double")
    a_0 = F.lit(float(alpha)) * F.col("n_all").cast("double")
    n_g = F.col("n_g").cast("double")
    n_r = (F.col("n_all") - F.col("n_g")).cast("double")
    lo = (
        F.log((y_i + a_w) / (n_g + a_0 - y_i - a_w))
        - F.log((y_rest + a_w) / (n_r + a_0 - y_rest - a_w))
    )
    var = 1.0 / (y_i + a_w) + 1.0 / (y_rest + a_w)
    z = lo / F.sqrt(var)
    scored = j.select(
        "group",
        "token",
        F.col("n_group"),
        (F.col("n_tok") - F.col("n_group")).cast("long").alias("n_rest"),
        F.round(lo, 6).alias("log_odds"),
        F.round(z, 6).alias("z"),
        z.alias("__z_raw"),
    )
    w = Window.partitionBy("group").orderBy(
        F.abs(F.col("__z_raw")).desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(top_k))
        .drop("__z_raw")
        .withColumn("rank", F.col("rank").cast("int"))
        .orderBy("group", "rank")
    )


#: semantic-type patterns for string-column inference — anchored, in
#: the Java-regex ∩ RE2 subset, shared verbatim with SQL oracles.
#: Order matters: first match wins (int before float before date...).
SEMANTIC_TYPE_PATTERNS: tuple[tuple[str, str], ...] = (
    ("int", r"^[+-]?[0-9]+$"),
    ("float", r"^[+-]?([0-9]+\.[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$"),
    ("date", r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
    ("timestamp",
     r"^[0-9]{4}-[0-9]{2}-[0-9]{2}[ T][0-9]{2}:[0-9]{2}:[0-9]{2}"),
    ("bool", r"^(true|false|TRUE|FALSE|True|False)$"),
    ("uuid",
     r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
     r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"),
    ("empty", r"^[ \t]*$"),
)


def semantic_type_inference(
    df: DataFrame, cols: list[str]
) -> DataFrame:
    """What type does each string column ACTUALLY hold? The schema-
    review profiling staple: a 'string' column that is 99.8% int-like
    wants a cast (and its 0.2% wants a failed-rows audit); a column
    drifting from date-like to timestamp-like means an upstream format
    change. First matching pattern in ``SEMANTIC_TYPE_PATTERNS`` wins;
    non-matching non-NULL values report as ``other``; NULLs are
    counted separately.

    One row per (column, inferred_type) with n > 0::

        column, inferred_type: string
        n: bigint, share: double (6 dp, of non-NULL values)

    plus one ``inferred_type = '<null>'`` row per column when NULLs
    exist (share NULL — NULLs are outside the typed population).

    Scale shape: ONE fused map-side-combined aggregate computes every
    (column × type) counter in a single corpus pass; ``inline``
    unpivots. Patterns shared verbatim with the oracle."""
    if not cols:
        raise ValueError("cols must be non-empty")
    type_names = [t for t, _ in SEMANTIC_TYPE_PATTERNS] + ["other"]

    def typed(c):
        s = F.col(c).cast("string")
        out = F.when(s.isNull(), F.lit("<null>"))
        for name, pat in SEMANTIC_TYPE_PATTERNS:
            out = out.when(s.rlike(pat), F.lit(name))
        return out.otherwise(F.lit("other"))

    aggs = []
    for c in cols:
        tcol = typed(c)
        for t in [*type_names, "<null>"]:
            aggs.append(
                F.sum(F.when(tcol == t, 1).otherwise(0))
                .cast("long")
                .alias(f"__n_{c}__{t}")
            )
        aggs.append(
            F.sum(F.when(F.col(c).isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"__nn_{c}")
        )
    one = df.agg(*aggs)
    structs = []
    for c in cols:
        for t in [*type_names, "<null>"]:
            structs.append(
                F.struct(
                    F.lit(c).alias("column"),
                    F.lit(t).alias("inferred_type"),
                    F.col(f"__n_{c}__{t}").alias("n"),
                    F.when(
                        (F.lit(t) != "<null>") & (F.col(f"__nn_{c}") > 0),
                        F.round(
                            F.col(f"__n_{c}__{t}")
                            / F.col(f"__nn_{c}").cast("double"),
                            6,
                        ),
                    ).alias("share"),
                )
            )
    return (
        one.select(F.inline(F.array(*structs)))
        .where(F.col("n") > 0)
        .orderBy("column", "inferred_type")
    )


def primary_key_candidates(df: DataFrame, cols: list[str]) -> DataFrame:
    """Single-column primary-key candidacy audit: which columns are
    NULL-free and fully distinct — the first question of every schema
    review and the input the reference's schema check takes on faith
    from metadata (sources/tables.py PK introspection reads what the
    catalog CLAIMS; this MEASURES it).

    One row per column::

        column: string, n_rows, n_nonnull, n_distinct: bigint
        uniqueness: double (6 dp)  -- n_distinct / n_nonnull
        is_pk_candidate: boolean   -- NULL-free AND fully distinct

    Scale shape: exact count(DISTINCT col) per column in ONE
    aggregate — Spark plans multi-distinct via expand (k× row
    amplification inside the partial aggregate, no extra scan);
    for hundreds of columns or 10^12 rows swap approx_count_distinct
    per the documented trade. NULL counts ride the same pass."""
    if not cols:
        raise ValueError("cols must be non-empty")
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"__nn_{c}")
        )
        aggs.append(
            F.countDistinct(F.col(c)).cast("long").alias(f"__nd_{c}")
        )
    one = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"__nn_{c}").alias("n_nonnull"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            F.when(
                F.col(f"__nn_{c}") > 0,
                F.round(
                    F.col(f"__nd_{c}")
                    / F.col(f"__nn_{c}").cast("double"),
                    6,
                ),
            ).alias("uniqueness"),
            (
                (F.col(f"__nn_{c}") == F.col("__n"))
                & (F.col(f"__nd_{c}") == F.col("__n"))
                & (F.col("__n") > 0)
            ).alias("is_pk_candidate"),
        )
        for c in cols
    ]
    return one.select(F.inline(F.array(*structs))).orderBy("column")


def missingness_structure(
    df: DataFrame, cols: list[str]
) -> DataFrame:
    """Do columns go NULL TOGETHER? Pairwise φ (Pearson on the 0/1
    null indicators) plus per-column null rates — the missingness-
    structure read behind MCAR/MAR judgments: φ near 1 means one
    upstream join/stage nulls a whole column group at once (fix the
    stage, not the columns); φ near 0 means independent sparse
    missingness (impute/accept per column).

    One row per unordered pair::

        col_a, col_b: string, n: bigint
        null_rate_a, null_rate_b: double (6 dp)
        phi: double (6 dp)   -- NULL when either indicator is constant

    Scale shape: delegates to ``correlation_matrix`` over the
    indicator projection — ONE partial aggregation for every pair —
    plus one tiny rate aggregate off the same scan shape. NaN counts
    as missing for float columns (the usual sentinel abuse)."""
    if len(cols) < 2:
        raise ValueError("need at least 2 columns")

    def ind(c):
        x = F.col(c)
        miss = x.isNull()
        # NaN-aware only for types where isnan applies
        if dict(df.dtypes).get(c) in ("float", "double"):
            miss = miss | F.isnan(x)
        return miss.cast("int").alias(c)

    indicators = df.select(*[ind(c) for c in cols])
    pairs = correlation_matrix(indicators, cols).withColumnRenamed(
        "r", "phi"
    )
    rates = indicators.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(F.col(c)).alias(f"__m_{c}") for c in cols],
    )
    rate_structs = F.create_map(
        *[
            x
            for c in cols
            for x in (
                F.lit(c),
                F.round(
                    F.col(f"__m_{c}") / F.col("__n").cast("double"), 6
                ),
            )
        ]
    ).alias("__rates")
    r = rates.select(rate_structs)
    return (
        pairs.crossJoin(F.broadcast(r))
        .select(
            "col_a",
            "col_b",
            "n",
            F.col("__rates")[F.col("col_a")].alias("null_rate_a"),
            F.col("__rates")[F.col("col_b")].alias("null_rate_b"),
            "phi",
        )
        .orderBy("col_a", "col_b")
    )


def hapax_share_per_doc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_share: float = 0.0,
) -> DataFrame:
    """Per-document share of CORPUS-hapax tokens — the doc-level
    novelty/gibberish signal: a document whose tokens are mostly words
    the entire corpus has seen exactly once is either genuinely novel
    (rare, keep) or machine noise / mojibake / an ID dump (common,
    drop); either way it is exactly the document a reviewer wants
    ranked first. The doc-level drilldown of q162's corpus-level
    unseen mass.

    One row per doc with n_tokens > 0 and share >= ``min_share``::

        doc_id, n_tokens, n_hapax: bigint
        hapax_share: double (6 dp)

    Scale shape: ONE vocabulary groupBy builds global counts; the
    hapax set (freq = 1) joins back onto the exploded tokens as a
    grain-level join (hapax tokens by definition appear ONCE, so that
    join's output is bounded by |hapax| rows — no fan-out is
    possible), then a per-doc reduce. Token totals per doc ride the
    explode before the join."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_ws_tokens(text_col)).alias("__tok"),
    )
    totals = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    hapax = (
        toks.groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") == 1)
        .select("__tok")
    )
    per_doc = (
        toks.join(hapax, "__tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hapax"))
    )
    return (
        totals.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_hapax"), F.lit(0)).cast("long")
            .alias("n_hapax"),
            F.round(
                F.coalesce(F.col("n_hapax"), F.lit(0))
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("hapax_share"),
        )
        .where(F.col("hapax_share") >= float(min_share))
        .orderBy("doc_id")
    )


def signal_drift_panel(
    df: DataFrame,
    signals: dict[str, Column],
    split: Column,
) -> DataFrame:
    """Every quality signal's drift between two cohorts in ONE corpus
    scan — the release-gate panel: cohort A vs B (old/new extractor,
    yesterday/today, control/treatment split), per signal the exact
    two-sample KS statistic and the mean shift. One query answers
    "which of my twelve signals moved" instead of twelve.

    One row per signal::

        signal: string
        n_a, n_b: bigint
        mean_a, mean_b, mean_shift: double (6 dp)
        ks: double (6 dp)    -- exact sup-gap of the two ECDFs; NULL
                                when either cohort is empty

    ``split`` is any boolean Column (true = cohort B); NULL split or
    NULL signal values are excluded per signal. Scale shape (the
    ks_drift grain trick, stacked): the scan melts all signals to
    (signal, value, cohort-counts) long form, ONE map-side-combined
    groupBy collapses to value grain, and both the means and the KS
    cumsum run on that grain — the ECDF window is partitioned BY
    SIGNAL and bounded by per-signal value cardinality (quantize
    continuous signals first, the q165 caveat)."""
    if not signals:
        raise ValueError("signals must be non-empty")
    names = list(signals)
    sel = df.where(split.isNotNull()).select(
        split.alias("__b"),
        *[c.cast("double").alias(n) for n, c in signals.items()],
    )
    stack_args = ", ".join(f"'{n}', `{n}`" for n in names)
    long = sel.select(
        "__b",
        F.expr(f"stack({len(names)}, {stack_args})").alias(
            "__sig", "__val"
        ),
    ).where(F.col("__val").isNotNull() & ~F.isnan(F.col("__val")))
    grain = long.groupBy("__sig", "__val").agg(
        F.sum(F.when(~F.col("__b"), 1).otherwise(0)).alias("__ca"),
        F.sum(F.when(F.col("__b"), 1).otherwise(0)).alias("__cb"),
    )
    totals = grain.groupBy("__sig").agg(
        F.sum("__ca").cast("long").alias("n_a"),
        F.sum("__cb").cast("long").alias("n_b"),
        F.sum(F.col("__val") * F.col("__ca")).alias("__sa"),
        F.sum(F.col("__val") * F.col("__cb")).alias("__sb"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("__sig")
        .orderBy("__val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    gaps = (
        grain.join(F.broadcast(totals.select("__sig", "n_a", "n_b")),
                   "__sig")
        .withColumn(
            "__gap",
            F.abs(
                F.sum("__ca").over(w) / F.col("n_a").cast("double")
                - F.sum("__cb").over(w) / F.col("n_b").cast("double")
            ),
        )
        .groupBy("__sig")
        .agg(F.max("__gap").alias("__ks"))
    )
    mean_a = F.col("__sa") / F.col("n_a").cast("double")
    mean_b = F.col("__sb") / F.col("n_b").cast("double")
    return (
        totals.join(gaps, "__sig")
        .select(
            F.col("__sig").alias("signal"),
            "n_a",
            "n_b",
            F.round(F.when(F.col("n_a") > 0, mean_a), 6).alias("mean_a"),
            F.round(F.when(F.col("n_b") > 0, mean_b), 6).alias("mean_b"),
            F.round(
                F.when((F.col("n_a") > 0) & (F.col("n_b") > 0),
                       mean_b - mean_a),
                6,
            ).alias("mean_shift"),
            F.round(
                F.when((F.col("n_a") > 0) & (F.col("n_b") > 0),
                       F.col("__ks")),
                6,
            ).alias("ks"),
        )
        .orderBy("signal")
    )


def language_mix(
    df: DataFrame,
    lang_col: str = "lang",
    group_col: str = "source",
) -> DataFrame:
    """Language-mix profile per source: Shannon entropy and effective
    language count of each source's declared-language distribution —
    the mixture companion to q127's host-concentration HHI: a "German
    news" source whose effective-language count drifts from 1.0 to 2.5
    changed its crawl scope (or its language tagger broke, cross-check
    q105's declared-vs-detected mismatch).

    One row per (source) with docs::

        group: string, n_docs: bigint
        n_langs: bigint            -- distinct declared languages
        top_lang: string           -- modal language (ties: lexical min)
        top_share: double (6 dp)
        lang_entropy: double (6 dp, nats)
        effective_langs: double (6 dp) -- exp(entropy), 1 = monolingual

    NULL lang folds to '<null>' (unattributed docs are part of the mix
    — a rising '<null>' share IS drift). Scale shape: one map-side-
    combined (source, lang) groupBy; entropy and the mode reduce the
    |sources × langs| grain (max_by for the mode — no window)."""
    lang = F.coalesce(F.col(lang_col).cast("string"), F.lit("<null>"))
    grain = df.groupBy(
        F.col(group_col).alias("group"), lang.alias("__lang")
    ).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    tot = grain.groupBy("group").agg(
        F.sum("__n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        # mode with deterministic lexical-min tiebreak, portable to any
        # engine's arg_min(VARCHAR, VARCHAR): a sortable string key
        # '(10^12 - n, zero-padded)|lang' — min = highest count, then
        # lexically smallest language
        F.min_by(
            F.col("__lang"),
            F.concat(
                F.lpad(
                    (F.lit(10**12) - F.col("__n")).cast("string"),
                    13,
                    "0",
                ),
                F.lit("|"),
                F.col("__lang"),
            ),
        ).alias("top_lang"),
        F.max("__n").cast("long").alias("__top_n"),
    )
    ent = (
        grain.join(F.broadcast(tot.select("group", "n_docs")), "group")
        .groupBy("group")
        .agg(
            F.sum(
                -(F.col("__n") / F.col("n_docs").cast("double"))
                * F.log(F.col("__n") / F.col("n_docs").cast("double"))
            ).alias("__h")
        )
    )
    return (
        tot.join(ent, "group")
        .select(
            "group",
            "n_docs",
            "n_langs",
            "top_lang",
            F.round(
                F.col("__top_n") / F.col("n_docs").cast("double"), 6
            ).alias("top_share"),
            F.round("__h", 6).alias("lang_entropy"),
            F.round(F.exp("__h"), 6).alias("effective_langs"),
        )
        .orderBy("group")
    )


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str | None = None,
    ks: tuple[int, ...] = (2, 5, 10),
) -> DataFrame:
    """k-anonymity / l-diversity audit over quasi-identifier columns
    (Sweeney 2002; Machanavajjhala et al. 2007) — the re-identification
    read a training-data release needs: a row whose quasi-identifier
    combination is shared by fewer than k rows is linkable, and a
    class whose sensitive values are uniform leaks even when k holds.
    NULLs count as ordinary values (a NULL pattern is itself
    identifying).

    One summary row::

        n_rows, n_classes, min_class_size: bigint
        share_below_k{k}: double (6 dp) per requested k — fraction of
            ROWS in classes smaller than k (0 = k-anonymous)
        min_l_diversity: bigint   -- min distinct sensitive values per
            class (NULL when no sensitive_col)
        mean_l_diversity: double (6 dp; NULL when no sensitive_col)

    Scale shape: ONE map-side-combined groupBy to the equivalence-
    class grain (quasi columns; + count distinct sensitive inside the
    same aggregate), then a single grain-level reduce. The class count
    is the privacy-utility dial: more quasi columns → smaller classes
    → worse shares; this reports, the release decision is the
    caller's. soda-core analogue: none — the compliance layer above
    duplicate/missing checks."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    aggs = [F.count(F.lit(1)).cast("long").alias("__size")]
    if sensitive_col is not None:
        aggs.append(
            F.countDistinct(
                F.coalesce(
                    F.col(sensitive_col).cast("string"), F.lit("<null>")
                )
            ).cast("long").alias("__l")
        )
    classes = df.groupBy(
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("<null>")).alias(c)
            for c in quasi_cols
        ]
    ).agg(*aggs)
    out_aggs = [
        F.coalesce(F.sum("__size"), F.lit(0)).cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("__size").cast("long").alias("min_class_size"),
    ]
    for k in ks:
        out_aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("__size") < int(k), F.col("__size"))),
                F.lit(0),
            ).cast("long").alias(f"__below_{k}")
        )
    if sensitive_col is not None:
        out_aggs.append(F.min("__l").cast("long").alias("min_l_diversity"))
        out_aggs.append(F.round(F.avg("__l"), 6).alias("mean_l_diversity"))
    summary = classes.agg(*out_aggs)
    shares = [
        F.round(
            F.when(
                F.col("n_rows") > 0,
                F.col(f"__below_{k}") / F.col("n_rows").cast("double"),
            ),
            6,
        ).alias(f"share_below_k{k}")
        for k in ks
    ]
    cols = ["n_rows", "n_classes", "min_class_size", *shares]
    if sensitive_col is not None:
        cols += ["min_l_diversity", "mean_l_diversity"]
    else:
        cols += [
            F.lit(None).cast("long").alias("min_l_diversity"),
            F.lit(None).cast("double").alias("mean_l_diversity"),
        ]
    return summary.select(*cols)


def uncertainty_coefficient(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Theil's uncertainty coefficient U between two categorical
    columns, BOTH directions — the graded, asymmetric version of the
    functional-dependency audit: U(B|A) = (H(B) - H(B|A)) / H(B) is
    the fraction of B's uncertainty that knowing A removes (1 = A
    determines B, 0 = independent), and U(A|B) ≠ U(B|A) tells you
    WHICH WAY the dependency runs — the question φ/Cramér's V cannot
    answer and `functional_dependency_audit`'s binary verdict only
    bounds.

    One row::

        col_a, col_b: string, n: bigint
        n_a, n_b: bigint            -- distinct values (NULL folded to
                                       '<null>' — a value, not a drop)
        h_a, h_b: double (6 dp)     -- marginal entropies (nats)
        u_b_given_a: double (6 dp)  -- NULL when H(B) = 0
        u_a_given_b: double (6 dp)  -- NULL when H(A) = 0

    Scale shape: ONE map-side-combined groupBy to the (a, b)
    contingency grain; marginals re-aggregate from that grain; every
    entropy is a grain-level sum. Mutual information is computed once
    (I = H(A) + H(B) - H(A,B)) and reused for both directions."""
    a = F.coalesce(F.col(col_a).cast("string"), F.lit("<null>"))
    b = F.coalesce(F.col(col_b).cast("string"), F.lit("<null>"))
    grain = df.groupBy(a.alias("__a"), b.alias("__b")).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    tot = grain.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n")
    )

    def entropy(keyed, name):
        return (
            keyed.crossJoin(F.broadcast(tot))
            .agg(
                F.coalesce(
                    F.sum(
                        -(F.col("__m") / F.col("n").cast("double"))
                        * F.log(F.col("__m") / F.col("n").cast("double"))
                    ),
                    F.lit(0.0),
                ).alias(name)
            )
        )

    ha = entropy(
        grain.groupBy("__a").agg(F.sum("__n").alias("__m")), "__ha"
    )
    hb = entropy(
        grain.groupBy("__b").agg(F.sum("__n").alias("__m")), "__hb"
    )
    hab = entropy(grain.select(F.col("__n").alias("__m")), "__hab")
    counts = grain.agg(
        F.countDistinct("__a").cast("long").alias("n_a"),
        F.countDistinct("__b").cast("long").alias("n_b"),
    )
    j = (
        tot.crossJoin(counts)
        .crossJoin(ha)
        .crossJoin(hb)
        .crossJoin(hab)
    )
    mi = F.col("__ha") + F.col("__hb") - F.col("__hab")
    return j.select(
        F.lit(col_a).alias("col_a"),
        F.lit(col_b).alias("col_b"),
        "n",
        "n_a",
        "n_b",
        F.round("__ha", 6).alias("h_a"),
        F.round("__hb", 6).alias("h_b"),
        F.round(F.when(F.col("__hb") > 0, mi / F.col("__hb")), 6)
        .alias("u_b_given_a"),
        F.round(F.when(F.col("__ha") > 0, mi / F.col("__ha")), 6)
        .alias("u_a_given_b"),
    )


def _ws_tokens(text_col: str):
    """Shared whitespace tokenizer (the q135/q136 idiom): lowered,
    split on [ \\t\\n\\r]+, empties dropped — matches the oracle's
    ``list_filter(regexp_split_to_array(lower(...)), w -> w <> '')``."""
    return words_col(F.lower(F.coalesce(F.col(text_col), F.lit(""))))


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Top-``top_k`` adjacent-token collocations by pointwise mutual
    information (Church & Hanks 1990): word pairs that co-occur far
    more than their marginal frequencies predict — multiword entities,
    boilerplate phrases, and templated constructions surface first, so
    this is both a phrase-discovery pass (tokenizer/vocab planning) and
    a template detector the per-doc repetition audits (q51/q52) cannot
    see because the repetition lives ACROSS documents.

    PMI = ln( p(a,b) / (p(a)·p(b)) ) in the Church & Hanks convention:
    ONE normalizer N = total token count for unigrams AND bigrams, so
    p(a,b) = c(a,b)/N ≤ min(p(a), p(b)) and NPMI (Bouma 2009),
    pmi / -ln p(a,b), is genuinely bounded in [-1, 1] (mixing a
    bigram-slot normalizer with a token normalizer — the common
    shortcut — silently breaks that bound). ``min_count`` floors the
    bigram count (PMI is noise for rare pairs — a hapax bigram of two
    hapax tokens gets the corpus-maximum score).

    Returns ``(a, b, c_ab, c_a, c_b, pmi, npmi)`` — counts exact
    BIGINTs, scores 6 dp — ordered by rounded PMI desc, then (a, b)
    for a deterministic cut.

    Scale shape: two corpus passes (unigram groupBy, bigram groupBy),
    each ONE map-side-combined shuffle on the token/pair key; the
    min_count filter bounds the survivor set BEFORE the two marginal
    joins (shuffle joins on the token key — the unigram table is
    corpus-vocabulary-sized, never broadcast); top-k is orderBy+limit
    = TakeOrderedAndProject. No window, no crossJoin, no Python."""
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    base = df.select(_ws_tokens(text_col).alias("__t"))
    uni = (
        base.select(F.explode("__t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    n_uni = uni.agg(
        F.coalesce(F.sum("c1"), F.lit(0)).cast("long").alias("nu")
    )
    sz = F.size("__t")
    pairs = F.zip_with(
        F.slice(F.col("__t"), 1, sz - 1),
        F.slice(F.col("__t"), 2, sz - 1),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    big = (
        base.where(sz >= 2)
        .select(F.explode(pairs).alias("__p"))
        .select(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    ua = uni.select(F.col("tok").alias("a"), F.col("c1").alias("c_a"))
    ub = uni.select(F.col("tok").alias("b"), F.col("c1").alias("c_b"))
    j = (
        big.where(F.col("c_ab") >= min_count)
        .join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(n_uni))
    )
    # formula order is the cross-engine contract: both engines evaluate
    # ln((c_ab/nu) / ((c_a/nu) * (c_b/nu))) on IEEE doubles
    p_ab = F.col("c_ab").cast("double") / F.col("nu").cast("double")
    p_a = F.col("c_a").cast("double") / F.col("nu").cast("double")
    p_b = F.col("c_b").cast("double") / F.col("nu").cast("double")
    pmi = F.log(p_ab / (p_a * p_b))
    npmi = F.when(p_ab < 1.0, pmi / -F.log(p_ab)).otherwise(F.lit(1.0))
    return (
        j.select(
            "a", "b", "c_ab", "c_a", "c_b",
            F.round(pmi, 6).alias("pmi"),
            F.round(npmi, 6).alias("npmi"),
        )
        .orderBy(F.col("pmi").desc(), "a", "b")
        .limit(int(top_k))
    )


def template_starts(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Boilerplate-START detection per group: how concentrated is the
    distribution of each source's opening bigram? Feeds and templated
    sites open every page with the same construction ("breaking news
    ...", "cookie notice ..."), so a source whose modal first-bigram
    share spikes — or whose start entropy crashes — is serving
    templates, not prose; the per-doc repetition audits (q51/q52) and
    cross-doc paragraph dedup (q99) both miss it when the shared prefix
    is shorter than their n-gram/paragraph grain.

    Per group::

        <group_col>: as input
        n_docs: bigint          -- docs with >= 2 tokens (a start exists)
        n_starts: bigint        -- distinct opening bigrams
        modal_start: string     -- "a b"; ties -> lexicographically least
        modal_share: double (6 dp)
        start_entropy: double (6 dp)   -- nats over the start distribution

    Scale shape: one projection to (group, first-bigram) — array index,
    no explode — then ONE map-side-combined groupBy to the (group,
    start) grain; everything after (modal pick via a row_number window,
    entropy fold) runs on that grain, bounded by distinct starts per
    group, never corpus rows."""
    toks = _ws_tokens(text_col)
    base = df.select(
        F.col(group_col).alias("g"),
        F.when(
            F.size(toks) >= 2,
            F.concat_ws(" ", toks[0], toks[1]),
        ).alias("__fb"),
    ).where(F.col("__fb").isNotNull())
    grain = base.groupBy("g", "__fb").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy(F.col("c").desc(), F.col("__fb"))
    ranked = grain.withColumn("__rn", F.row_number().over(w))
    tot = grain.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_starts"),
    )
    ent = (
        grain.join(tot.select("g", "n_docs"), "g")
        .groupBy("g")
        .agg(
            F.coalesce(
                F.sum(
                    -(F.col("c") / F.col("n_docs").cast("double"))
                    * F.log(F.col("c") / F.col("n_docs").cast("double"))
                ),
                F.lit(0.0),
            ).alias("__h")
        )
    )
    modal = ranked.where(F.col("__rn") == 1).select(
        "g",
        F.col("__fb").alias("modal_start"),
        F.col("c").alias("__mc"),
    )
    return (
        tot.join(modal, "g")
        .join(ent, "g")
        .select(
            F.col("g").alias(group_col),
            "n_docs",
            "n_starts",
            "modal_start",
            F.round(
                F.col("__mc").cast("double")
                / F.col("n_docs").cast("double"), 6
            ).alias("modal_share"),
            F.round("__h", 6).alias("start_entropy"),
        )
        .orderBy(group_col)
    )


def bigram_cond_entropy(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Token-chain predictability per group: the conditional entropy
    H(next | current) = H(pair) − H(first) of each group's adjacent-
    bigram distribution, and its exponential (the perplexity of the
    group's own bigram MLE on itself). Prose sits high; templated,
    generated, or heavily boilerplated text collapses — the CORPUS-
    level repetitiveness signal, complementary to per-doc repetition
    (q51/q52: one doc repeating itself) and PMI collocations (q195:
    WHICH pairs bind): here one number says how deterministic the
    whole source's next-token process is.

    Per group::

        <group_col>: as input
        n_bigrams: bigint
        h_pair, h_first: double (6 dp)      -- nats
        h_cond: double (6 dp)               -- h_pair − h_first, >= 0
        ppl_bigram: double (6 dp)           -- exp(h_cond)

    Scale shape: ONE map-side-combined groupBy to the (group, a, b)
    pair grain (zip_with adjacent pairing, no self-join); the first-
    token marginal re-aggregates from that grain; both entropies are
    grain-level folds. Groups with < 2 tokens per doc everywhere
    simply have no bigrams and drop out."""
    toks = _ws_tokens(text_col)
    sz = F.size("__t")
    pairs = F.zip_with(
        F.slice(F.col("__t"), 1, sz - 1),
        F.slice(F.col("__t"), 2, sz - 1),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    grain = (
        df.select(F.col(group_col).alias("g"), toks.alias("__t"))
        .where(sz >= 2)
        .select("g", F.explode(pairs).alias("__p"))
        .groupBy("g", F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = grain.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_bigrams")
    )

    def h_over(keyed):
        return (
            keyed.join(tot, "g")
            .groupBy("g")
            .agg(
                F.coalesce(
                    F.sum(
                        -(F.col("m") / F.col("n_bigrams").cast("double"))
                        * F.log(
                            F.col("m") / F.col("n_bigrams").cast("double")
                        )
                    ),
                    F.lit(0.0),
                ).alias("h")
            )
        )

    h_pair = h_over(grain.select("g", F.col("c").alias("m"))).select(
        "g", F.col("h").alias("__hp")
    )
    h_first = h_over(
        grain.groupBy("g", "a").agg(F.sum("c").alias("m"))
    ).select("g", F.col("h").alias("__hf"))
    return (
        tot.join(h_pair, "g")
        .join(h_first, "g")
        .select(
            F.col("g").alias(group_col),
            "n_bigrams",
            F.round("__hp", 6).alias("h_pair"),
            F.round("__hf", 6).alias("h_first"),
            F.round(F.col("__hp") - F.col("__hf"), 6).alias("h_cond"),
            F.round(F.exp(F.col("__hp") - F.col("__hf")), 6)
            .alias("ppl_bigram"),
        )
        .orderBy(group_col)
    )


def vocab_rank_drift(
    df: DataFrame,
    text_col: str = "text",
    day_col: str = "__day",
    day_expr: Column | None = None,
    top_k: int = 50,
    p: float = 0.9,
) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010) between the
    top-``top_k`` token RANKINGS of consecutive days — the top-weighted
    drift metric the set-based diagnostics miss: PSI/KS (q78/q144)
    compare distributions, vocabulary novelty (q136) counts NEW tokens,
    but a corpus whose head vocabulary REORDERS (a topic surge, a crawl
    source flip) keeps both of those flat while RBO drops, because RBO
    weights agreement at rank 1 geometrically more than rank k.

    Truncated RBO with persistence ``p``::

        RBO@k = (1 − p) · Σ_{d=1..k} p^(d−1) · |A_d ∩ B_d| / d

    computed on the equivalent per-match grain: a token at ranks
    (ra, rb) contributes to every depth ≥ max(ra, rb). 1.0 = identical
    rankings, 0 = disjoint heads.

    Per consecutive day pair::

        day_a, day_b: int
        k: int
        overlap_k: bigint       -- |A_k ∩ B_k|
        rbo: double (6 dp)      -- 0.0 when the heads are disjoint

    Ranking is deterministic: count desc, then token. Scale shape: ONE
    (day, token) groupBy; per-day top-k via row_number ≤ k (Spark
    rewrites to WindowGroupLimit — per-partition heaps, no full sort);
    everything after runs on ≤ days·k rows (the match join, the
    (match × depth) grain, one SUM). ``day_expr`` supplies the day when
    the frame lacks ``day_col``."""
    if not 0 < p < 1:
        raise ValueError(f"p must be in (0,1), got {p}")
    from pyspark.sql import Window

    day = day_expr if day_expr is not None else F.col(day_col)
    toks = F.explode(_ws_tokens(text_col)).alias("tok")
    grain = (
        df.select(day.cast("int").alias("day"), toks)
        .groupBy("day", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("day").orderBy(F.col("c").desc(), F.col("tok"))
    ranks = (
        grain.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= top_k)
        .select("day", "tok", "r")
    )
    days = ranks.select("day").distinct()
    spine = (
        days.alias("da")
        .join(
            days.alias("db"),
            F.col("da.day") + 1 == F.col("db.day"),
        )
        .select(
            F.col("da.day").alias("day_a"), F.col("db.day").alias("day_b")
        )
    )
    ra = ranks.select(
        F.col("day").alias("day_a"), "tok", F.col("r").alias("ra")
    )
    rb = ranks.select(
        (F.col("day") - 1).alias("day_a"), "tok", F.col("r").alias("rb")
    )
    matched = ra.join(rb, ["day_a", "tok"]).select(
        "day_a", F.greatest("ra", "rb").alias("lo")
    )
    depth_grain = matched.select(
        "day_a", F.explode(F.sequence(F.col("lo"), F.lit(top_k)))
        .alias("d")
    )
    contrib = (
        depth_grain.groupBy("day_a")
        .agg(
            F.sum(
                F.pow(F.lit(float(p)), F.col("d").cast("double") - 1)
                / F.col("d").cast("double")
            ).alias("__s")
        )
    )
    ov = matched.groupBy("day_a").agg(
        F.count(F.lit(1)).cast("long").alias("overlap_k")
    )
    return (
        spine.join(ov, "day_a", "left")
        .join(contrib, "day_a", "left")
        .select(
            "day_a",
            "day_b",
            F.lit(int(top_k)).alias("k"),
            F.coalesce(F.col("overlap_k"), F.lit(0)).cast("long")
            .alias("overlap_k"),
            F.round(
                F.coalesce(
                    F.lit(1.0 - float(p)) * F.col("__s"), F.lit(0.0)
                ),
                6,
            ).alias("rbo"),
        )
        .orderBy("day_a")
    )


def sessionization_summary(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_s: int = 1800,
) -> DataFrame:
    """Inactivity-gap sessionization (the canonical clickstream cut:
    a new session starts when a user's gap to their previous event
    exceeds ``gap_s`` seconds) reduced to the corpus-health summary —
    the numbers a crawl/telemetry contract thresholds on::

        n_users: bigint
        n_sessions: bigint
        bounce_rate: double (6 dp)      -- share of 1-event sessions
        mean_events: double (6 dp)      -- events per session
        mean_duration_s: double (6 dp)  -- first-to-last, 0 for bounces
        max_events: bigint

    A collapsing bounce rate or exploding max_events is a bot cohort
    or a broken session-id upstream; per-event checks can't see either
    because both live in the GAP STRUCTURE between rows.

    Determinism: events order by (ts, event_id) — the id breaks
    timestamp ties; gaps compare exact MICROSECOND integers
    (gap > gap_s·10⁶ strictly); durations aggregate as exact
    microsecond sums and divide once at the end. NULL user/ts rows are
    excluded (a session needs an owner and a clock).

    Scale shape: ONE shuffle — the per-user window (partitionBy user,
    orderBy ts, id) marking session starts; the running session index
    is a second pass over the SAME partitioning (no new shuffle); the
    per-session and corpus aggregates are map-side-combined groupBys.
    This is the standard sessionize plan; skewed users (bots) are the
    known hazard and show up in max_events first."""
    from pyspark.sql import Window

    u, t = F.col(user_col), F.col(ts_col)
    base = df.where(u.isNotNull() & t.isNotNull()).select(
        u.alias("__u"),
        # cast handles TIMESTAMP_NTZ parquet columns; session TZ is
        # pinned UTC so the cast is stable (the q174 idiom)
        F.unix_micros(t.cast("timestamp")).alias("__us"),
        F.col(id_col).alias("__id"),
    )
    w = Window.partitionBy("__u").orderBy("__us", "__id")
    marked = base.withColumn(
        "__new",
        F.when(
            F.lag("__us").over(w).isNull()
            | (
                F.col("__us") - F.lag("__us").over(w)
                > F.lit(int(gap_s) * 1_000_000)
            ),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "__sid",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_session = sess.groupBy("__u", "__sid").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        (F.max("__us") - F.min("__us")).alias("__dur_us"),
    )
    return per_session.agg(
        F.countDistinct("__u").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.round(
            F.sum(F.when(F.col("__n") == 1, 1).otherwise(0))
            .cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("bounce_rate"),
        F.round(
            F.sum("__n").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_events"),
        F.round(
            F.sum("__dur_us").cast("double")
            / F.count(F.lit(1)).cast("double") / F.lit(1000000.0),
            6,
        ).alias("mean_duration_s"),
        F.max("__n").cast("long").alias("max_events"),
    )


def source_kl_distinctiveness(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_k: int = 1000,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-source KL divergence from the corpus unigram distribution —
    each source's one-number "how differently does this slice speak"
    (the |S|-row scalar complement to q135's |S|² pairwise JSD, and the
    source-level rollup of q185's token-level Fightin'-Words z-scores).
    A source whose KL spikes after a crawl config change switched
    content type; one near 0 is linguistically redundant with the
    corpus mix.

    KL(source ‖ corpus) over the global top-``top_k`` vocabulary plus
    an <oov> bucket (the q135 vocabulary fold, so both distributions
    sum to 1 over the same cells), with symmetric additive smoothing
    ``alpha`` on BOTH sides (KL is undefined on zero corpus cells;
    smoothing keeps every log finite and is part of the reported
    definition, not a hidden fudge)::

        p̂(t|g) = (c_g(t) + α) / (n_g + α·V),   V = top_k + 1

    Per group: ``(group, n_tokens, kl_nats, top_token)`` — 6 dp, where
    top_token is the source's highest-probability vocabulary cell
    (ties -> least token).

    Scale shape: identical to q135's — ONE corpus (group, token)
    groupBy; vocabulary via bounded TakeOrdered; fold + grid completion
    on |groups|·(top_k+1) rows; the corpus marginal re-aggregates from
    the folded grain, never rescans."""
    toks = F.explode(_ws_tokens(text_col)).alias("tok")
    gt = (
        df.select(F.col(group_col).alias("g"), toks)
        .groupBy("g", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    vocab = (
        gt.groupBy("tok")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.col("tc").desc(), F.col("tok"))
        .limit(int(top_k))
        .select("tok")
    )
    folded = (
        gt.join(F.broadcast(vocab.withColumn("__iv", F.lit(True))),
                "tok", "left")
        .select(
            "g",
            F.when(F.col("__iv").isNotNull(), F.col("tok"))
            .otherwise(F.lit("<oov>")).alias("v"),
            "c",
        )
        .groupBy("g", "v")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    cells = folded.select("v").distinct()
    gtot = folded.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_g")
    )
    ctot = folded.groupBy("v").agg(
        F.sum("c").cast("long").alias("cc")
    )
    n_all = folded.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_all")
    )
    vsize = cells.agg(F.count(F.lit(1)).cast("long").alias("vv"))
    grid = (
        gtot.crossJoin(cells)
        .join(folded, ["g", "v"], "left")
        .select(
            "g", "v", "n_g",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("cg"),
        )
        .join(F.broadcast(ctot), "v")
        .crossJoin(F.broadcast(n_all))
        .crossJoin(F.broadcast(vsize))
    )
    a = float(alpha)
    pg = (F.col("cg").cast("double") + F.lit(a)) / (
        F.col("n_g").cast("double") + F.lit(a) * F.col("vv").cast("double")
    )
    pc = (F.col("cc").cast("double") + F.lit(a)) / (
        F.col("n_all").cast("double")
        + F.lit(a) * F.col("vv").cast("double")
    )
    kl = grid.groupBy("g").agg(
        F.max("n_g").cast("long").alias("n_tokens"),
        F.round(F.sum(pg * F.log(pg / pc)), 6).alias("kl_nats"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy(
        F.col("cg").desc(), F.col("v")
    )
    top = (
        grid.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("g", F.col("v").alias("top_token"))
    )
    return (
        kl.join(top, "g")
        .select(
            F.col("g").alias(group_col), "n_tokens", "kl_nats",
            "top_token",
        )
        .orderBy(group_col)
    )


def circadian_profile(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Hour-of-day activity profile per group — the bot/automation
    tell: humans have a circadian rhythm (entropy over the 24 hourly
    buckets well below ln 24, a pronounced peak, big uniformity
    chi-square); schedulers and scrapers fire flat or on one exact
    hour. Complements q180's weekday seasonality at the finer grain
    where automation actually shows.

    Per group::

        <group_col>: as input
        n_events: bigint
        peak_hour: int          -- modal hour 0-23 (ties -> least hour)
        peak_share: double (6 dp)
        hour_entropy: double (6 dp)       -- nats; ln 24 ≈ 3.178 = flat
        chi2_uniform: double (6 dp)       -- Σ (o-e)²/e vs uniform

    Hours come from the UTC clock (session TZ pinned): hour(ts) on the
    cast timestamp, identical on both engines. Scale shape: ONE
    map-side-combined groupBy to the (group, hour) grain — at most
    24·|groups| rows ever shuffle; every statistic is a grain-level
    fold."""
    t = F.col(ts_col)
    grain = (
        df.where(t.isNotNull())
        .select(
            F.col(group_col).alias("g"),
            F.hour(t.cast("timestamp")).alias("h"),
        )
        .groupBy("g", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = grain.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_events")
    )
    j = grain.join(tot, "g")
    stats = j.groupBy("g").agg(
        F.max("n_events").cast("long").alias("n_events"),
        F.coalesce(
            F.sum(
                -(F.col("c") / F.col("n_events").cast("double"))
                * F.log(F.col("c") / F.col("n_events").cast("double"))
            ),
            F.lit(0.0),
        ).alias("__h"),
        F.sum(
            (F.col("c").cast("double")
             - F.col("n_events").cast("double") / F.lit(24.0))
            * (F.col("c").cast("double")
               - F.col("n_events").cast("double") / F.lit(24.0))
            / (F.col("n_events").cast("double") / F.lit(24.0))
        ).alias("__chi_present"),
        F.count(F.lit(1)).cast("long").alias("__nh"),
    )
    # hours with zero events still contribute e = n/24 to the chi-square
    chi = F.col("__chi_present") + (
        F.lit(24.0) - F.col("__nh").cast("double")
    ) * (F.col("n_events").cast("double") / F.lit(24.0))
    from pyspark.sql import Window

    w = Window.partitionBy("g").orderBy(F.col("c").desc(), F.col("h"))
    peak = (
        j.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "g", F.col("h").cast("int").alias("peak_hour"),
            F.round(
                F.col("c").cast("double")
                / F.col("n_events").cast("double"), 6
            ).alias("peak_share"),
        )
    )
    return (
        stats.join(peak, "g")
        .select(
            F.col("g").alias(group_col),
            "n_events",
            "peak_hour",
            "peak_share",
            F.round("__h", 6).alias("hour_entropy"),
            F.round(chi, 6).alias("chi2_uniform"),
        )
        .orderBy(group_col)
    )


def tukey_outlier_audit(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    k: float = 1.5,
) -> DataFrame:
    """Tukey-fence outlier audit per group: exact quartiles, IQR, the
    classic fences [q1 − k·IQR, q3 + k·IQR], and how much data sits
    outside them — the boxplot's numbers as a contract check. A group
    whose outlier share jumps caught an upstream unit change or sensor
    fault; one whose IQR collapses to 0 is serving a constant (dead
    metric). Robust where mean/stddev checks (q29) get dragged by the
    very outliers being counted; the winsorized stats (q163) REPAIR the
    tail, this one MEASURES it.

    Per group::

        <group_col>: as input
        n: bigint                  -- non-NULL values
        q1, median, q3: double (6 dp)   -- exact interpolated quartiles
        iqr: double (6 dp)
        lo_fence, hi_fence: double (6 dp)
        n_low, n_high: bigint      -- strictly outside the fences
        outlier_share: double (6 dp)

    Determinism: exact interpolated percentile on both engines (the
    q25 contract: Spark ``percentile`` == DuckDB ``quantile_cont``);
    fences derive from the 6 dp-ROUNDED quartiles so the outlier
    comparison uses identical doubles cross-engine.

    Scale shape: exact percentile is the one genuinely expensive piece
    (per-group sort); at 100 TB swap ``percentile`` for
    ``approx_percentile`` (same call shape, documented error) — the
    fence logic is unchanged. Two passes: quartiles, then one fused
    count-vs-fence scan joined on the group key."""
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        F.col(group_col).alias("g"), v.alias("__v")
    )
    qs = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.expr("percentile(__v, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(__v, 0.5)"), 6).alias("median"),
        F.round(F.expr("percentile(__v, 0.75)"), 6).alias("q3"),
    )
    fenced = qs.select(
        "g", "n", "q1", "median", "q3",
        F.round(F.col("q3") - F.col("q1"), 6).alias("iqr"),
        F.round(
            F.col("q1") - F.lit(float(k)) * (F.col("q3") - F.col("q1")), 6
        ).alias("lo_fence"),
        F.round(
            F.col("q3") + F.lit(float(k)) * (F.col("q3") - F.col("q1")), 6
        ).alias("hi_fence"),
    )
    counted = (
        base.join(F.broadcast(fenced), "g")
        .groupBy("g")
        .agg(
            F.sum(F.when(F.col("__v") < F.col("lo_fence"), 1)
                  .otherwise(0)).cast("long").alias("n_low"),
            F.sum(F.when(F.col("__v") > F.col("hi_fence"), 1)
                  .otherwise(0)).cast("long").alias("n_high"),
        )
    )
    return (
        fenced.join(counted, "g")
        .select(
            F.col("g").alias(group_col),
            "n", "q1", "median", "q3", "iqr", "lo_fence", "hi_fence",
            "n_low", "n_high",
            F.round(
                (F.col("n_low") + F.col("n_high")).cast("double")
                / F.col("n").cast("double"), 6
            ).alias("outlier_share"),
        )
        .orderBy(group_col)
    )


def calendar_gap_audit(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str | None = None,
) -> DataFrame:
    """Missing-day detection: which calendar days between a feed's
    first and last day have NO rows at all? The ingestion-completeness
    audit q137 (anomalous VOLUME days) can't express — a day that never
    arrived has no row to look anomalous. Reports the gap structure,
    not just its existence, so the backfill ticket writes itself.

    Per group (or one corpus row when ``group_col`` is None)::

        [<group_col>,] first_day, last_day: string yyyy-MM-dd
        span_days: bigint           -- calendar days inclusive
        present_days: bigint
        missing_days: bigint        -- span - present
        coverage: double (6 dp)
        max_gap_days: bigint        -- longest run of missing days
        gap_start: string           -- first day of that run; NULL if none
                                       (ties -> earliest run)

    Scale shape: ONE groupBy to the (group, day) grain — at most
    groups·span rows ever shuffle; the gap scan is a lag window over
    that tiny grain, never over events. Day = UTC date of the cast
    timestamp (session TZ pinned)."""
    from pyspark.sql import Window

    t = F.col(ts_col)
    gcols = [F.col(group_col).alias("g")] if group_col else [
        F.lit("__all").alias("g")
    ]
    days = (
        df.where(t.isNotNull())
        .select(*gcols, F.to_date(t.cast("timestamp")).alias("d"))
        .groupBy("g", "d")
        .agg(F.count(F.lit(1)).alias("__c"))
        .select("g", "d")
    )
    w = Window.partitionBy("g").orderBy("d")
    gaps2 = days.withColumn("__prev", F.lag("d").over(w)).withColumn(
        "__gap", F.datediff(F.col("d"), F.col("__prev")) - 1
    )
    agg = gaps2.groupBy("g").agg(
        F.min("d").alias("first_day"),
        F.max("d").alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("present_days"),
        F.coalesce(F.max("__gap"), F.lit(0)).cast("long")
        .alias("__maxgap"),
    )
    # gap_start = day AFTER the previous present day, for the earliest
    # maximal run
    starts = (
        gaps2.where(F.col("__gap") > 0)
        .join(agg.select("g", "__maxgap"), "g")
        .where(F.col("__gap") == F.col("__maxgap"))
        .groupBy("g")
        .agg(F.min(F.date_add("__prev", 1)).alias("gap_start"))
    )
    span = F.datediff(F.col("last_day"), F.col("first_day")) + 1
    out = (
        agg.join(starts, "g", "left")
        .select(
            F.col("g"),
            # dates ship as strings — the q103 cross-engine convention
            F.date_format("first_day", "yyyy-MM-dd").alias("first_day"),
            F.date_format("last_day", "yyyy-MM-dd").alias("last_day"),
            span.cast("long").alias("span_days"),
            "present_days",
            (span - F.col("present_days")).cast("long")
            .alias("missing_days"),
            F.round(
                F.col("present_days").cast("double")
                / span.cast("double"), 6
            ).alias("coverage"),
            F.col("__maxgap").alias("max_gap_days"),
            F.date_format("gap_start", "yyyy-MM-dd").alias("gap_start"),
        )
        .orderBy("g")
    )
    if group_col:
        return out.withColumnRenamed("g", group_col)
    return out.drop("g")


def derived_column_audit(
    df: DataFrame,
    stored_col: str,
    derived: Column,
    group_col: str = "source",
) -> DataFrame:
    """Row-level stored-vs-derived consistency: does a materialized
    column still equal the expression it claims to cache (n_chars vs
    length(text), totals vs sums, normalized vs recomputed)? The
    row-grain sibling of the table-level reconciliation audit (q175):
    totals can balance while rows disagree in compensating directions,
    and a pipeline that recomputes the derivation after an upstream
    edit but misses ONE writer drifts exactly like this.

    Per group::

        <group_col>: as input
        n_rows: bigint
        n_both_null: bigint        -- stored and derived both NULL: ok
        n_null_mismatch: bigint    -- exactly one side NULL
        n_value_mismatch: bigint   -- both present, values differ
        match_rate: double (6 dp)  -- (rows - null_mm - value_mm)/rows
        max_abs_drift: double (6 dp)  -- numeric columns; NULL otherwise

    Scale shape: ONE fused projection + map-side-combined groupBy —
    the derivation is re-evaluated inline per row (zero extra scan,
    zero shuffle beyond the group key); comparison uses null-safe
    equality so NULL==NULL is agreement, not a mismatch."""
    s = F.col(stored_col)
    d = derived
    both_null = s.isNull() & d.isNull()
    null_mm = s.isNull() != d.isNull()
    val_mm = s.isNotNull() & d.isNotNull() & ~s.eqNullSafe(d)
    num = s.cast("double").isNotNull() & d.cast("double").isNotNull()
    drift = F.when(num, F.abs(s.cast("double") - d.cast("double")))
    return (
        df.groupBy(F.col(group_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(both_null, 1).otherwise(0)).cast("long")
            .alias("n_both_null"),
            F.sum(F.when(null_mm, 1).otherwise(0)).cast("long")
            .alias("n_null_mismatch"),
            F.sum(F.when(val_mm, 1).otherwise(0)).cast("long")
            .alias("n_value_mismatch"),
            F.round(
                (
                    F.count(F.lit(1))
                    - F.sum(F.when(null_mm, 1).otherwise(0))
                    - F.sum(F.when(val_mm, 1).otherwise(0))
                ).cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("match_rate"),
            F.round(F.max(drift), 6).alias("max_abs_drift"),
        )
        .orderBy(group_col)
    )


def value_autocorrelation(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    id_col: str = "event_id",
    group_col: str = "event_type",
) -> DataFrame:
    """Lag-1 autocorrelation of a metric stream per group: Pearson r
    between consecutive values in time order. White-noise telemetry
    sits near 0; r drifting up means the stream developed memory — a
    stuck sensor, a retry loop resending the last value, a smoothing
    layer someone inserted upstream — and r near −1 is oscillation
    (two interleaved sources fighting). The runs test (q181) sees only
    signs around the median; this is the magnitude-aware version on
    the raw stream.

    Per group::

        <group_col>: as input
        n_pairs: bigint            -- consecutive (prev, cur) pairs
        r_lag1: double (6 dp)      -- NULL when < 2 pairs or 0 variance
        mean_abs_step: double (6 dp)  -- mean |cur − prev|

    Order is (ts, id) — the id breaks timestamp ties. Pearson uses the
    one-pass moment form over the pair frame (the q177 discipline:
    plain double moment sums, 6 dp rounding swallows order noise).
    Scale shape: ONE per-group window shuffle to attach lag(value);
    the moments are a map-side-combined aggregate over that frame."""
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    w = Window.partitionBy("__g").orderBy("__us", "__id")
    base = (
        df.where(v.isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(group_col).alias("__g"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__us"),
            F.col(id_col).alias("__id"),
            v.alias("__v"),
        )
        .withColumn("__p", F.lag("__v").over(w))
        .where(F.col("__p").isNotNull())
    )
    mom = base.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("__v").alias("__sy"),
        F.sum("__p").alias("__sx"),
        F.sum(F.col("__v") * F.col("__v")).alias("__syy"),
        F.sum(F.col("__p") * F.col("__p")).alias("__sxx"),
        F.sum(F.col("__p") * F.col("__v")).alias("__sxy"),
        F.sum(F.abs(F.col("__v") - F.col("__p"))).alias("__sad"),
    )
    n = F.col("n_pairs").cast("double")
    cov = F.col("__sxy") - F.col("__sx") * F.col("__sy") / n
    vx = F.col("__sxx") - F.col("__sx") * F.col("__sx") / n
    vy = F.col("__syy") - F.col("__sy") * F.col("__sy") / n
    r = F.when(
        (F.col("n_pairs") >= 2) & (vx > 0) & (vy > 0),
        cov / F.sqrt(vx * vy),
    )
    return mom.select(
        F.col("__g").alias(group_col),
        "n_pairs",
        F.round(r, 6).alias("r_lag1"),
        F.round(F.col("__sad") / n, 6).alias("mean_abs_step"),
    ).orderBy(group_col)


def type_mix_shift(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Categorical mix drift between the FIRST and SECOND half of the
    time range: did the composition of event types change over the
    window? The categorical twin of ks_drift (q144 compares a numeric
    signal's distribution between cohorts); here the signal IS the
    category. Splits at the midpoint of [min ts, max ts] by exact
    microseconds (second half inclusive of the midpoint), then per
    category::

        <group_col>: as input
        n_first, n_second: bigint
        p_first, p_second: double (6 dp)   -- within-half shares
        delta: double (6 dp)               -- p_second − p_first
        jsd_contrib: double (6 dp)         -- this category's term of
                                              the halves' total JSD

    Σ jsd_contrib over rows = JSD(first ‖ second) ∈ [0, ln 2] — the
    one-number drift verdict, decomposed so the culprit category is
    the largest contributor. Scale shape: one min/max aggregate, then
    ONE (category, half) groupBy — map-side combine; everything after
    is category-grain."""
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.where(F.col(ts_col).isNotNull()).select(
        F.col(group_col).alias("g"), t.alias("__us")
    )
    rng = base.agg(
        F.min("__us").alias("__lo"), F.max("__us").alias("__hi")
    )
    # integer midpoint: lo + (hi - lo) / 2 floored, identical on both
    # engines
    mid = (
        F.col("__lo")
        + F.floor((F.col("__hi") - F.col("__lo")) / F.lit(2))
    ).cast("long")
    grain = (
        base.crossJoin(F.broadcast(rng))
        .select(
            "g", F.when(F.col("__us") < mid, 1).otherwise(2).alias("h")
        )
        .groupBy("g", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tots = grain.groupBy("h").agg(F.sum("c").cast("long").alias("t"))
    cats = grain.select("g").distinct()
    grid = (
        cats.crossJoin(tots)
        .join(grain, ["g", "h"], "left")
        .select(
            "g", "h", "t",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        )
    )
    piv = grid.groupBy("g").agg(
        F.sum(F.when(F.col("h") == 1, F.col("c")).otherwise(0))
        .cast("long").alias("n_first"),
        F.sum(F.when(F.col("h") == 2, F.col("c")).otherwise(0))
        .cast("long").alias("n_second"),
        F.max(F.when(F.col("h") == 1, F.col("t"))).cast("long")
        .alias("__t1"),
        F.max(F.when(F.col("h") == 2, F.col("t"))).cast("long")
        .alias("__t2"),
    )
    p1 = F.col("n_first").cast("double") / F.col("__t1").cast("double")
    p2 = F.col("n_second").cast("double") / F.col("__t2").cast("double")
    m = (p1 + p2) / F.lit(2.0)
    jsd = (
        F.when(F.col("n_first") > 0, p1 * F.log(p1 / m)).otherwise(0.0)
        + F.when(F.col("n_second") > 0, p2 * F.log(p2 / m)).otherwise(0.0)
    ) / F.lit(2.0)
    return piv.select(
        F.col("g").alias(group_col),
        "n_first",
        "n_second",
        F.round(p1, 6).alias("p_first"),
        F.round(p2, 6).alias("p_second"),
        F.round(p2 - p1, 6).alias("delta"),
        F.round(jsd, 6).alias("jsd_contrib"),
    ).orderBy(group_col)


def t_closeness_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    third leg of the release trio after k-anonymity and l-diversity
    (:func:`k_anonymity_audit`): l-diversity counts distinct sensitive
    values per equivalence class but a class can be "diverse" while
    its DISTRIBUTION still leaks (99 % one disease, 1 % scattered);
    t-closeness bounds the distance between each class's sensitive
    distribution and the global one. For a categorical sensitive
    attribute the distance is total variation
    TVD = ½ Σ |p_class(v) − p_global(v)| ∈ [0, 1] (the equal-ground-
    distance EMD of the paper). NULL sensitive values are a category
    (their concentration leaks too); NULL quasi values are ordinary
    class keys, as in q193.

    One summary row::

        n_rows, n_classes: bigint
        max_t: double (6 dp)          -- worst class TVD (the release
                                         gate number)
        mean_t: double (6 dp)         -- row-weighted mean class TVD
        share_above_02, share_above_05: double (6 dp) — fraction of
            ROWS in classes with t > 0.2 / 0.5

    Scale shape: ONE map-side-combined groupBy to the
    (class, sensitive-value) grain; the global marginal re-aggregates
    from that grain (never rescans); the TVD fold runs on the grain
    completed against the global value set (classes × values rows —
    the sensitive attribute must be low-cardinality, which is what
    makes it a sensitive CATEGORY; this is the documented cost knob).
    Row-weighted aggregates come back from exact integer row counts."""
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    qi = [
        F.coalesce(F.col(c).cast("string"), F.lit("<null>")).alias(
            f"__q{i}"
        )
        for i, c in enumerate(quasi_cols)
    ]
    sv = F.coalesce(F.col(sensitive_col).cast("string"), F.lit("<null>"))
    keys = [f"__q{i}" for i in range(len(quasi_cols))]
    grain = (
        df.select(*qi, sv.alias("__v"))
        .groupBy(*keys, "__v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cls = grain.groupBy(*keys).agg(
        F.sum("c").cast("long").alias("nc")
    )
    gl = grain.groupBy("__v").agg(F.sum("c").cast("long").alias("cg"))
    n_all = grain.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_all")
    )
    # complete each class against the GLOBAL value set: absent values
    # contribute |0 - p_global| to the TVD
    grid = (
        cls.crossJoin(F.broadcast(gl))
        .join(grain, [*keys, "__v"], "left")
        .select(
            *keys, "nc", "cg", "__v",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        )
        .crossJoin(F.broadcast(n_all))
    )
    tvd_term = F.abs(
        F.col("c").cast("double") / F.col("nc").cast("double")
        - F.col("cg").cast("double") / F.col("n_all").cast("double")
    )
    per_class = grid.groupBy(*keys).agg(
        F.max("nc").cast("long").alias("nc"),
        (F.sum(tvd_term) / F.lit(2.0)).alias("__t"),
    )
    return per_class.agg(
        F.coalesce(F.sum("nc"), F.lit(0)).cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.round(F.max("__t"), 6).alias("max_t"),
        F.round(
            F.sum(F.col("__t") * F.col("nc").cast("double"))
            / F.sum("nc").cast("double"),
            6,
        ).alias("mean_t"),
        F.round(
            F.sum(F.when(F.col("__t") > 0.2, F.col("nc")).otherwise(0))
            .cast("double") / F.sum("nc").cast("double"),
            6,
        ).alias("share_above_02"),
        F.round(
            F.sum(F.when(F.col("__t") > 0.5, F.col("nc")).otherwise(0))
            .cast("double") / F.sum("nc").cast("double"),
            6,
        ).alias("share_above_05"),
    )


def order_total_reconciliation(
    df_orders: DataFrame,
    df_items: DataFrame,
    tolerance: float = 0.01,
) -> DataFrame:
    """Header-vs-detail reconciliation: does each order's stored
    total equal the TPC-H derivation Σ extendedprice·(1−discount)·
    (1+tax) over its lines? The cross-TABLE row-grain audit completing
    the family — q206 checks derived columns in ONE row, q175 checks
    whole-table totals (which can balance while headers and details
    disagree in compensating directions); this checks every header
    against its own detail rows::

        o_orderpriority: as input
        n_orders: bigint
        n_no_items: bigint          -- headers with no detail rows
        n_match: bigint             -- |stored − derived| <= tolerance
        match_rate: double (6 dp)   -- over orders WITH items
        max_abs_drift: double (2 dp)
        mean_drift: double (2 dp)   -- signed, stored − derived

    Scale shape: detail collapses to the order key FIRST (map-side-
    combined groupBy — the q172 discipline: never join raw detail
    rows), then ONE join to headers on the key, then a priority-grain
    aggregate. Drift magnitudes report at 2 dp: these are currency
    sums (~1e5), where 6 dp is below double ulp noise at group-sum
    magnitude."""
    derived = df_items.groupBy(
        F.col("l_orderkey").alias("o_orderkey")
    ).agg(
        F.sum(
            F.col("l_extendedprice")
            * (F.lit(1.0) - F.col("l_discount"))
            * (F.lit(1.0) + F.col("l_tax"))
        ).alias("__derived")
    )
    j = df_orders.select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    ).join(derived, "o_orderkey", "left")
    drift = F.col("o_totalprice") - F.col("__derived")
    has = F.col("__derived").isNotNull()
    ok = has & (F.abs(drift) <= F.lit(float(tolerance)))
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.when(has, 0).otherwise(1)).cast("long")
            .alias("n_no_items"),
            F.sum(F.when(ok, 1).otherwise(0)).cast("long")
            .alias("n_match"),
            F.round(
                F.sum(F.when(ok, 1).otherwise(0)).cast("double")
                / F.sum(F.when(has, 1).otherwise(0)).cast("double"),
                6,
            ).alias("match_rate"),
            F.round(F.max(F.abs(drift)), 2).alias("max_abs_drift"),
            F.round(F.avg(drift), 2).alias("mean_drift"),
        )
        .orderBy("o_orderpriority")
    )


def ship_latency_profile(
    df_orders: DataFrame,
    df_items: DataFrame,
) -> DataFrame:
    """Order-to-ship latency distribution per order priority: exact
    day lags from header date to each line's ship date, quartiles +
    p95 + late-tail share — does the priority field actually buy
    latency? A priority class whose p95 matches the lowest class is a
    routing bug; negative lags (shipped before ordered) are clock or
    join corruption and get their own counter::

        o_orderpriority: as input
        n_lines: bigint
        n_negative: bigint
        p25_days, median_days, p75_days, p95_days: double (6 dp)
        share_over_60d: double (6 dp)

    Determinism: lags are exact integer datediff days; percentiles
    are the exact interpolated form (the q25 contract: Spark
    ``percentile`` == DuckDB ``quantile_cont``). Scale shape: one
    broadcast-or-shuffle join on the order key, one per-priority
    aggregate; exact percentile is the stated cost, approx_percentile
    the stated 100-TB swap."""
    j = df_items.select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("l_shipdate"),
    ).join(
        df_orders.select("o_orderkey", "o_orderpriority", "o_orderdate"),
        "o_orderkey",
    )
    lag = F.datediff(
        F.to_date(F.col("l_shipdate").cast("timestamp")),
        F.to_date(F.col("o_orderdate").cast("timestamp")),
    ).cast("double")
    base = j.select(
        "o_orderpriority", lag.alias("__lag")
    ).where(F.col("__lag").isNotNull())
    return (
        base.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.when(F.col("__lag") < 0, 1).otherwise(0))
            .cast("long").alias("n_negative"),
            F.round(F.expr("percentile(__lag, 0.25)"), 6)
            .alias("p25_days"),
            F.round(F.expr("percentile(__lag, 0.5)"), 6)
            .alias("median_days"),
            F.round(F.expr("percentile(__lag, 0.75)"), 6)
            .alias("p75_days"),
            F.round(F.expr("percentile(__lag, 0.95)"), 6)
            .alias("p95_days"),
            F.round(
                F.sum(F.when(F.col("__lag") > 60, 1).otherwise(0))
                .cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("share_over_60d"),
        )
        .orderBy("o_orderpriority")
    )


def _avg_rank_table(
    df: DataFrame, col: str, buckets: int = 32,
    pre_filtered: bool = False,
) -> DataFrame:
    """Average (fractional) rank per DISTINCT value of ``col`` — the
    building block of :func:`spearman_matrix`. Returns (``__v``,
    ``__rank``) where ``__rank`` is the mean of the positions the
    value's ties would occupy in a full sort (1-based).

    Scale shape: never a global single-reducer sort. Values collapse
    to per-value counts first (groupBy); the below-count prefix is the
    exact bucketed running sum of :mod:`~soda_core_spark.operators.prefix`
    at distinct-value grain, bucketed by ≤ ``buckets`` quantile-sketch
    value ranges."""
    v = F.col(col).cast("double")
    vals = df.select(v.alias("__v"))
    if not pre_filtered:
        # ``pre_filtered=True`` skips this for callers that already
        # exclude NULL/NaN rows: on a DERIVED column the isnan predicate
        # is pushed into the scan filter and re-evaluates the column's
        # whole expression per row (spearman_correlation's word-count
        # signal carried a full tokenization into the filter)
        vals = vals.where(
            F.col("__v").isNotNull() & ~F.isnan(F.col("__v"))
        )
    counts = vals.groupBy("__v").agg(F.count(F.lit(1)).alias("__c"))
    [bucket] = prefix.sketch_buckets(vals, ["__v"], buckets)
    ranked = prefix.running_sum(counts, F.col("__c"), bucket, [F.col("__v")])
    below = F.col(prefix.CUM) - F.col("__c")
    return ranked.select(
        "__v",
        (below.cast("double") + (F.col("__c") + 1) / 2.0).alias("__rank"),
    )


def spearman_matrix(
    df: DataFrame, cols: list[str], buckets: int = 32
) -> DataFrame:
    """Pairwise Spearman rank correlation of k numeric columns —
    the monotone-association companion to :func:`correlation_matrix`
    (Pearson): outlier-robust, catches nonlinear-but-monotone
    dependence that r misses. Listwise NULL/NaN policy: rows with a
    missing value in ANY of ``cols`` are dropped first (average
    ranks are corpus-wide positions, so pairwise deletion would give
    each pair inconsistent rankings — the policy is documented, not
    silent).

    One row per unordered pair::

        col_a, col_b: string, n: bigint, rho: double (6 dp)

    Scale shape: one rank table per column via
    :func:`_avg_rank_table` (distinct-value grain, two-stage cumsum,
    no global sort), k value-keyed joins to pin ranks back on rows,
    then ALL pairs' Pearson sums ride the single fused aggregate of
    :func:`correlation_matrix`. Ranks of ties are exact half-integers
    on both engines, so rho agrees to float-sum drift (rounded)."""
    base = df.select(
        *[F.col(c).cast("double").alias(c) for c in cols]
    )
    cond = None
    for c in cols:
        ok = F.col(c).isNotNull() & ~F.isnan(F.col(c))
        cond = ok if cond is None else (cond & ok)
    base = base.where(cond)
    out = base
    for c in cols:
        rt = _avg_rank_table(base, c, buckets=buckets)
        out = out.join(
            rt.withColumnRenamed("__v", f"__v_{c}").withColumnRenamed(
                "__rank", f"__r_{c}"
            ),
            out[c] == F.col(f"__v_{c}"),
        ).drop(f"__v_{c}")
    ranked = out.select(
        *[F.col(f"__r_{c}").alias(c) for c in cols]
    )
    return correlation_matrix(ranked, cols).withColumnRenamed("r", "rho")


def cramers_v(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Cramér's V association between two categorical columns — the
    categorical analogue of a correlation coefficient: 0 independent,
    1 one column determines the other. Flags redundant dimensions
    (V≈1: drop one) and surprise couplings in release audits. NULL
    policy: rows missing EITHER column are excluded (documented).

    One row::

        col_a, col_b: string, n: bigint, dof: bigint,
        chi2: double (4 dp), v: double (6 dp) -- NULL when dof = 0

    χ² sums over all r·c cells; unobserved cells contribute their
    expectation, folded in algebraically (χ² = Σ_obs (o−e)²/e + N −
    Σ_obs e) so empty cells are never materialized. Scale shape: ONE
    corpus pass to (a, b) cell counts; marginals, totals and the χ²
    reduction all run on the tiny cell table."""
    a, b = F.col(col_a), F.col(col_b)
    cells = (
        df.where(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("__a"), b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__o"))
    )
    ma = cells.groupBy("__a").agg(F.sum("__o").alias("__ca"))
    mb = cells.groupBy("__b").agg(F.sum("__o").alias("__cb"))
    joined = cells.join(F.broadcast(ma), "__a").join(
        F.broadcast(mb), "__b"
    )
    e = (
        F.col("__ca").cast("double")
        * F.col("__cb").cast("double")
        / F.sum("__o").over(Window.partitionBy())
    )
    # window-total avoids a second pass; the window is over the tiny
    # cell table, not the corpus
    stats = joined.select(
        F.col("__o").cast("double").alias("o"), e.alias("e")
    ).agg(
        F.sum(
            (F.col("o") - F.col("e")) * (F.col("o") - F.col("e"))
            / F.col("e")
        ).alias("__chi_obs"),
        F.sum("e").alias("__e_obs"),
        F.sum("o").cast("long").alias("n"),
    )
    dims = (
        ma.agg(F.count(F.lit(1)).alias("__r"))
        .crossJoin(mb.agg(F.count(F.lit(1)).alias("__c")))
    )
    out = stats.crossJoin(F.broadcast(dims))
    chi2 = (
        F.col("__chi_obs")
        + F.col("n").cast("double")
        - F.col("__e_obs")
    )
    mindim = F.least("__r", "__c") - 1
    dof = ((F.col("__r") - 1) * (F.col("__c") - 1)).cast("long")
    return out.select(
        F.lit(col_a).alias("col_a"),
        F.lit(col_b).alias("col_b"),
        F.col("n"),
        dof.alias("dof"),
        F.round(chi2, 4).alias("chi2"),
        F.round(
            F.when(
                (mindim > 0) & (F.col("n") > 0),
                F.sqrt(chi2 / (F.col("n").cast("double") * mindim)),
            ),
            6,
        ).alias("v"),
    )


def mad_outlier_audit(
    df: DataFrame,
    group_col: str,
    value_col: str,
    cutoff: float = 3.0,
) -> DataFrame:
    """Robust outlier audit per group: median + MAD (median absolute
    deviation, scaled by 1.4826 to estimate σ under normality) and
    the share of rows beyond ``cutoff`` robust z-units — the
    Tukey-fence audit's (q204) heavy-tail-safe sibling: a single
    wild value moves a mean/stddev gate but not a median/MAD gate.

    One row per group::

        <group_col>: as input, n: bigint,
        median: double (6 dp), mad: double (6 dp),
        n_outliers: bigint, outlier_share: double (6 dp)

    Determinism: exact interpolated percentiles on both engines (the
    q25 contract); the outlier comparison uses the un-rounded
    median/MAD so both engines compare identical doubles. Scale
    shape: three grouped passes (medians → MADs → counts), each a
    plain aggregate with the per-group scalars broadcast back —
    exact MAD is the stated cost, approx_percentile the stated
    100-TB swap."""
    g = F.col(group_col)
    x = F.col(value_col).cast("double")
    base = df.select(g.alias("__g"), x.alias("__x")).where(
        F.col("__x").isNotNull() & ~F.isnan(F.col("__x"))
    )
    med = base.groupBy("__g").agg(
        F.expr("percentile(__x, 0.5)").alias("__med"),
        F.count(F.lit(1)).alias("n"),
    )
    dev = base.join(F.broadcast(med), "__g").select(
        "__g", "__x", "__med",
        F.abs(F.col("__x") - F.col("__med")).alias("__adev"),
    )
    mad = dev.groupBy("__g").agg(
        F.expr("percentile(__adev, 0.5)").alias("__mad")
    )
    fenced = dev.join(F.broadcast(mad), "__g")
    thresh = F.lit(float(cutoff)) * 1.4826 * F.col("__mad")
    return (
        fenced.groupBy("__g")
        .agg(
            F.sum(
                F.when(F.col("__adev") > thresh, 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
        .join(F.broadcast(med), "__g")
        .join(F.broadcast(mad), "__g")
        .select(
            F.col("__g").alias(group_col),
            F.col("n"),
            F.round("__med", 6).alias("median"),
            F.round("__mad", 6).alias("mad"),
            "n_outliers",
            F.round(
                F.col("n_outliers").cast("double")
                / F.col("n").cast("double"),
                6,
            ).alias("outlier_share"),
        )
        .orderBy(group_col)
    )


def vocabulary_richness(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Yule's K and Simpson's token diversity per group — repetition-
    robust vocabulary-richness constants (unlike raw type/token ratio
    both are nearly length-invariant): K rises when a corpus leans on
    few types (boilerplate, spam), Simpson's D is the probability two
    random tokens coincide. Complements q159 (Heaps-law growth) with
    a size-free per-group constant.

    One row per group::

        <group_col>: as input, n_tokens: bigint, vocab: bigint,
        yule_k: double (4 dp), simpson_d: double (8 dp)

    K = 10⁴·(Σ m²V_m − N)/N², D = Σ m(m−1)/(N(N−1)) with V_m = #types
    occurring m times, all-integer sums (Σ m²V_m ≤ N² stays inside a
    long) → bit-exact across engines before the display rounding.
    Scale shape: explode → (group, token) counts → per-group reduce;
    the frequency-of-frequencies table never materializes wider than
    the vocabulary."""
    toks = df.select(
        F.col(group_col).alias("__g"),
        F.explode(_ws_tokens(text_col)).alias("__tok"),
    )
    tf = toks.groupBy("__g", "__tok").agg(
        F.count(F.lit(1)).alias("__m")
    )
    per = tf.groupBy("__g").agg(
        F.sum("__m").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.col("__m") * F.col("__m")).cast("long").alias("__m2"),
        F.sum(F.col("__m") * (F.col("__m") - 1)).cast("long")
        .alias("__mm1"),
    )
    n = F.col("n_tokens").cast("double")
    return per.select(
        F.col("__g").alias(group_col),
        "n_tokens",
        "vocab",
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                1e4 * (F.col("__m2") - F.col("n_tokens")) / (n * n),
            ),
            4,
        ).alias("yule_k"),
        F.round(
            F.when(
                F.col("n_tokens") > 1,
                F.col("__mm1") / (n * (n - 1)),
            ),
            8,
        ).alias("simpson_d"),
    ).orderBy(group_col)


def sentence_length_profile(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group words-per-sentence profile — the Gopher-adjacent
    structure signal the word-level rules can't see: machine-generated
    or boilerplate pages show degenerate sentence lengths (run-on walls
    of text or staccato fragment lists), and a page that never ends a
    sentence at all usually isn't prose. Sentences are maximal
    ``[.!?]+`` runs; both engines count the SAME runs so the per-doc
    ratio is bit-identical before the exact median interpolates.

    One row per group::

        <group_col>: as input, n_docs: bigint,
        median_wps: double (6 dp)    -- doc-level words/sentence median
        share_wps_degenerate: double (6 dp)
            -- docs with no sentence at all, or mean wps outside [3, 90]
        share_no_terminal_end: double (6 dp)
            -- docs whose text does not end with .!? (+ trailing space)

    Scale shape: one zero-shuffle projection to three per-doc numbers,
    one grouped reduce; exact percentile is the stated cost,
    approx_percentile the stated 100-TB swap."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_words = F.size(_ws_tokens(text_col))
    n_sents = F.expr(f"regexp_count(coalesce({text_col}, ''), '[.!?]+')")
    wps = F.when(n_sents > 0, n_words.cast("double") / n_sents)
    degenerate = F.when(
        wps.isNull() | (wps < 3.0) | (wps > 90.0), 1
    ).otherwise(0)
    no_term = F.when(
        t.rlike("[.!?][ \\t\\n\\r]*$"), 0
    ).otherwise(1)
    base = df.select(
        F.col(group_col).alias("__g"),
        wps.alias("__wps"),
        degenerate.alias("__deg"),
        no_term.alias("__noterm"),
    )
    return (
        base.groupBy("__g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.expr("percentile(__wps, 0.5)"), 6)
            .alias("median_wps"),
            F.round(F.avg("__deg"), 6).alias("share_wps_degenerate"),
            F.round(F.avg("__noterm"), 6).alias("share_no_terminal_end"),
        )
        .select(
            F.col("__g").alias(group_col),
            "n_docs", "median_wps",
            "share_wps_degenerate", "share_no_terminal_end",
        )
        .orderBy(group_col)
    )


def capitalization_profile(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group capitalization census: ALL-CAPS token share and
    uppercase share of alphabetic characters — shouting/spam and
    navigation-chrome pages (menus, headers scraped as text) sit far
    above prose on both. Case-sensitive by necessity, so it cannot
    reuse the lowered shared tokenizer; tokens are raw whitespace
    splits.

    One row per group::

        <group_col>: as input, n_docs: bigint, n_tokens: bigint,
        allcaps_token_share: double (6 dp) -- tokens ~ ^[A-Z]{2,}$
        upper_char_share: double (6 dp)    -- [A-Z] chars / [A-Za-z]

    All-integer counts → exact cross-engine; one zero-shuffle
    projection + one grouped reduce; the token filter is a
    higher-order column function, never Python."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = words_col(t)
    n_allcaps = F.size(
        F.filter(toks, lambda w: w.rlike("^[A-Z]{2,}$"))
    ).cast("long")
    n_toks = F.size(toks).cast("long")
    n_alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", "")).cast("long")
    n_upper = F.length(F.regexp_replace(t, "[^A-Z]", "")).cast("long")
    base = df.select(
        F.col(group_col).alias("__g"),
        n_toks.alias("__nt"),
        n_allcaps.alias("__nc"),
        n_alpha.alias("__na"),
        n_upper.alias("__nu"),
    )
    return (
        base.groupBy("__g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__nt").cast("long").alias("n_tokens"),
            F.round(
                F.when(
                    F.sum("__nt") > 0,
                    F.sum("__nc").cast("double") / F.sum("__nt"),
                ),
                6,
            ).alias("allcaps_token_share"),
            F.round(
                F.when(
                    F.sum("__na") > 0,
                    F.sum("__nu").cast("double") / F.sum("__na"),
                ),
                6,
            ).alias("upper_char_share"),
        )
        .select(
            F.col("__g").alias(group_col),
            "n_docs", "n_tokens",
            "allcaps_token_share", "upper_char_share",
        )
        .orderBy(group_col)
    )


def punctuation_run_profile(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    min_run: int = 3,
) -> DataFrame:
    """Per-group repeated-punctuation census ("!!!", "????", "....."):
    runs of ``min_run``+ punctuation marks are a spam/clickbait/ASCII-
    art fingerprint that survives lowercasing and dedup. Runs are
    maximal ``[!?.,;:]{min_run,}`` matches — identical extraction on
    both engines.

    One row per group::

        <group_col>: as input, n_docs: bigint,
        docs_with_runs: bigint, n_runs: bigint,
        runs_per_kchar: double (4 dp) -- runs per 1000 text chars
        max_run_len: bigint           -- longest single run

    Integer counts → exact; one projection + one grouped reduce."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    pat = "[!?.,;:]{" + str(int(min_run)) + ",}"
    runs = F.expr(
        f"regexp_extract_all(coalesce({text_col}, ''), '{pat}', 0)"
    )
    n_runs = F.size(runs).cast("long")
    max_run = F.array_max(F.transform(runs, F.length)).cast("long")
    base = df.select(
        F.col(group_col).alias("__g"),
        n_runs.alias("__nr"),
        max_run.alias("__mr"),
        F.length(t).cast("long").alias("__len"),
    )
    return (
        base.groupBy("__g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("__nr") > 0, 1).otherwise(0))
            .cast("long").alias("docs_with_runs"),
            F.sum("__nr").cast("long").alias("n_runs"),
            F.round(
                F.when(
                    F.sum("__len") > 0,
                    1000.0 * F.sum("__nr").cast("double")
                    / F.sum("__len").cast("double"),
                ),
                4,
            ).alias("runs_per_kchar"),
            F.max("__mr").alias("max_run_len"),
        )
        .select(
            F.col("__g").alias(group_col),
            "n_docs", "docs_with_runs", "n_runs",
            "runs_per_kchar", "max_run_len",
        )
        .orderBy(group_col)
    )


def bracket_balance_audit(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group delimiter-balance audit: unmatched parens/brackets/
    braces and odd double-quote counts — truncated extractions, broken
    markup stripping and mid-sentence cuts leave unbalanced delimiters
    at rates prose never does (the q182 truncation audit's
    character-level sibling). Counts use the length-minus-translate
    idiom (the C4 rule-pack trick) so both engines count the same
    bytes.

    One row per group::

        <group_col>: as input, n_docs: bigint,
        n_unbalanced_paren / _bracket / _brace: bigint,
        n_odd_quotes: bigint,
        share_any_unbalanced: double (6 dp)

    All-integer → exact; one projection + one grouped reduce."""
    t = F.coalesce(F.col(text_col), F.lit(""))

    def cnt(ch: str):
        return F.length(t) - F.length(F.translate(t, ch, ""))

    up = (cnt("(") != cnt(")")).cast("int")
    ub = (cnt("[") != cnt("]")).cast("int")
    uc = (cnt("{") != cnt("}")).cast("int")
    oq = (cnt('"') % 2 != 0).cast("int")
    any_bad = F.greatest(up, ub, uc, oq)
    base = df.select(
        F.col(group_col).alias("__g"),
        up.alias("__p"), ub.alias("__b"),
        uc.alias("__c"), oq.alias("__q"),
        any_bad.alias("__any"),
    )
    return (
        base.groupBy("__g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__p").cast("long").alias("n_unbalanced_paren"),
            F.sum("__b").cast("long").alias("n_unbalanced_bracket"),
            F.sum("__c").cast("long").alias("n_unbalanced_brace"),
            F.sum("__q").cast("long").alias("n_odd_quotes"),
            F.round(F.avg("__any"), 6).alias("share_any_unbalanced"),
        )
        .select(
            F.col("__g").alias(group_col),
            "n_docs", "n_unbalanced_paren", "n_unbalanced_bracket",
            "n_unbalanced_brace", "n_odd_quotes",
            "share_any_unbalanced",
        )
        .orderBy(group_col)
    )


def source_token_cosine(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise cosine similarity between per-group token-frequency
    vectors — the source-fingerprint matrix: two feeds with cos ≈ 1
    are the same upstream corpus wearing different labels (merge or
    dedup them), a source whose similarity to every sibling drops
    release-over-release changed its extraction. Complements q202
    (per-source KL from the corpus mix) with a source×source view.

    One row per unordered group pair::

        source_a, source_b: string, dot: bigint, cos_sim: double (6 dp)

    Determinism: the dot product and both squared norms are exact
    integer sums (token counts); the one rounding-sensitive op,
    dot/√(na²·nb²), is the same double expression on both engines.
    Scale shape: ONE corpus pass to (group, token) counts; the pair
    join is keyed on token, so each token contributes at most
    |groups touching it|² pair rows — bounded by |groups|², never by
    corpus size. For |groups| beyond dashboard scale, pre-filter to
    top-vocab tokens before calling."""
    tf = (
        df.select(
            F.col(group_col).alias("__g"),
            F.explode(_ws_tokens(text_col)).alias("__tok"),
        )
        .groupBy("__g", "__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    norms = tf.groupBy("__g").agg(
        F.sum(F.col("__c") * F.col("__c")).cast("long").alias("__n2")
    )
    a = tf.select(
        F.col("__g").alias("source_a"),
        F.col("__tok"),
        F.col("__c").alias("__ca"),
    )
    b = tf.select(
        F.col("__g").alias("source_b"),
        F.col("__tok"),
        F.col("__c").alias("__cb"),
    )
    pairs = (
        a.join(b, "__tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(F.col("__ca").cast("long") * F.col("__cb"))
            .cast("long").alias("dot")
        )
    )
    na = norms.select(
        F.col("__g").alias("source_a"), F.col("__n2").alias("__na2")
    )
    nb = norms.select(
        F.col("__g").alias("source_b"), F.col("__n2").alias("__nb2")
    )
    return (
        pairs.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a", "source_b", "dot",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(
                    F.col("__na2").cast("double")
                    * F.col("__nb2").cast("double")
                ),
                6,
            ).alias("cos_sim"),
        )
        .orderBy("source_a", "source_b")
    )


def temporal_mentions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Year-mention histogram (1900–2029 word-bounded tokens) across
    the corpus — the content-recency profile: a training corpus whose
    mentions cluster years behind the crawl date teaches a stale
    world; a spike on one year flags a scraped archive or calendar
    trap. Cheap proxy for document dating when no metadata survives
    extraction.

    One row per mentioned year::

        year: bigint, n_mentions: bigint, n_docs: bigint

    \\b is the ASCII word boundary on BOTH engines (Java default and
    RE2 agree); counts are exact integers. Scale shape: extract-all →
    explode → one (year) reduce; the distinct-doc count rides the
    same aggregate."""
    # doubled backslash: Spark SQL string literals eat one level of
    # escaping before the regex engine sees the pattern
    pat = r"\\b(19[0-9]{2}|20[0-2][0-9])\\b"
    years = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.expr(
                f"regexp_extract_all(coalesce({text_col}, ''),"
                f" '{pat}', 0)"
            )
        ).alias("__y"),
    )
    return (
        years.groupBy(F.col("__y").cast("long").alias("year"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_mentions"),
            F.countDistinct("__id").cast("long").alias("n_docs"),
        )
        .orderBy("year")
    )


def quoted_text_share(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group share of text inside double quotes — heavy quoting
    marks aggregation/news-wire content (mostly other people's words:
    near-dup risk against the quoted originals) while zero quoting
    across an allegedly conversational source flags extraction loss.
    Spans are maximal ``"[^"\\n]*"`` matches — no backtracking
    ambiguity, identical on both engines.

    One row per group::

        <group_col>: as input, n_docs: bigint, docs_with_quotes: bigint,
        n_quotes: bigint, quoted_char_share: double (6 dp)
            -- chars inside quotes (delimiters excluded) / all chars
        mean_quote_len: double (4 dp)  -- inner length per span

    Integer sums → exact; one projection + one grouped reduce."""
    spans = F.expr(
        f"regexp_extract_all(coalesce({text_col}, ''),"
        " '\"[^\"\\n]*\"', 0)"
    )
    n_spans = F.size(spans).cast("long")
    inner_chars = F.coalesce(
        F.aggregate(
            spans,
            F.lit(0).cast("long"),
            lambda acc, s: acc + F.length(s) - 2,
        ),
        F.lit(0).cast("long"),
    )
    base = df.select(
        F.col(group_col).alias("__g"),
        n_spans.alias("__ns"),
        inner_chars.alias("__ic"),
        F.length(F.coalesce(F.col(text_col), F.lit("")))
        .cast("long").alias("__len"),
    )
    return (
        base.groupBy("__g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("__ns") > 0, 1).otherwise(0))
            .cast("long").alias("docs_with_quotes"),
            F.sum("__ns").cast("long").alias("n_quotes"),
            F.round(
                F.when(
                    F.sum("__len") > 0,
                    F.sum("__ic").cast("double")
                    / F.sum("__len").cast("double"),
                ),
                6,
            ).alias("quoted_char_share"),
            F.round(
                F.when(
                    F.sum("__ns") > 0,
                    F.sum("__ic").cast("double")
                    / F.sum("__ns").cast("double"),
                ),
                4,
            ).alias("mean_quote_len"),
        )
        .select(
            F.col("__g").alias(group_col),
            "n_docs", "docs_with_quotes", "n_quotes",
            "quoted_char_share", "mean_quote_len",
        )
        .orderBy(group_col)
    )


def anova_oneway(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """One-way ANOVA across groups: does the group label explain any
    of the numeric column's variance? F far above 1 with a large η²
    means per-group thresholds (q146's language-fair calibration) are
    mandatory; η² ≈ 0 licenses one global gate. NULL/NaN rows are
    excluded.

    ONE row::

        k_groups: bigint, n: bigint,
        ssb, ssw: double (4 dp), f_stat: double (6 dp),
        eta_sq: double (6 dp)
        -- f_stat NULL when k < 2 or n <= k or SSW = 0

    Determinism: per-group (n, Σx, Σx²) reduce first; every derived
    quantity is the same double expression over those sums on both
    engines (SSB = Σ sx²/n_g − SX²/N, SSW = SX2 − Σ sx²/n_g). Scale
    shape: one grouped pass, then a |groups|-row reduce."""
    g = F.col(group_col)
    x = F.col(value_col).cast("double")
    base = df.select(g.alias("__g"), x.alias("__x")).where(
        F.col("__x").isNotNull() & ~F.isnan(F.col("__x"))
    )
    per = base.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sx2"),
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("__n").cast("long").alias("n"),
        F.sum("__sx").alias("__SX"),
        F.sum("__sx2").alias("__SX2"),
        F.sum(F.col("__sx") * F.col("__sx") / F.col("__n"))
        .alias("__SG"),
    )
    nd = F.col("n").cast("double")
    ssb = F.col("__SG") - F.col("__SX") * F.col("__SX") / nd
    ssw = F.col("__SX2") - F.col("__SG")
    sst = F.col("__SX2") - F.col("__SX") * F.col("__SX") / nd
    k = F.col("k_groups")
    f = F.when(
        (k >= 2) & (F.col("n") > k) & (ssw > 0),
        (ssb / (k - 1).cast("double"))
        / (ssw / (F.col("n") - k).cast("double")),
    )
    eta = F.when(sst > 0, ssb / sst)
    return tot.select(
        "k_groups", "n",
        F.round(ssb, 4).alias("ssb"),
        F.round(ssw, 4).alias("ssw"),
        F.round(f, 6).alias("f_stat"),
        F.round(eta, 6).alias("eta_sq"),
    )


def brown_forsythe(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test: one-way ANOVA on
    |x − group median| — are the groups' SPREADS equal, not just
    their centers? Unequal spread invalidates pooled thresholds even
    when means match, and the median-based form stays calibrated
    under the heavy tails web data actually has (Levene's
    mean-based form does not).

    ONE row (same schema as :func:`anova_oneway` over the absolute
    deviations)::

        k_groups: bigint, n: bigint, ssb, ssw: double (4 dp),
        bf_stat: double (6 dp), eta_sq: double (6 dp)

    Scale shape: medians via exact percentile (one grouped pass),
    broadcast back, then the ANOVA reduce on deviations — three
    grouped passes total; approx_percentile is the 100-TB swap."""
    g = F.col(group_col)
    x = F.col(value_col).cast("double")
    base = df.select(g.alias("__g0"), x.alias("__x0")).where(
        F.col("__x0").isNotNull() & ~F.isnan(F.col("__x0"))
    )
    med = base.groupBy("__g0").agg(
        F.expr("percentile(__x0, 0.5)").alias("__med")
    )
    dev = base.join(F.broadcast(med), "__g0").select(
        F.col("__g0").alias(group_col),
        F.abs(F.col("__x0") - F.col("__med")).alias("__z"),
    )
    return anova_oneway(dev, group_col, "__z").withColumnRenamed(
        "f_stat", "bf_stat"
    )


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Weighted lower median per group: the smallest value whose
    cumulative weight reaches half the group's total — "the price at
    which half the QUANTITY (not half the rows) has shipped". Row
    medians mis-state any quantity-weighted distribution where big
    rows differ systematically from small ones.

    One row per group::

        <group_col>: as input, total_weight: bigint,
        weighted_median: double

    Determinism: rows collapse to (group, value) grain first, the
    cumulative weight is an exact integer sum, and the half-total
    test is ``2·cumw ≥ W`` — no division, no float boundary. Scale
    shape: one (group, value) aggregate, one per-group window over
    the DISTINCT-value grain (already shrunk), one argmin reduce —
    the corpus shuffles once on the group key."""
    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("long")
    per_val = (
        df.where(v.isNotNull() & ~F.isnan(v) & w.isNotNull())
        .groupBy(g.alias("__g"), v.alias("__v"))
        .agg(F.sum(w).alias("__w"))
    )
    win = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot_w = Window.partitionBy("__g")
    cum = per_val.select(
        "__g", "__v",
        F.sum("__w").over(win).alias("__cw"),
        F.sum("__w").over(tot_w).alias("__W"),
    )
    return (
        cum.where(2 * F.col("__cw") >= F.col("__W"))
        .groupBy("__g")
        .agg(
            F.max("__W").cast("long").alias("total_weight"),
            F.min("__v").alias("weighted_median"),
        )
        .select(
            F.col("__g").alias(group_col),
            "total_weight", "weighted_median",
        )
        .orderBy(group_col)
    )


def pareto_frontier2d(
    df: DataFrame,
    minimize_col: str,
    maximize_col: str,
    id_col: str,
) -> DataFrame:
    """2-D skyline: rows not dominated by any other (another row with
    ``minimize_col`` ≤ AND ``maximize_col`` ≥, one strictly better) —
    the best-tradeoff set (cheapest part per size class and better,
    best quality-per-cost document, …). The naive formulation is a
    quadratic NOT-EXISTS self-join; the sort form is linear after ONE
    range shuffle.

    Output: ``id_col``, both criteria columns, dominated-free,
    ordered by ``minimize_col``.

    Algorithm: collapse to the per-``minimize`` best ``maximize``
    (ties on the minimize axis can only dominate each other), then a
    running max of ``maximize`` over STRICTLY smaller minimize values
    (window ending at -1 row): a row survives iff it beats every
    cheaper row's best. Representative per surviving point: smallest
    ``id_col`` (deterministic). Scale: one (minimize, maximize)-grain
    aggregate + one ordered window over the collapsed grain — never a
    self-join."""
    mn, mx = F.col(minimize_col), F.col(maximize_col)
    base = df.where(mn.isNotNull() & mx.isNotNull())
    per_min = base.groupBy(mn.alias("__mn")).agg(
        F.max(mx).alias("__mx")
    )
    w = (
        Window.orderBy("__mn")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = per_min.select(
        "__mn", "__mx",
        F.max("__mx").over(w).alias("__best_cheaper"),
    ).where(
        F.col("__best_cheaper").isNull()
        | (F.col("__mx") > F.col("__best_cheaper"))
    )
    # deterministic representative: the smallest id achieving the point
    reps = base.groupBy(
        mn.alias("__mn"), mx.alias("__mx")
    ).agg(F.min(F.col(id_col)).alias(id_col))
    return (
        frontier.join(reps, ["__mn", "__mx"])
        .select(
            id_col,
            F.col("__mn").alias(minimize_col),
            F.col("__mx").alias(maximize_col),
        )
        .orderBy(minimize_col)
    )


def _exact_ntiles(
    df: DataFrame,
    specs: list[tuple],
    tiles: int,
    buckets: int = 64,
) -> DataFrame:
    """Exact ``ntile(tiles) OVER (ORDER BY value, key)`` for one or more
    ``(value_col, key_col, out_col)`` specs — WITHOUT a single-partition
    window over the input grain (the q248/q249 scale fix).

    Per spec, the global row number r is the exact bucketed running
    count of :mod:`~soda_core_spark.operators.prefix`, ordered by
    (value NULLS FIRST, key) and bucketed by ≤ ``buckets`` value ranges
    from ONE quantile sketch shared by all specs (NULL values take
    bucket −1, reproducing the global window's NULLS FIRST). The ntile
    comes from r and the total N by the standard-SQL split (first
    N mod tiles tiles get ⌈N/tiles⌉ rows) — exactly Spark's and
    DuckDB's NTile arithmetic, so results are identical to the window
    form.

    Tie-safety requires (value, key) to be unique per row — the callers
    order by an aggregate with the group key as tiebreak, which is.
    Integer math throughout (float division only below 2^53).

    A spec may carry a 4th element ``bucket_col``: a NUMERIC column
    that is a monotone (possibly coarser) image of ``value_col`` with
    NULL exactly where the value is NULL — used for the sketch and the
    bucket assignment while the within-bucket ordering stays on the
    ORIGINAL value (e.g. epoch days for a timestamp: the sketch needs
    a numeric column, and day-truncation maps order-contiguous value
    ranges into buckets without losing intra-day rank order)."""
    norm = [
        (s[0], s[1], s[2], (s[3] if len(s) > 3 else s[0]))
        for s in specs
    ]
    sketched = prefix.sketch_buckets(df, [s[3] for s in norm], buckets)
    out = df
    for (value_col, key_col, out_col, _), nn_bucket in zip(norm, sketched):
        bucket = F.when(
            F.col(value_col).isNull(), F.lit(-1)
        ).otherwise(nn_bucket)
        order = [F.col(value_col).asc_nulls_first(), F.col(key_col)]
        ranked = prefix.running_sum(out, F.lit(1), bucket, order)
        r = F.col(prefix.CUM).cast("long")
        n = F.col(prefix.TOTAL)
        q = F.floor(n / tiles).cast("long")
        rem = n % tiles
        cut_rows = rem * (q + 1)
        tile = F.when(
            r <= cut_rows, F.floor((r - 1) / (q + 1)) + 1
        ).otherwise(rem + F.floor((r - 1 - cut_rows) / q) + 1)
        out = ranked.withColumn(out_col, tile.cast("long")).drop(
            prefix.CUM, prefix.TOTAL
        )
    return out


def lorenz_deciles(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Lorenz curve at decile grain: entities ranked by their summed
    value ascending, cumulative value share per population decile —
    the curve behind q148's Gini scalar (two corpora can share a Gini
    and concentrate in different tails; the curve shows WHERE).

    One row per decile::

        decile: bigint (1..10),
        n_keys: bigint, decile_value: double (2 dp),
        cum_value_share: double (6 dp)

    Determinism: deciles assigned by ntile over (value, key) — the
    key tiebreak makes equal values order identically on both
    engines, and the ORDERING value is the exact integer-cents sum
    (a float sum's last-ulp depends on partial-sum order, so two
    entities with identical value multisets can swap sort positions
    across engines; integer cents cannot). Scale: one key-grain
    aggregate, a BUCKETED exact ntile over the key grain
    (:func:`_exact_ntiles` — no single-partition window; at 10^8-10^9
    entities the former global ``Window.orderBy`` funneled every key
    through one reducer), one 10-row reduce."""
    cents = F.round(F.col(value_col) * 100).cast("long")
    per_key = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.sum(cents).alias("__vc"),
        F.sum(F.col(value_col)).alias("__v"),
    )
    tiled = _exact_ntiles(
        per_key, [("__vc", "__k", "decile")], 10
    ).select("__k", "__v", "decile")
    per_dec = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("__v").alias("__dv"),
    )
    w2 = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy()
    return per_dec.select(
        F.col("decile").cast("long").alias("decile"),
        "n_keys",
        F.round("__dv", 2).alias("decile_value"),
        F.round(
            F.sum("__dv").over(w2) / F.sum("__dv").over(wt), 6
        ).alias("cum_value_share"),
    ).orderBy("decile")


def rfm_segments(
    df_orders: DataFrame,
    customer_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    buckets: int = 5,
) -> DataFrame:
    """RFM segmentation: per customer, recency (last order date),
    frequency (order count) and monetary (summed amount) quintile
    scores 1..buckets (higher = better), plus the combined segment —
    the standard customer-value census.

    One row per (r_score, f_score, m_score) cell::

        r_score, f_score, m_score: bigint, n_customers: bigint,
        total_amount: double (2 dp)

    Determinism: every ntile orders by (metric, customer) so ties
    split identically on both engines; recency/frequency are exact,
    and the monetary ORDERING key is the exact integer-cents sum — a
    float sum's last ulp depends on partial-sum order, so two
    customers with identical order multisets (common after corpus
    replication) can swap sort positions across engines; integer
    cents cannot. Scale: one customer-grain aggregate, three BUCKETED
    exact ntiles over the CUSTOMER grain (:func:`_exact_ntiles`, one
    shared quantile sketch — the former three global ``Window.orderBy``
    windows each funneled every customer through one reducer), one
    cell-grain reduce. The recency SKETCH/BUCKET column is a monotone
    numeric image of ``__last`` (epoch days); the within-bucket window
    orders by the full-precision timestamp itself, so ranks are
    unchanged — the image only has to keep order-contiguous ranges in
    the same bucket, which day truncation does."""
    from pyspark.sql import types as T

    cents = F.round(F.col(amount_col) * 100).cast("long")
    per_cust = df_orders.groupBy(
        F.col(customer_col).alias("__c")
    ).agg(
        F.max(F.col(ts_col)).alias("__last"),
        F.count(F.lit(1)).cast("long").alias("__freq"),
        F.sum(cents).alias("__amtc"),
        F.sum(F.col(amount_col)).alias("__amt"),
    )
    last_type = per_cust.schema["__last"].dataType
    if isinstance(last_type, T.DateType):
        last_num = F.datediff(F.col("__last"), F.lit("1970-01-01"))
    elif isinstance(last_type, (T.TimestampType, T.TimestampNTZType)):
        # coarse monotone bucket image (epoch DAYS); the within-bucket
        # window still orders by the full-precision __last, so
        # intra-day order is preserved
        last_num = F.datediff(
            F.col("__last").cast("date"), F.lit("1970-01-01")
        )
    else:  # already numeric
        last_num = F.col("__last")
    per_cust = per_cust.withColumn("__lastd", last_num)
    b = int(buckets)
    scored = _exact_ntiles(
        per_cust,
        [
            # later last order = better; sketch/bucket on the numeric
            # day image, order by the full-precision value
            ("__last", "__c", "r_score", "__lastd"),
            ("__freq", "__c", "f_score"),
            ("__amtc", "__c", "m_score"),
        ],
        b,
    ).select("__c", "__amt", "r_score", "f_score", "m_score")
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(F.sum("__amt"), 2).alias("total_amount"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )
