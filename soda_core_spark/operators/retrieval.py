"""Corpus retrieval operators: BM25 keyword search over the document
table — the inspect-your-training-data tool (find documents matching an
investigation query at corpus scale) and a ranking-quality signal.

Spark-first shape: the inverted index is never materialized — the
explode is filtered to the QUERY terms before any shuffle (predicate on
the exploded value pushes into the generator), so the shuffled relation
is |query terms| × matching docs, not corpus tokens. Per-term document
frequencies and the corpus length stats are broadcast; the final top-k
is orderBy+limit (TakeOrdered — no full sort at any scale).

soda-core has no retrieval surface (SURVEY §2.5); this is a
training-pipeline extension like operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from soda_core_spark.functions.text import words_col
from soda_core_spark.operators import prefix


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents by Okapi BM25 for a bag-of-words query.

    idf = ln(1 + (N − df + 0.5)/(df + 0.5)) (the non-negative "plus-1"
    form), score = Σ_terms idf · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl)).
    Tokenization is the engine contract: lowercased, ASCII-whitespace
    split. Deterministic output: ties break on ascending id; the score
    is rounded to 6 places for cross-engine comparison (raw ordering
    uses the unrounded double).
    """
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        raise ValueError("query_terms must be non-empty")
    t = F.coalesce(F.col(text_col), F.lit(""))
    # THE engine tokenization contract (functions/text.py words_col) —
    # never re-derived inline, so BM25 can't drift from the signal stack
    words = words_col(F.lower(t))
    base = df.select(F.col(id_col).alias("id"), words.alias("w"))
    lens = base.select("id", F.size("w").cast("double").alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        base.select("id", F.explode("w").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df_"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, "id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df_") + 0.5) / (F.col("df_") + 0.5) + 1.0
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    contrib = idf * F.col("tf") * (k1 + 1.0) / denom
    return (
        scored.withColumn("contrib", contrib)
        .groupBy("id")
        .agg(
            F.sum("contrib").alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        )
        .orderBy(F.desc("score"), F.col("id"))
        .limit(k)
        .select(
            F.col("id").alias(id_col),
            F.round("score", 6).alias("bm25"),
            "n_terms_matched",
        )
    )


def rank_fusion(
    df: DataFrame,
    signals: dict[str, "F.Column"],
    id_col: str = "doc_id",
    k: int = 60,
    buckets: int = 64,
) -> DataFrame:
    """Reciprocal-rank fusion of quality signals (Cormack, Clarke &
    Buettcher, SIGIR 2009): each document's fused score is
    ``sum_s 1/(k + rank_s(doc))`` over its competition rank under every
    signal (rank 1 = best, higher signal value = better; ties share a
    rank). RRF needs no signal calibration — incomparable scales
    (a density in [0,1], a log length, a negated repetition) fuse
    soundly because only order matters, which is exactly the situation
    with heterogeneous corpus-quality heuristics.

    Per document::

        <id_col>
        rank_<name>: bigint   -- competition rank under each signal
        rrf_micro: bigint     -- sum of floor(1e12 / (k + rank)):
                                 an ORDER-INSENSITIVE integer sum, so
                                 Spark's arbitrary aggregation order and
                                 any SQL engine agree bit-for-bit
        rrf_score: double     -- rrf_micro / 1e12, 6 dp (human scale)

    Scale shape — exact global ranks WITHOUT a global window. A naive
    ``rank() OVER (ORDER BY sig DESC)`` has no PARTITION BY, so Spark
    funnels the entire corpus through ONE task per signal. Instead:

    1. melt the S signals into (id, signal, value) long form in the one
       corpus scan, and collapse to DISTINCT (signal, value) counts — a
       map-side-combined aggregate, immune to tie skew;
    2. the exact bucketed running sum of
       :mod:`~soda_core_spark.operators.prefix` over those counts per
       signal, in descending value order, bucketed by uniform value
       ranges (min/max from a tiny aggregate, broadcast back): rank =
       1 + the count of strictly greater values, with no window wider
       than one (signal, bucket);
    3. one shuffle join of ranks back onto the long form, then a single
       groupBy(id) pivots ranks wide and sums the fused score.

    Only (id, signal-name, double) triples ever shuffle. NULL signal
    values are NOT supported — coalesce upstream (every
    ``functions.text`` signal is CASE-protected total). A signal that
    is constant over the corpus degrades gracefully: one bucket, every
    doc rank 1.

    soda-core analogue: none (SURVEY §2.5 extension) — this is the
    ensemble step a curation pipeline runs over the q11/q14/q15/q107
    signal family before thresholding.
    """
    if not signals:
        raise ValueError("signals must be non-empty")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    names = list(signals)
    sel = df.select(
        F.col(id_col),
        *[c.cast("double").alias(n) for n, c in signals.items()],
    )
    stack_args = ", ".join(f"'{n}', `{n}`" for n in names)
    long = sel.select(
        id_col,
        F.expr(f"stack({len(names)}, {stack_args})").alias(
            "__sig", "__val"
        ),
    )
    vals = long.groupBy("__sig", "__val").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    ranges = vals.groupBy("__sig").agg(
        F.min("__val").alias("__lo"), F.max("__val").alias("__hi")
    )
    span = F.col("__hi") - F.col("__lo")
    bucket = F.when(span > 0, F.least(
        F.lit(buckets - 1),
        F.floor((F.col("__hi") - F.col("__val")) / span * buckets),
    )).otherwise(F.lit(0))
    ranked = prefix.running_sum(
        vals.join(F.broadcast(ranges), "__sig"),
        F.col("__cnt"),
        bucket,
        [F.col("__val").desc()],
        ["__sig"],
    ).select(
        "__sig",
        "__val",
        (F.lit(1) + F.col(prefix.CUM) - F.col("__cnt")).alias("__rank"),
    )
    fused = long.join(ranked, ["__sig", "__val"])
    term = F.floor(F.lit(float(10**12)) / (F.lit(k) + F.col("__rank")))
    out = fused.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("__sig") == n, F.col("__rank")))
            .cast("long")
            .alias(f"rank_{n}")
            for n in names
        ],
        F.sum(term).cast("long").alias("rrf_micro"),
    )
    return out.withColumn(
        "rrf_score", F.round(F.col("rrf_micro") / F.lit(float(10**12)), 6)
    )
