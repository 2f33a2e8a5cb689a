"""fastText-style hashed n-gram quality classifier, Naive-Bayes
parametrization — the DCLM / FineWeb-Edu quality-filter workhorse as
three DataFrame aggregations.

The production pattern (Li et al. 2024, DCLM, arXiv:2406.11794; Penedo
et al. 2024, FineWeb): train a fastText-like linear classifier over
bag-of-hashed-word-n-grams (unigrams + bigrams) on "good vs raw"
labels, score every crawl document, keep the top slice. fastText's SGD
softmax is not deterministic across partitionings; this module ships
the multinomial-Naive-Bayes parametrization of the same hypothesis
class — a linear score over the same hashed n-gram counts whose weights
have a CLOSED FORM (per-bucket class-conditional log-likelihood
ratios), so training is ONE aggregation pass, bit-reproducible across
engines and partitionings, and DuckDB-oracle-checkable end to end. For
an iteratively-trained twin over dense signals see
``operators/training.py`` (distributed logreg GD); NB-over-ngrams is
the sparse-feature complement, and its weights are the classic NB-SVM
initialization if you later fine-tune with GD.

Scale shape at 10^12 documents:

* tokenize once per row; unigram and bigram buckets ride ONE explode
  (map-side partial aggregation collapses it before the (id, bucket)
  shuffle — the only O(corpus-tokens) movement, and it moves integers);
* the model is ≤ ``buckets`` rows (thousands) — always broadcastable;
  the class prior is ONE row;
* scoring = broadcast join + per-doc sum: no all-to-all shuffle of text
  ever happens after tokenization.

Engine-portability pins: token→bucket uses the 60-bit md5 hash
(``dedup.portable_token_hash``) mod ``buckets``; per-bucket log-ratios
and the prior are rounded to 12 dp before scoring; per-doc scores to
6 dp (summation-order drift ~1e-12 ≪ the grain) — the
``linkgraph.host_pagerank`` trajectory-pinning discipline.

soda-core has no classifier operator; this extends the quality-filter
family (SURVEY §2 training-pipeline additions) with the standard
model-based document filter used for LLM pre-training mixes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from soda_core_spark.functions.text import words_col
from soda_core_spark.operators.dsir import DEFAULT_BUCKETS, token_bucket

#: separator between bigram halves before hashing — the ASCII unit
#: separator, a control character page text does not carry, so the
#: concatenation is unambiguous; replayed by the oracle as ``chr(31)``.
BIGRAM_SEP = "\x1f"

#: Laplace smoothing mass per (bucket, class).
DEFAULT_ALPHA = 1.0

ROUND_DP = 12
SCORE_DP = 6


def gram_buckets(words: Column, buckets: int, bigrams: bool = True) -> Column:
    """Array of hash buckets for a row's unigrams (+ bigrams): one array
    expression so the downstream explode is single. Empty token array →
    empty bucket array (the row contributes nothing, matching the
    oracle's unnest-of-empty)."""
    uni = F.transform(words, lambda w: token_bucket(w, buckets))
    if not bigrams:
        return uni
    n = F.size(words)
    bi = F.when(
        n >= 2,
        F.zip_with(
            F.slice(words, 1, n - 1),
            F.slice(words, 2, n - 1),
            lambda a, b: token_bucket(F.concat_ws(BIGRAM_SEP, a, b), buckets),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return F.concat(uni, bi)


def hashed_gram_counts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
    buckets: int = DEFAULT_BUCKETS,
    bigrams: bool = True,
) -> DataFrame:
    """One pass over the corpus → integer counts per (doc, bucket):
    ``(id, label, bucket, n)``. The only frame whose size is O(corpus);
    everything downstream is O(buckets) or O(docs). Token-less documents
    (empty/NULL text) produce no rows — they carry no n-gram evidence
    and are excluded from both training mass and scoring, on both
    engines."""
    ws = words_col(F.coalesce(F.col(text_col), F.lit("")))
    g = F.explode(gram_buckets(ws, buckets, bigrams=bigrams)).alias("bucket")
    return (
        docs.select(F.col(id_col).alias("id"), F.col(label_col).alias("label"), g)
        .groupBy("id", "label", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def nb_bucket_llr(
    counts: DataFrame,
    buckets: int = DEFAULT_BUCKETS,
    alpha: float = DEFAULT_ALPHA,
) -> DataFrame:
    """Fit both class-conditional unigram-over-buckets models and return
    the weight table ``(bucket, llr)`` where ``llr = log p(bucket|pos) −
    log p(bucket|neg)``, Laplace-smoothed over the full ``buckets``-size
    vocabulary, rounded to 12 dp. ≤ ``buckets`` rows — always
    broadcastable."""
    per_bucket = counts.groupBy("bucket").agg(
        F.sum(F.when(F.col("label"), F.col("n")).otherwise(F.lit(0))).alias("pos_c"),
        F.sum(F.when(~F.col("label"), F.col("n")).otherwise(F.lit(0))).alias("neg_c"),
    )
    totals = per_bucket.agg(
        F.sum("pos_c").alias("pos_t"), F.sum("neg_c").alias("neg_t")
    )
    a = float(alpha)
    b = float(buckets)
    j = per_bucket.crossJoin(F.broadcast(totals))
    llr = F.log(
        (F.col("pos_c").cast("double") + F.lit(a))
        / (F.col("pos_t").cast("double") + F.lit(a) * F.lit(b))
    ) - F.log(
        (F.col("neg_c").cast("double") + F.lit(a))
        / (F.col("neg_t").cast("double") + F.lit(a) * F.lit(b))
    )
    return j.select("bucket", F.round(llr, ROUND_DP).alias("llr"))


def nb_prior(
    docs: DataFrame, label_col: str = "label", alpha: float = DEFAULT_ALPHA
) -> DataFrame:
    """Class log-prior-odds ``log(n_pos + α) − log(n_neg + α)`` over the
    labeled documents — ONE row, 12 dp."""
    a = float(alpha)
    lab = F.col(label_col)
    return docs.agg(
        F.round(
            F.log(F.sum(F.when(lab, 1).otherwise(0)).cast("double") + F.lit(a))
            - F.log(F.sum(F.when(~lab, 1).otherwise(0)).cast("double") + F.lit(a)),
            ROUND_DP,
        ).alias("prior")
    )


def nb_score(counts: DataFrame, model: DataFrame, prior: DataFrame) -> DataFrame:
    """Linear NB score per document: broadcast-join the tiny weight
    table onto the integer counts, sum per doc, add the prior —
    ``(id, nb_score, nb_pred)`` with ``nb_pred = nb_score > 0`` on the
    6 dp-rounded value (boundary identical across engines)."""
    scored = (
        counts.join(F.broadcast(model), "bucket")
        .groupBy("id")
        .agg(F.sum(F.col("n").cast("double") * F.col("llr")).alias("s"))
        .crossJoin(F.broadcast(prior))
        .select(
            "id",
            F.round(F.col("s") + F.col("prior"), SCORE_DP).alias("nb_score"),
        )
    )
    return scored.withColumn("nb_pred", F.col("nb_score") > F.lit(0.0))


def nb_quality_classifier(
    docs: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = DEFAULT_BUCKETS,
    alpha: float = DEFAULT_ALPHA,
    bigrams: bool = True,
    persist_counts: bool = True,
) -> DataFrame:
    """End-to-end self-scored classifier: fit on ``label_col``, score
    every document with ≥1 token, return ``(id_col, nb_score,
    nb_pred)``. To score a different (unlabeled) corpus, call
    ``hashed_gram_counts`` on it with any constant label and reuse the
    trained ``nb_bucket_llr`` / ``nb_prior`` frames — the model tables
    are plain DataFrames you can persist and broadcast.

    ``persist_counts`` (default on) marks the (doc, bucket) integer
    counts MEMORY_AND_DISK: the frame feeds both the model fit and the
    scoring join, and without storage Spark re-runs the tokenize+explode
    corpus pass once per consumer (3× at plan level — per-bucket
    aggregate, its totals, and scoring). The counts are 3 integers + a
    boolean per (doc, distinct-bucket) — orders of magnitude smaller
    than the text; at 10^12 documents write them to a table between the
    two phases instead and pass the read-back frame to
    ``nb_bucket_llr``/``nb_score`` yourself."""
    counts = hashed_gram_counts(
        docs,
        text_col=text_col,
        id_col=id_col,
        label_col=label_col,
        buckets=buckets,
        bigrams=bigrams,
    )
    if persist_counts:
        from pyspark import StorageLevel

        counts = counts.persist(StorageLevel.MEMORY_AND_DISK)
    model = nb_bucket_llr(counts, buckets=buckets, alpha=alpha)
    prior = nb_prior(docs, label_col=label_col, alpha=alpha)
    return nb_score(counts, model, prior).withColumnRenamed("id", id_col)
