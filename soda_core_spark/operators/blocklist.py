"""Source/term blocklist filtering — the RefinedWeb/UT1-style curation
step: drop documents from blocked hosts/sources and documents containing
blocked terms, with a per-row reason.

Scale shape: the blocklists are tiny curation artifacts → pure broadcast
semantics (``isin`` compiles to an InSet probe; no join, no shuffle);
term matching is token-exact over the engine's tokenization contract
(lowercased ASCII-whitespace split) via a single ``exists`` over the
token array — no regex scans, no per-term passes.

soda-core analogue: an ``invalid`` check with ``invalid_values`` on the
host column plus a ``failed_rows`` condition on the text — this operator
fuses both into one annotated pass with a reason column, the form a
training pipeline consumes.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HOST_RE = "^https?://([^/]+)"


def blocklist_filter(
    df: DataFrame,
    blocked_hosts: Optional[Sequence[str]] = None,
    blocked_terms: Optional[Sequence[str]] = None,
    host_col: Optional[str] = None,
    url_col: Optional[str] = None,
    text_col: str = "text",
) -> DataFrame:
    """Annotate every row with ``block_reason`` (NULL = clean, ``host``
    or ``term`` — host takes precedence) and ``blocked`` boolean.

    ``host_col`` names an existing host/source column; alternatively
    ``url_col`` extracts the host from a URL. Hosts compare
    case-insensitively; terms match whole TOKENS (lowercased), never
    substrings — 'class' does not trip a 'ass' entry, matching how
    UT1-style token lists are meant to be applied.
    """
    if not blocked_hosts and not blocked_terms:
        raise ValueError("provide blocked_hosts and/or blocked_terms")
    if blocked_hosts and not (host_col or url_col):
        raise ValueError("blocked_hosts needs host_col or url_col")
    reasons: list[Column] = []
    if blocked_hosts:
        hosts = [h.lower() for h in blocked_hosts]
        host = (
            F.col(host_col)
            if host_col
            else F.regexp_extract(F.col(url_col), HOST_RE, 1)
        )
        reasons.append(F.when(F.lower(host).isin(hosts), F.lit("host")))
    if blocked_terms:
        from soda_core_spark.functions.text import words_col

        terms = sorted({t.lower() for t in blocked_terms})
        # THE engine tokenization contract — shared with the row-signal
        # counter and BM25, so the token-exact guarantee can't drift
        words = words_col(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
        reasons.append(
            F.when(F.exists(words, lambda w: w.isin(terms)), F.lit("term"))
        )
    reason = F.coalesce(*reasons) if len(reasons) > 1 else reasons[0]
    return df.withColumns(
        {"block_reason": reason, "blocked": reason.isNotNull()}
    )


def host_reputation_gate(
    df: DataFrame,
    score: Column,
    host_col: str = "host",
    min_support: int = 5,
    min_mean_score: float = 0.5,
) -> DataFrame:
    """Learned host-level gate — the FineWeb/RefinedWeb curation move the
    static blocklist can't make: score every document, aggregate to a
    per-host mean, and drop ENTIRE hosts whose mean quality is low with
    enough support (``n_docs >= min_support``). Low-support hosts are
    never blocked (no evidence), matching how host-reputation lists are
    actually curated; their documents pass through on their own merits.

    Returns the input annotated with::

        host_n_docs: bigint     -- documents observed for this row's host
        host_mean_score: double -- per-host mean of round(score, 6), 6dp
        host_blocked: boolean   -- gate verdict for the host

    Scale shape: the verdict table is ONE partial-aggregation groupBy to
    |hosts| rows (millions at web scale — still trivially small next to
    the corpus), broadcast-joined back, so the corpus itself shuffles
    zero times. The per-document score is rounded to 6dp BEFORE the mean
    so engines' float-summation orders can't drift the aggregate (same
    discipline as ccnet_quality_buckets).
    """
    scored = df.withColumn("__score6", F.round(score, 6))
    verdicts = scored.groupBy(host_col).agg(
        F.count(F.lit(1)).alias("host_n_docs"),
        F.round(F.avg("__score6"), 6).alias("host_mean_score"),
    )
    verdicts = verdicts.withColumn(
        "host_blocked",
        (F.col("host_n_docs") >= min_support)
        & (F.col("host_mean_score") < F.lit(float(min_mean_score))),
    )
    out = scored.join(F.broadcast(verdicts), host_col, "left").drop("__score6")
    # a NULL host (malformed URL) matches no verdict row; the gate's
    # answer for it is "no evidence -> not blocked", not NULL
    return out.withColumn(
        "host_blocked", F.coalesce(F.col("host_blocked"), F.lit(False))
    )


def lexicon_score(
    df: DataFrame,
    weights: dict[str, float],
    text_col: str = "text",
    per_tokens: int = 1000,
    broadcast_threshold: int = 10_000,
) -> DataFrame:
    """Weighted-lexicon scoring — the graded form of the binary term
    blocklist: each lexicon token carries a severity weight (the
    UT1/"badwords" lists ship tiers; production policy wants "soft porn
    vocabulary scores 1, slur scores 10"), and the document score is the
    weight-sum of matching tokens normalized per ``per_tokens`` tokens,
    so long documents aren't penalized for length. A threshold on the
    score replaces the all-or-nothing term trip.

    Matching is token-exact on the engine tokenization contract
    (lowercased whitespace tokens — shared with the row signals/BM25/
    blocklist_filter, so the no-substring-firing guarantee can't drift).
    Adds ``lex_hits`` (count of tokens PRESENT in the lexicon,
    multiplicity included, regardless of weight sign — zero- and
    negative-weight entries count as hits exactly as they contribute
    to the weight sum),
    ``lex_weight`` (weight sum, 6 dp) and ``lex_score`` (weight sum per
    ``per_tokens`` tokens, 6 dp; 0.0 for token-less docs).

    Shape for scale: at or below ``broadcast_threshold`` entries the
    lexicon rides into the task as ONE map literal (no join, no
    shuffle, no Python) and the scorer is a per-row array fold over
    the already-materialized token array. ABOVE the threshold the
    literal form is wrong twice over — a 100k-entry map literal bloats
    every task's plan/codegen AND ``GetMapValue`` over a map literal is
    a per-token LINEAR scan — so the scorer switches to the explode →
    broadcast-HASH-join → regroup form: tokens join the broadcast
    (token, weight) table in O(1) per token, and hits/weight-sum come
    back per row id. Values: ``lex_hits`` is identical on both paths;
    the float weight-sum is folded in token order on the literal path
    and in aggregation order on the join path — equal except in the
    last ulp for non-dyadic weights (both rounded to 6 dp; the parity
    test pins exact-representable weights bit-equal across paths).

    PRECONDITION on the join path (same as range_count_join): the row
    id is ``monotonically_increasing_id``, so ``df``'s partitioning
    must be deterministic under task retry — a plain scan or other
    deterministic lineage; ``localCheckpoint()`` first otherwise."""
    if not weights:
        raise ValueError("weights must be a non-empty {token: weight} map")
    from itertools import chain

    from soda_core_spark.functions.text import words_col

    pairs = sorted((t.lower(), float(w)) for t, w in weights.items())
    words = words_col(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    if len(pairs) > broadcast_threshold:
        return _lexicon_score_join(df, pairs, words, per_tokens)
    lex = F.create_map(
        *chain.from_iterable((F.lit(t), F.lit(w)) for t, w in pairs)
    )
    df = df.withColumn("__lw", words)
    w = F.col("__lw")
    n = F.size(w)
    per_tok_w = F.transform(w, lambda t: F.coalesce(lex[t], F.lit(0.0)))
    # membership, not weight sign: a zero- or negative-weight lexicon
    # entry is still a hit (it contributes to lex_weight/lex_score, so
    # it must count here too — no undocumented asymmetry)
    hits = F.size(F.filter(w, lambda t: lex[t].isNotNull())).cast("long")
    wsum = F.aggregate(per_tok_w, F.lit(0.0), lambda acc, x: acc + x)
    score = F.when(
        n > 0,
        F.round(wsum * F.lit(float(per_tokens)) / n.cast("double"), 6),
    ).otherwise(F.lit(0.0))
    return (
        df.withColumn("lex_hits", hits)
        .withColumn("lex_weight", F.round(wsum, 6))
        .withColumn("lex_score", score)
        .drop("__lw")
    )


def _lexicon_score_join(
    df: DataFrame,
    pairs: list[tuple[str, float]],
    words,
    per_tokens: int,
) -> DataFrame:
    """Broadcast-join lexicon scorer for lexicons too large to carry as
    a map literal — see :func:`lexicon_score` for the contract."""
    for c in ("__lexid", "__lextok", "__lexw"):
        if c in df.columns:
            raise ValueError(f"internal column name collision: {c}")
    spark = df.sparkSession
    lex_df = spark.createDataFrame(
        pairs, "__lextok string, __lexw double"
    )
    tagged = df.withColumn(
        "__lexid", F.monotonically_increasing_id()
    ).withColumn("__lw", words)
    toks = tagged.select(
        "__lexid",
        F.size("__lw").alias("__n"),
        F.explode_outer("__lw").alias("__lextok"),
    )
    joined = toks.join(F.broadcast(lex_df), "__lextok", "left")
    per_row = joined.groupBy("__lexid").agg(
        F.max("__n").alias("__n"),
        F.count("__lexw").cast("long").alias("lex_hits"),
        F.coalesce(F.sum("__lexw"), F.lit(0.0)).alias("__wsum"),
    )
    n = F.col("__n")
    score = F.when(
        n > 0,
        F.round(
            F.col("__wsum") * F.lit(float(per_tokens)) / n.cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    scored = per_row.select(
        "__lexid",
        "lex_hits",
        F.round(F.col("__wsum"), 6).alias("lex_weight"),
        score.alias("lex_score"),
    )
    return (
        tagged.join(scored, "__lexid")
        .drop("__lexid", "__lw")
    )
