"""Text-quality signal columns — pure built-in ``pyspark.sql.functions``.

These are the heuristic quality signals of a Common-Crawl-style filter
(doc length, word stats, symbol/word ratio, stopword density, repetition —
the Gopher/CCNet rule family) expressed as **JVM-side Column expressions**:
whole-stage codegen, no Python in the hot path. The Spark-side definitions
are mirrored exactly by the plain-pandas oracle in
``soda_core_spark/sources/webtext_oracle.py`` — any change here must be
made there too (keep/drop parity is the acceptance criterion).

Tokenization contract (both sides): words = text split on ASCII whitespace
runs, empty tokens dropped. Synthetic data is ASCII-whitespace only, which
sidesteps the Java-vs-Python ``\\s`` unicode divergence.

soda-core analogue: these are the per-column signal expressions its
``invalid`` / ``failed_rows`` checks would reference
(reference invalidity_check.py:52-221 — the disjunction compiler is the
same machinery, see operators/compiler.py).
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

#: shared English stopword list (top function words) — also used by the
#: language-ID model (functions/langid.py) and the oracle. Frozen: order
#: and content are part of the keep/drop contract.
EN_STOPWORDS = (
    "the of and to in a is that it was for on are as with his they at be "
    "this have from or had by not but what all were we when your can said "
    "there use an each which she do how their if will up other about out "
    "many then them these so some her would make like him into time has "
    "look two more write go see no way could my than been call who its now "
    "find long down day did get come made may part"
).split()


def words_col(text: Column) -> Column:
    """The tokenization contract as a Column: split on ASCII whitespace
    runs ``[ \\t\\n\\r]+``, drop empty tokens. Column-API code in
    ``functions/`` and ``operators/`` tokenizes by calling this. Not Python
    ``str.split()``, whose whitespace set is Unicode-wide."""
    return F.filter(F.split(text, "[ \\t\\n\\r]+"), lambda w: w != "")


#: every ASCII alphanumeric char — translate() deletes these to count them
_ALNUM_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
)


def alnum_ratio(text: Column) -> Column:
    """Fraction of [A-Za-z0-9] characters; 0.0 for empty text.

    Counted as ``length(text) − length(translate(text, alnum, ''))`` — a
    char-map pass, ~10× faster than regexp_replace('[^A-Za-z0-9]','')
    (measured 1.3s vs 13.4s over 200k docs on local[32]); verified
    value-identical."""
    n = F.length(text)
    alnum = n - F.length(F.translate(text, _ALNUM_CHARS, ""))
    return F.when(n > 0, alnum.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_density(words: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of lowercased tokens that are stopwords; 0.0 for no words.

    Exact token membership via a higher-order filter — no regex word
    boundaries (Java/Python ``\\b`` diverge on unicode; set membership
    doesn't)."""
    sw = stopwords or EN_STOPWORDS
    hits = F.size(F.filter(words, lambda w: F.lower(w).isin(sw)))
    n = F.size(words)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def bigram_repetition(words: Column) -> Column:
    """1 − distinct/total over word 2-grams; 0.0 when fewer than 2 words.

    Boilerplate with repeated phrases scores high. Built entirely from
    higher-order array functions so the whole signal stays in Tungsten;
    distinctness is counted over 64-bit pair hashes (xxhash64 folds both
    tokens with length framing) because array_distinct over bigints takes
    the hash-set fast path — see :func:`with_signals`."""
    n = F.size(words)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(words, 1, n - 1),
            F.slice(words, 2, n - 1),
            lambda a, b: F.xxhash64(a, b),
        ),
    )
    total = F.size(bigrams)
    distinct = F.size(F.array_distinct(bigrams))
    return F.when(
        n >= 2, F.lit(1.0) - distinct.cast("double") / total.cast("double")
    ).otherwise(F.lit(0.0))


def token_count_bpe_ish(text: Column) -> Column:
    """Cheap token count: alphanumeric runs + each non-whitespace symbol
    counts as one token (a BPE-ish upper bound for training-data
    budgeting). One regexp_count + one translate pass, expressible
    identically in any SQL engine (no lookarounds)."""
    alnum_runs = F.regexp_count(text, F.lit("[A-Za-z0-9]+"))
    symbols = F.length(F.translate(text, _ALNUM_CHARS + " \t\n\r", ""))
    return alnum_runs + symbols


def doc_fingerprint(text: Column) -> Column:
    """64-bit document fingerprint: xxhash64 over whitespace-normalized,
    lowercased text — the exact-dedup key. JVM-side, no Python."""
    normalized = F.lower(F.regexp_replace(F.trim(text), "[ \\t\\n\\r]+", " "))
    return F.xxhash64(normalized)


def with_signals(df, text_col: str = "text", keep_lowered_tokens: bool = False):
    """Attach all signal columns to ``df`` — the profiled fast formulation
    (micro-benchmarked per expression over 200k docs on local[32]):

    * the token array is materialized ONCE per row in its own projection
      (higher-order lambdas run interpreted; CollapseProject keeps the
      multi-referenced expensive alias so the split happens once),
    * char-class counting uses ``translate`` deletion, not regexp_replace
      (10× faster, value-identical),
    * bigram distinctness zips token slices into 64-bit pair hashes —
      array_distinct over bigints takes the hash-set fast path (structs
      and strings don't), no per-pair allocation,
    * ``sum(len(w))`` for mean word length = count of non-whitespace chars
      (tokens partition them) — one translate pass.

    Values are bit-identical to the naive split-token definitions
    (parity-tested against the plain-Python oracle in
    tests/test_webtext_parity.py).

    NULL text is treated as empty (matching the oracle's ``text or ''``):
    otherwise every signal is NULL, no rule can fire, and a null document
    sails through the filter.

    ``keep_lowered_tokens=True`` additionally materializes ``__wl`` (the
    per-token-lowercased array) and leaves it on the frame so a JVM
    language-ID stage can reuse it instead of re-splitting the full text
    (lowercasing never introduces whitespace, so ``lower(token)`` equals
    tokenizing ``lower(text)``); the caller is responsible for dropping
    ``__wl``. Stopword density always counts against the lowered tokens —
    value-identical to lowering inline inside the membership filter."""
    reserved = {"__words", "__wl", "__lines"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"input already has internal column(s) {sorted(reserved)} — "
            "with_signals would silently clobber and drop them; rename "
            "them first"
        )
    text = F.coalesce(F.col(text_col), F.lit(""))
    w = F.col("__words")
    out = df.withColumn("__words", words_col(text))
    out = out.withColumn(
        "__wl", F.transform(w, lambda t: F.lower(t))
    )
    wl = F.col("__wl")
    n = F.size(w)
    # distinct-bigram count via 64-bit PAIR HASHES, not pair values:
    # array_distinct over array<struct<string,string>> misses the hash-set
    # fast path (pairwise struct comparisons — measured 9.4s of a 16.4s
    # signal stage at 1.6M docs); xxhash64(a, b) folds both tokens with
    # length framing (no concat-ambiguity), and array_distinct over
    # array<bigint> is the fast path — 3.4× faster, value-identical on
    # the full 1.6M-doc corpus (sum of distinct counts equal; a 64-bit
    # collision shifts one doc's ratio by 1/(n-1) with probability
    # ~k²/2^65 per doc — immaterial at any corpus size)
    bigram_hashes = F.zip_with(
        F.slice(w, 1, n - 1), F.slice(w, 2, n - 1), lambda a, b: F.xxhash64(a, b)
    )
    non_ws_chars = F.length(F.translate(text, " \t\n\r", ""))
    sw_hits = F.size(F.filter(wl, lambda t: t.isin(EN_STOPWORDS)))
    # non-empty lines materialized ONCE and as 64-bit xxhash64 values, not
    # line strings: line_dedup references the array 3× (total size,
    # distinct size, the ≥2 guard) and HOFs have no CSE, so the alias keeps
    # the split+filter to one pass per row; hashing inside the same
    # transform gives array_distinct over array<bigint> the hash-set fast
    # path (the same fix the bigram counter took — array_distinct over
    # strings does pairwise comparisons) and keeps full line STRINGS out of
    # the row entirely. Distinct-hash count equals distinct-line count
    # modulo 64-bit collisions (~k²/2^65 per doc — immaterial); A/B'd
    # value-identical over the 1.6M-doc corpus, see BENCH/JOURNAL.md r4.
    out = out.withColumn(
        "__lines",
        F.transform(
            F.filter(F.split(text, "\\n"), lambda l: F.trim(l) != ""),
            lambda l: F.xxhash64(l),
        ),
    )
    n_lines = F.size(F.col("__lines"))
    signals = {
        "n_chars": F.length(text),
        "n_words": n,
        "alnum_ratio": alnum_ratio(text),
        "stopword_density": F.when(
            n > 0, sw_hits.cast("double") / n.cast("double")
        ).otherwise(F.lit(0.0)),
        "bigram_repetition": F.when(
            n >= 2,
            F.lit(1.0)
            - F.size(F.array_distinct(bigram_hashes)).cast("double")
            / (n - 1).cast("double"),
        ).otherwise(F.lit(0.0)),
        "mean_word_length": F.when(
            n > 0, non_ws_chars.cast("double") / n.cast("double")
        ).otherwise(F.lit(0.0)),
        "line_dedup_ratio": F.when(
            n_lines >= 2,
            F.lit(1.0)
            - F.size(F.array_distinct(F.col("__lines"))).cast("double")
            / n_lines.cast("double"),
        ).otherwise(F.lit(0.0)),
        "doc_fingerprint": doc_fingerprint(text),
    }
    out = out.withColumns(signals).drop("__words", "__lines")
    return out if keep_lowered_tokens else out.drop("__wl")


def top_ngram_char_fractions(
    df,
    ns: tuple[int, ...] = (2, 3, 4),
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Gopher-style top-n-gram signal (Rae et al. 2021 §A1.1): for each
    requested n, the single most frequent word n-gram per document and
    the fraction of the document's characters it covers
    (``count · length(gram)`` over ``length(text)``, capped at 1.0 —
    overlapping occurrences can nominally exceed the text length).
    Boilerplate pages repeat one phrase; a high top-gram share catches
    them where per-line dedup misses intra-line repetition.

    Tokens are lowered whitespace-split words (the shared contract).
    Ties break on gram ascending — deterministic cross-engine. Returns
    (id, n, top_ngram, top_ngram_count, top_ngram_char_frac); documents
    with fewer than n words yield no row for that n.

    Scale shape: ALL requested n values ride one explode (each element
    tagged with its n), counts are map-side partial-aggregated before
    the single (id, n, gram) shuffle, and the per-(id, n) top-1 window
    only ever sees one document's grams — no reducer hotspots. The text
    itself never shuffles: only grams + counts move.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    w = words_col(F.lower(text))
    k = F.size(w)
    def _gram_fn(n: int):
        # one-arg lambda only: a 2-arg lambda would receive the array
        # INDEX as its second argument from F.transform, clobbering n
        return lambda i: F.struct(
            F.lit(n).alias("n"),
            F.array_join(F.slice(w, i, n), " ").alias("gram"),
        )

    per_n = [
        # guard: sequence(1, k-n+1) DESCENDS when k < n — empty instead
        F.when(
            k >= n,
            F.transform(F.sequence(F.lit(1), k - F.lit(n) + 1), _gram_fn(n)),
        ).otherwise(F.array().cast("array<struct<n:int,gram:string>>"))
        for n in ns
    ]
    ex = df.select(
        F.col(id_col),
        F.length(text).alias("__nc"),
        F.explode(F.flatten(F.array(*per_n))).alias("g"),
    ).select(id_col, "__nc", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    cnt = ex.groupBy(id_col, "__nc", "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    win = Window.partitionBy(id_col, "n").orderBy(
        F.col("cnt").desc(), F.col("gram").asc()
    )
    return (
        cnt.withColumn("__rn", F.row_number().over(win))
        .where(F.col("__rn") == 1)
        .select(
            id_col,
            "n",
            F.col("gram").alias("top_ngram"),
            F.col("cnt").alias("top_ngram_count"),
            F.least(
                F.lit(1.0),
                (F.col("cnt") * F.length("gram")).cast("double")
                / F.col("__nc").cast("double"),
            ).alias("top_ngram_char_frac"),
        )
    )


def with_paragraph_signals(df, text_col: str = "text"):
    """Gopher-style paragraph-repetition signals (Rae et al. 2021 §A1.1
    repetition filters; no reference analogue — quality-filter surface):

    * ``dup_para_frac``  — 1 − distinct/total non-empty paragraphs,
    * ``dup_para_char_frac`` — fraction of paragraph characters inside
      REPEATED occurrences: (Σ len − Σ len over distinct values) / Σ len
      ≡ Σ (count_v − 1)·len_v / Σ len.

    Paragraphs split on blank lines (``\\n\\n+``), whitespace-only
    paragraphs dropped. Both signals are 0.0 below 2 paragraphs (and for
    NULL text). Row-local column algebra, zero shuffle. Unlike the line
    signal, the distinct here runs over paragraph STRINGS — the distinct
    VALUES' lengths are needed, not just their count, and a per-doc
    paragraph array is dozens of entries, far under the hash-set
    crossover the bigram/line counters needed."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    paras = F.filter(F.split(text, "\\n\\n+"), lambda p: F.trim(p) != "")
    reserved = {"__paras", "__paras_d"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"input already has internal column(s) {sorted(reserved)}"
        )
    out = df.withColumn("__paras", paras).withColumn(
        "__paras_d", F.array_distinct(F.col("__paras"))
    )
    n = F.size(F.col("__paras"))
    n_d = F.size(F.col("__paras_d"))
    total_len = F.aggregate(
        F.col("__paras"), F.lit(0), lambda acc, p: acc + F.length(p)
    )
    distinct_len = F.aggregate(
        F.col("__paras_d"), F.lit(0), lambda acc, p: acc + F.length(p)
    )
    return (
        out.withColumn(
            "dup_para_frac",
            F.when(
                n >= 2,
                F.lit(1.0) - n_d.cast("double") / n.cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "dup_para_char_frac",
            F.when(
                (n >= 2) & (total_len > 0),
                (total_len - distinct_len).cast("double")
                / total_len.cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .drop("__paras", "__paras_d")
    )


# ---------------------------------------------------------------------------
# Unicode char-class / script profile
# ---------------------------------------------------------------------------

#: script blocks counted by ``char_class_counts``, in dominant-script
#: preference order (first wins ties). Explicit codepoint ranges — not
#: \p{Script=...} — because Java regex (Spark) and RE2 (DuckDB oracle)
#: may carry different Unicode table versions, while raw ranges are
#: engine-version-independent. \x{...} syntax parses in both.
SCRIPT_RANGES: tuple[tuple[str, str], ...] = (
    ("latin", "[A-Za-z]"),
    ("latin_ext", "[\\x{00c0}-\\x{024f}]"),
    ("cjk", "[\\x{4e00}-\\x{9fff}]"),
    ("cyrillic", "[\\x{0400}-\\x{04ff}]"),
    ("arabic", "[\\x{0600}-\\x{06ff}]"),
)


def _n_matching(t: Column, pattern: str) -> Column:
    """Chars matching a one-char class, counted by deletion — one JVM
    regexp pass, no explode."""
    return F.length(t) - F.length(F.regexp_replace(t, pattern, ""))


def char_class_counts(text: Column) -> dict[str, Column]:
    """Per-document character-class counts over code points.

    ASCII classes (letters, digits, whitespace, punctuation-as-remainder
    of printable ASCII) plus the ``SCRIPT_RANGES`` blocks. ``punct`` is
    derived arithmetically from the printable-ASCII count so no regex
    needs to escape punctuation — the classes stay byte-identical across
    Java regex and RE2.
    """
    t = F.coalesce(text, F.lit(""))
    counts: dict[str, Column] = {"n_cp": F.length(t)}
    counts["lower"] = _n_matching(t, "[a-z]")
    counts["upper"] = _n_matching(t, "[A-Z]")
    counts["digit"] = _n_matching(t, "[0-9]")
    counts["space"] = _n_matching(t, "[ \\t\\n\\r]")
    printable = _n_matching(t, "[ -~]")  # 0x20..0x7e
    counts["punct"] = (
        printable
        - counts["lower"]
        - counts["upper"]
        - counts["digit"]
        - _n_matching(t, "[ ]")
    )
    for name, pat in SCRIPT_RANGES:
        if name == "latin":
            counts[name] = counts["lower"] + counts["upper"]
        else:
            counts[name] = _n_matching(t, pat)
    return counts


def dominant_script(counts: dict[str, Column]) -> Column:
    """Arg-max over the script blocks, ties broken by ``SCRIPT_RANGES``
    order; ``'none'`` when the document has no script characters at all."""
    cols = [(name, counts[name]) for name, _ in SCRIPT_RANGES]
    mx = F.greatest(*[c for _, c in cols])
    dom = F.when(mx <= 0, F.lit("none"))
    for name, c in cols:
        dom = dom.when(c == mx, F.lit(name))
    return dom


def script_profile(
    df, text_col: str = "text", id_col: str = "doc_id"
):
    """``(id, n_cp, letter/digit/space/punct/other fractions, dominant
    script)`` — the script-mix quality signal (garbled-encoding and
    wrong-language detector) as one shuffle-free projection."""
    c = char_class_counts(F.col(text_col))
    n = c["n_cp"]
    nd = n.cast("double")

    def frac(x: Column) -> Column:
        return F.round(
            F.when(n > 0, x.cast("double") / nd).otherwise(F.lit(0.0)), 6
        )

    known = (
        c["latin"]
        + c["digit"]
        + c["space"]
        + c["punct"]
        + c["latin_ext"]
        + c["cjk"]
        + c["cyrillic"]
        + c["arabic"]
    )
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_cp"),
        frac(c["latin"]).alias("letter_frac"),
        frac(c["digit"]).alias("digit_frac"),
        frac(c["space"]).alias("space_frac"),
        frac(c["punct"]).alias("punct_frac"),
        frac(n - known).alias("other_frac"),
        dominant_script(c).alias("dominant_script"),
    )


#: terminal-punctuation set for truncation detection — a doc whose text
#: ends mid-sentence is extraction- or cap-truncated. Shared verbatim
#: with SQL oracles.
TERMINAL_PUNCT = ".!?\"')]}"

#: round char-caps where CMS/db-column truncation piles up
TRUNCATION_CAPS: tuple[int, ...] = (255, 256, 500, 512, 1000, 1024, 2048)

#: truncation-marker phrases (lowercased substring match)
TRUNCATION_MARKERS: tuple[str, ...] = (
    "read more", "continue reading", "…", "[...]", "[truncated]",
)


#: soft-error shell phrases: pages that returned 200 but carry no
#: content. Lowercased substring match; shared verbatim with oracles.
SOFT_ERROR_PHRASES: tuple[str, ...] = (
    "page not found", "404 error", "access denied",
    "please enable javascript", "are you a robot",
    "this content is not available", "session expired",
    "login to continue", "subscribe to read",
)
