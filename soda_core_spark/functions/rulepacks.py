"""Published quality-filter rule packs as declarative, codegen-pure
column expressions: the Gopher document rules (Rae et al. 2021,
"Scaling Language Models", Appendix A.1.1) and C4's line-level cleaning
(Raffel et al. 2020, "Exploring the Limits of Transfer Learning", S2.2).

These are THE two rulebooks real webtext pipelines start from, and they
slot into this engine exactly the way the north rule prescribes:
"heuristic quality rules expressed as soda-style declarative check
definitions compiled to DataFrame column expressions". Each rule here
exists in three synchronized forms:

1. a PySpark ``Column`` (pure whole-stage-codegen arithmetic over ONE
   shared word/line array — no Python, no shuffle, fuses into the same
   projection as every other signal),
2. a Spark-SQL string twin (``gopher_rule_sql``) so the rules can be
   fed verbatim into the existing declarative contract layer through
   the raw-expression escape hatch (``metric:``/``expression:`` checks,
   operators/checks.py) — a rule pack IS a contract fragment,
3. a DuckDB oracle twin (entry_queries q80/q81) proving both engines
   agree flag-for-flag on every document.

Scale shape: everything is per-row projection arithmetic — zero
shuffles, zero UDFs, pushes through the scan like any other filter.
At 10^12 documents the rule evaluation is free relative to the scan;
that is the property that makes rule-packs the first pass of a
quality pipeline (cheap rules drop the bulk before expensive model
scoring runs — the Gopher/CCNet pipeline ordering).

soda-core reference parity: the reference expresses per-row validity
as declarative check configs compiled to SQL predicates
(soda-core/src/soda_core/contracts/impl/check_types/...); these packs
are that same compile-to-predicate pattern applied to the published
web-filter rulebooks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from soda_core_spark.functions.text import words_col

# ---------------------------------------------------------------------------
# Gopher document-level rules (Rae et al. 2021, Appendix A.1.1)
# ---------------------------------------------------------------------------

#: Gopher's "must contain >= 2 of these" English stop words.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)

#: published thresholds (rule name -> (lo, hi) or scalar), kept as data
#: so an operator can sweep them (operators/calibration.py pattern)
GOPHER_THRESHOLDS = {
    "word_count": (50, 100_000),
    "mean_word_len": (3.0, 10.0),
    "symbol_word_ratio": 0.1,
    "bullet_line_frac": 0.9,
    "ellipsis_line_frac": 0.3,
    "alpha_word_frac": 0.8,
    "min_stopwords": 2,
}


def _occurrences(text: Column, needle: str) -> Column:
    """Non-overlapping occurrence count of a literal: (len - len(text
    with needle removed)) / len(needle) — pure codegen, same arithmetic
    as the DuckDB twin so counts match exactly."""
    removed = F.replace(text, F.lit(needle), F.lit(""))
    return (F.length(text) - F.length(removed)) / F.lit(len(needle))


def gopher_flags(
    text: Column,
    *,
    words: Column | None = None,
    lines: Column | None = None,
    lower_words: Column | None = None,
) -> dict[str, Column]:
    """Per-document Gopher rule failure flags + ``keep``.

    Every ratio is a division of identical integer counts, so the flag
    booleans are bit-identical across engines (IEEE division of equal
    ints is exact — no rounding pin needed).

    The self-contained form re-derives the word/line arrays inside each
    flag; higher-order functions run interpreted, so Catalyst does NOT
    common-subexpression-eliminate those repeats. Hot-path callers
    should use :func:`with_gopher_flags`, which materializes the three
    arrays once per row in their own projection (multi-referenced
    non-cheap aliases survive CollapseProject), or pass
    pre-materialized ``words``/``lines``/``lower_words`` here.
    """
    t = F.coalesce(text, F.lit(""))
    if words is None:
        words = words_col(t)
    nw = F.size(words).cast("long")
    nw_d = nw.cast("double")
    if lines is None:
        lines = F.filter(
            F.transform(F.split(t, "\n"), lambda x: F.trim(x)),
            lambda x: x != "",
        )
    nl = F.size(lines).cast("long")

    total_word_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = F.when(nw > 0, total_word_chars / nw_d)

    lo_wc, hi_wc = GOPHER_THRESHOLDS["word_count"]
    fail_word_count = (nw < lo_wc) | (nw > hi_wc)

    lo_mwl, hi_mwl = GOPHER_THRESHOLDS["mean_word_len"]
    fail_mean_word_len = (
        (mean_word_len < lo_mwl) | (mean_word_len > hi_mwl)
    )
    fail_mean_word_len = F.coalesce(fail_mean_word_len, F.lit(True))

    n_symbols = (
        _occurrences(t, "#")
        + _occurrences(t, "…")
        + _occurrences(t, "...")
    )
    fail_symbol_ratio = F.when(
        nw > 0, (n_symbols / nw_d) > GOPHER_THRESHOLDS["symbol_word_ratio"]
    ).otherwise(F.lit(True))

    bullet = F.size(
        F.filter(
            lines,
            lambda x: x.startswith("•")
            | x.startswith("- ")
            | x.startswith("* "),
        )
    ).cast("long")
    fail_bullet = F.when(
        nl > 0,
        (bullet.cast("double") / nl.cast("double"))
        > GOPHER_THRESHOLDS["bullet_line_frac"],
    ).otherwise(F.lit(False))

    ellipsis = F.size(
        F.filter(
            lines,
            lambda x: x.endswith("...") | x.endswith("…"),
        )
    ).cast("long")
    fail_ellipsis = F.when(
        nl > 0,
        (ellipsis.cast("double") / nl.cast("double"))
        > GOPHER_THRESHOLDS["ellipsis_line_frac"],
    ).otherwise(F.lit(False))

    alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    fail_alpha_words = F.when(
        nw > 0,
        (alpha_words.cast("double") / nw_d)
        < GOPHER_THRESHOLDS["alpha_word_frac"],
    ).otherwise(F.lit(True))

    if lower_words is None:
        lower_words = F.transform(words, lambda w: F.lower(w))
    n_stop = sum(
        (
            F.array_contains(lower_words, sw).cast("int")
            for sw in GOPHER_STOPWORDS
        ),
        F.lit(0),
    ).cast("long")
    fail_stopwords = n_stop < GOPHER_THRESHOLDS["min_stopwords"]

    flags = {
        "fail_word_count": fail_word_count,
        "fail_mean_word_len": fail_mean_word_len,
        "fail_symbol_ratio": fail_symbol_ratio,
        "fail_bullet": fail_bullet,
        "fail_ellipsis": fail_ellipsis,
        "fail_alpha_words": fail_alpha_words,
        "fail_stopwords": fail_stopwords,
    }
    keep = F.lit(True)
    for c in flags.values():
        keep = keep & ~c
    flags["keep"] = keep
    return flags


def with_gopher_flags(
    df: DataFrame, text: Column | str = "text"
) -> DataFrame:
    """Append the seven Gopher flags + ``keep`` with the word, line,
    and lowered-word arrays materialized ONCE per row in a separate
    projection (multi-referenced non-cheap aliases survive
    CollapseProject and are evaluated once). This is the hot-path
    form; the arrays never leave the stage, so the output schema is
    ``df`` + the eight flag columns."""
    t = F.coalesce(
        F.col(text) if isinstance(text, str) else text, F.lit("")
    )
    reserved = (
        {"__rp_t", "__rp_w", "__rp_wl", "__rp_lines", "keep"}
        | {f"fail_{r}" for r in (
            "word_count", "mean_word_len", "symbol_ratio", "bullet",
            "ellipsis", "alpha_words", "stopwords",
        )}
    ) & set(df.columns)
    if reserved:
        raise ValueError(
            f"input already has conflicting column(s) {sorted(reserved)}"
        )
    words = words_col(t)
    staged = df.select(
        "*",
        t.alias("__rp_t"),
        words.alias("__rp_w"),
        F.filter(
            F.transform(F.split(t, "\n"), lambda x: F.trim(x)),
            lambda x: x != "",
        ).alias("__rp_lines"),
    ).select(
        # second stage so the lowered copy derives from the
        # ALREADY-materialized words array (inlining `words` here would
        # re-evaluate the split once more per row)
        "*",
        F.transform(F.col("__rp_w"), lambda w: F.lower(w)).alias(
            "__rp_wl"
        ),
    )
    flags = gopher_flags(
        F.col("__rp_t"),
        words=F.col("__rp_w"),
        lines=F.col("__rp_lines"),
        lower_words=F.col("__rp_wl"),
    )
    return staged.select(
        *df.columns, *(e.alias(n) for n, e in flags.items())
    )


def gopher_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep only documents passing all seven Gopher rules — the
    first-pass bulk filter (a pure per-row predicate over arrays
    materialized once)."""
    flagged = with_gopher_flags(df, text_col)
    return flagged.where(F.col("keep")).select(*df.columns)


def gopher_rule_sql(text_sql: str = "text") -> dict[str, str]:
    """Spark-SQL string twins of :func:`gopher_flags`, for feeding the
    rule pack through the declarative contract layer's raw-expression
    checks (``metric:`` / ``filter:``) — the rule pack as a contract
    fragment. Identical arithmetic to the Column forms."""
    t = f"coalesce({text_sql}, '')"
    w = f"filter(split({t}, '[ \\t\\n\\r]+'), x -> x != '')"
    nw = f"cast(size({w}) as bigint)"
    lines = (
        f"filter(transform(split({t}, '\\n'), x -> trim(x)),"
        " x -> x != '')"
    )
    nl = f"cast(size({lines}) as bigint)"
    occ = (
        lambda needle, n: f"(length({t}) - length(replace({t},"
        f" '{needle}', ''))) / {n}"
    )
    n_sym = (
        f"({occ('#', 1)} + {occ(chr(0x2026), 1)} + {occ('...', 3)})"
    )
    mwl = (
        f"(aggregate({w}, cast(0 as bigint), (a, x) -> a + length(x))"
        f" / cast({nw} as double))"
    )
    stop_terms = " + ".join(
        f"cast(array_contains(transform({w}, x -> lower(x)),"
        f" '{sw}') as int)"
        for sw in GOPHER_STOPWORDS
    )
    lo_wc, hi_wc = GOPHER_THRESHOLDS["word_count"]
    lo_mwl, hi_mwl = GOPHER_THRESHOLDS["mean_word_len"]
    rules = {
        "fail_word_count": f"({nw} < {lo_wc} OR {nw} > {hi_wc})",
        "fail_mean_word_len": (
            f"coalesce({mwl} < {lo_mwl} OR {mwl} > {hi_mwl}, true)"
        ),
        "fail_symbol_ratio": (
            f"CASE WHEN {nw} > 0 THEN ({n_sym} / cast({nw} as double))"
            f" > {GOPHER_THRESHOLDS['symbol_word_ratio']}"
            " ELSE true END"
        ),
        "fail_bullet": (
            f"CASE WHEN {nl} > 0 THEN cast(size(filter({lines}, x ->"
            f" startswith(x, '{chr(0x2022)}') OR startswith(x, '- ')"
            " OR startswith(x, '* '))) as double)"
            f" / cast({nl} as double)"
            f" > {GOPHER_THRESHOLDS['bullet_line_frac']}"
            " ELSE false END"
        ),
        "fail_ellipsis": (
            f"CASE WHEN {nl} > 0 THEN cast(size(filter({lines}, x ->"
            f" endswith(x, '...') OR endswith(x, '{chr(0x2026)}')))"
            f" as double) / cast({nl} as double)"
            f" > {GOPHER_THRESHOLDS['ellipsis_line_frac']}"
            " ELSE false END"
        ),
        "fail_alpha_words": (
            f"CASE WHEN {nw} > 0 THEN cast(size(filter({w}, x ->"
            " x rlike '[A-Za-z]')) as double)"
            f" / cast({nw} as double)"
            f" < {GOPHER_THRESHOLDS['alpha_word_frac']}"
            " ELSE true END"
        ),
        "fail_stopwords": (
            f"({stop_terms}) < {GOPHER_THRESHOLDS['min_stopwords']}"
        ),
    }
    rules["keep"] = "(" + " AND ".join(
        f"NOT ({sql})" for k, sql in rules.items()
    ) + ")"
    return rules


def gopher_contract_yaml(dataset: str, max_fail_rate: float = 0.5) -> str:
    """The Gopher pack as a ready-to-run declarative contract: one
    metric check per rule (fraction of documents failing it) plus a
    keep-rate floor — run it with ``verify_contract`` like any other
    contract. This is the 'rule pack = contract fragment' form."""
    rules = gopher_rule_sql()
    checks = []
    for name, raw in rules.items():
        # YAML double-quoted scalars reinterpret backslash escapes, so
        # the regex \t\n\r in the rule SQL must arrive pre-doubled
        sql = raw.replace("\\", "\\\\").replace('"', '\\"')
        if name == "keep":
            checks.append(
                "  - metric:\n"
                "      name: keep_rate\n"
                "      qualifier: keep_rate\n"
                f"      expression: \"avg(cast({sql} as double))\"\n"
                f"      must_be_greater_than: {1.0 - max_fail_rate}\n"
            )
        else:
            checks.append(
                "  - metric:\n"
                f"      name: {name}_rate\n"
                f"      qualifier: {name}_rate\n"
                f"      expression: \"avg(cast({sql} as double))\"\n"
                f"      must_be_less_than: {max_fail_rate}\n"
            )
    return f"dataset: {dataset}\nchecks:\n" + "".join(checks)


# ---------------------------------------------------------------------------
# C4 line-level cleaning (Raffel et al. 2020, S2.2)
# ---------------------------------------------------------------------------

#: a line survives iff it ends in one of these (C4: "terminal
#: punctuation mark, i.e. a period, exclamation mark, question mark,
#: or end quotation mark")
C4_TERMINAL_RE = "[.!?\"’”]$"
C4_MIN_WORDS_PER_LINE = 5
C4_MIN_SENTENCES = 3


def c4_clean_columns(
    text: Column, min_words_per_line: int = C4_MIN_WORDS_PER_LINE
) -> dict[str, Column]:
    """C4's line filter + page filter as pure column algebra.

    Line keep = trimmed line ends in terminal punctuation AND has >=
    ``min_words_per_line`` whitespace words AND does not contain
    'javascript' (case-insensitive). Page keep = cleaned text has >=
    3 sentence terminators AND the ORIGINAL page contains neither
    'lorem ipsum' (case-insensitive) nor '{'.

    Returns ``clean_text`` (kept lines re-joined), ``n_lines_total``,
    ``n_lines_kept`` and ``page_keep``. One split powers everything;
    zero Python, zero shuffle.
    """
    t = F.coalesce(text, F.lit(""))
    lines = F.transform(F.split(t, "\n"), lambda x: F.trim(x))
    kept = F.filter(
        lines,
        lambda x: x.rlike(C4_TERMINAL_RE)
        & (
            F.size(F.filter(F.split(x, "[ \\t]+"), lambda w: w != ""))
            >= min_words_per_line
        )
        & ~F.lower(x).contains("javascript"),
    )
    clean = F.array_join(kept, "\n")
    # terminator-char count, NOT a split: Spark's split drops trailing
    # empty strings while DuckDB's keeps them, so split-based sentence
    # counts diverge between engines; translate-diff counting is exact
    # and identical in both
    sentences = F.length(clean) - F.length(F.translate(clean, ".!?", ""))
    page_keep = (
        (sentences >= C4_MIN_SENTENCES)
        & ~F.lower(t).contains("lorem ipsum")
        & ~t.contains("{")
    )
    return {
        "clean_text": clean,
        "n_lines_total": F.size(
            F.filter(lines, lambda x: x != "")
        ).cast("long"),
        "n_lines_kept": F.size(kept).cast("long"),
        "page_keep": page_keep,
    }


def c4_line_clean(
    df: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = C4_MIN_WORDS_PER_LINE,
    drop_failed_pages: bool = False,
) -> DataFrame:
    """Apply C4 cleaning to a corpus: adds the cleaned text + audit
    counts; optionally drops failed pages (C4 proper). Trim-don't-drop
    default keeps the row so downstream lineage can count it.

    Hot-path shape: the trimmed-lines array, the kept-lines array, and
    the re-joined ``clean_text`` are each materialized ONCE per row in
    staged projections (multi-referenced aliases survive
    CollapseProject); the self-contained :func:`c4_clean_columns` form
    re-evaluates the kept-lines filter per referencing output."""
    reserved = {
        "__c4_lines", "__c4_kept", "clean_text", "n_lines_total",
        "n_lines_kept", "page_keep",
    } & set(df.columns)
    if reserved:
        raise ValueError(
            f"input already has conflicting column(s) {sorted(reserved)}"
        )
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.transform(F.split(t, "\n"), lambda x: F.trim(x))
    kept = F.filter(
        lines,
        lambda x: x.rlike(C4_TERMINAL_RE)
        & (
            F.size(F.filter(F.split(x, "[ \\t]+"), lambda w: w != ""))
            >= min_words_per_line
        )
        & ~F.lower(x).contains("javascript"),
    )
    staged = df.select(
        "*", lines.alias("__c4_lines"), kept.alias("__c4_kept")
    ).select(
        "*", F.array_join(F.col("__c4_kept"), "\n").alias("clean_text")
    )
    sentences = F.length(F.col("clean_text")) - F.length(
        F.translate(F.col("clean_text"), ".!?", "")
    )
    page_keep = (
        (sentences >= C4_MIN_SENTENCES)
        & ~F.lower(t).contains("lorem ipsum")
        & ~t.contains("{")
    )
    out = staged.select(
        *df.columns,
        "clean_text",
        F.size(
            F.filter(F.col("__c4_lines"), lambda x: x != "")
        ).cast("long").alias("n_lines_total"),
        F.size(F.col("__c4_kept")).cast("long").alias("n_lines_kept"),
        page_keep.alias("page_keep"),
    )
    if drop_failed_pages:
        out = out.where(F.col("page_keep")).drop("page_keep")
    return out


def paragraphs_col(text: Column) -> Column:
    """Non-empty trimmed newline-separated paragraphs. STAGE this with
    ``withColumn`` before feeding :func:`dedup_paragraphs_from` — HOFs
    have no common-subexpression elimination, and the dedup predicate
    references the array once per element."""
    return F.filter(
        F.transform(
            F.split(F.coalesce(text, F.lit("")), "\n"),
            lambda p: F.trim(p),
        ),
        lambda p: p != "",
    )


def dedup_paragraphs_from(paras: Column) -> dict[str, Column]:
    """Intra-document paragraph dedup — repeated blocks inside ONE page
    (headers/footers/widgets re-rendered per section) collapse to their
    first occurrence, order preserved: element j survives iff its FIRST
    index in the array is j (``array_position`` + two-param index
    lambda — pure row-local algebra, zero shuffle, no window, no corpus
    pass; the corpus-level twin is boilerplate line removal,
    operators/dedup.py).

    ``paras`` should be a STAGED column (see :func:`paragraphs_col`).
    Returns ``n_paras`` / ``n_unique`` (longs) and ``dedup_text``
    (newline-rejoined survivors; no survivors → NULL)."""
    uniq = F.filter(
        paras, lambda p, i: F.array_position(paras, p) == i + 1
    )
    return {
        "n_paras": F.size(paras).cast("long"),
        "n_unique": F.size(uniq).cast("long"),
        "dedup_text": F.when(F.size(uniq) > 0, F.array_join(uniq, "\n")),
    }
