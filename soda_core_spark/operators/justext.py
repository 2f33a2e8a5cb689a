"""jusText-style boilerplate block classification — main-content
extraction as row-local column algebra, zero shuffle, zero Python.

The published algorithm (Pomikálek 2011, "Removing boilerplate and
duplicate content from web corpora", the jusText default profile,
no-headings variant): segment a page into blocks at block-tag
boundaries, classify each block context-free from four signals (link
density, copyright mark, char length, stopword density) into
good / near-good / short / bad, then revise the ambiguous classes from
the nearest *decided* neighbours — prose islands rescue adjacent short
blocks, nav/footer seas drown them.

Spark-first shape: jusText is per-document — no cross-document state —
so the whole pipeline (block split, per-block signals, context-free
CASE, the neighbour scan, final text assembly) runs INSIDE the row as
higher-order array functions. No explode-then-Window-by-doc_id (that
formulation shuffles the entire corpus to group blocks that were never
apart); the only explode is the optional per-block *output* projection,
which is narrow. The nearest-neighbour scan is two O(n) prefix
aggregates (forward and reversed) rather than a per-block rescan:
``F.aggregate`` threads "class of the nearest decided block so far"
through the block array exactly like the sequential reference loop.

Tag semantics (split pattern, inline-tag strip, entity decode) are the
SAME published rule strings as ``functions/html.py`` — the q84 oracle
replays them verbatim, while classification thresholds are compared as
plain literals (integer/integer densities: one IEEE division on both
engines, bit-identical, no rounding pins needed).

soda-core has no markup surface (SURVEY §1.2); this extends the HTML
extraction family (functions/html.py) with the standard main-content /
boilerplate decision used ahead of every web-corpus quality filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from soda_core_spark.functions.html import (
    HTML_ENTITIES,
    HTML_EXTRACT_RULES,
)
from soda_core_spark.functions.text import EN_STOPWORDS

#: pre-clean rules (script/style/noscript/comment removal + newline
#: fold) — the extraction chain's prefix, applied before block split.
PRE_RULES: tuple[tuple[str, str], ...] = HTML_EXTRACT_RULES[:5]

#: block boundary = the extraction chain's sentinel rule; splitting on
#: it yields the same segmentation the extractor encodes as \\x07.
BLOCK_BOUNDARY_PATTERN: str = HTML_EXTRACT_RULES[5][0]

#: inline-tag strip for fragment → text.
FRAG_TAG_PATTERN: str = HTML_EXTRACT_RULES[6][0]

assert HTML_EXTRACT_RULES[5][1] == "\x07", "rule table layout changed"
assert HTML_EXTRACT_RULES[6] == (r"<[^>]*>", " "), "rule table layout changed"

ANCHOR_PATTERN = r"(?is)<a\b[^>]*>(.*?)</a\s*>"

#: jusText default-profile thresholds (justext/core.py defaults).
MAX_LINK_DENSITY = 0.2
LENGTH_LOW = 70
LENGTH_HIGH = 200
STOPWORDS_LOW = 0.30
STOPWORDS_HIGH = 0.32

COPYRIGHT_CHAR = "©"

GOOD, NEARGOOD, SHORT, BAD = "good", "neargood", "short", "bad"


def _preclean(html: Column) -> Column:
    col = html.cast("string")
    for pat, rep in PRE_RULES:
        col = F.regexp_replace(col, pat, rep)
    return col


def frag_text(frag: Column) -> Column:
    """Fragment → visible text: inline-tag strip, single-pass entity
    decode, whitespace collapse, trim — the extraction chain's suffix
    applied to one block."""
    col = F.regexp_replace(frag, FRAG_TAG_PATTERN, " ")
    for ent, lit in HTML_ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(lit))
    col = F.regexp_replace(col, r" +", " ")
    return F.trim(col)


def _anchor_text(frag: Column) -> Column:
    return frag_text(
        F.array_join(
            F.regexp_extract_all(frag, F.lit(ANCHOR_PATTERN), F.lit(1)), " "
        )
    )


def _context_free_class(
    text: Column,
    anchor_len: Column,
    max_link_density: float,
    length_low: int,
    length_high: int,
    stopwords_low: float,
    stopwords_high: float,
) -> Column:
    """The reference's classify_paragraphs CASE, char-based lengths."""
    length = F.length(text)
    words = F.filter(F.split(text, "[ \t\n\r]+"), lambda w: w != "")
    n_words = F.size(words)
    sw = F.size(F.filter(words, lambda w: F.lower(w).isin(EN_STOPWORDS)))
    sw_density = F.when(
        n_words > 0, sw.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    link_density = F.when(
        length > 0,
        F.least(F.lit(1.0), anchor_len.cast("double") / length.cast("double")),
    ).otherwise(F.lit(0.0))
    return (
        F.when(link_density > F.lit(float(max_link_density)), F.lit(BAD))
        .when(text.contains(COPYRIGHT_CHAR), F.lit(BAD))
        .when(
            length < F.lit(int(length_low)),
            F.when(anchor_len > 0, F.lit(BAD)).otherwise(F.lit(SHORT)),
        )
        .when(
            sw_density >= F.lit(float(stopwords_high)),
            F.when(length > F.lit(int(length_high)), F.lit(GOOD)).otherwise(
                F.lit(NEARGOOD)
            ),
        )
        .when(sw_density >= F.lit(float(stopwords_low)), F.lit(NEARGOOD))
        .otherwise(F.lit(BAD))
    )


def _nearest_scan(classes: Column, decided: tuple[str, ...]) -> Column:
    """Prefix scan: element i = class of the nearest *preceding* block
    whose context-free class is in ``decided`` (boundary default
    'bad') — one O(n) fold, the distributed twin of the reference's
    backwards neighbour walk. Run it on ``F.reverse(classes)`` and
    re-reverse for the following-neighbour direction."""
    return F.aggregate(
        classes,
        F.array(F.lit(BAD)),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.when(x.isin(*decided), x).otherwise(F.element_at(acc, -1))
            ),
        ),
    )


def _revise(
    cf: Column, prev_gb: Column, next_gb: Column, prev_ng: Column, next_ng: Column
) -> Column:
    """Context-sensitive revision of one block (the reference's
    revise_paragraph_classification, no-headings variant). ``prev_gb``/
    ``next_gb`` are the nearest good/bad neighbour classes; ``*_ng``
    additionally stop at neargood markers."""
    short_case = (
        F.when((prev_gb == GOOD) & (next_gb == GOOD), F.lit(GOOD))
        .when((prev_gb == BAD) & (next_gb == BAD), F.lit(BAD))
        .when(
            ((prev_gb == BAD) & (prev_ng == NEARGOOD))
            | ((next_gb == BAD) & (next_ng == NEARGOOD)),
            F.lit(GOOD),
        )
        .otherwise(F.lit(BAD))
    )
    neargood_case = F.when(
        (prev_gb == BAD) & (next_gb == BAD), F.lit(BAD)
    ).otherwise(F.lit(GOOD))
    return (
        F.when(cf == SHORT, short_case)
        .when(cf == NEARGOOD, neargood_case)
        .otherwise(cf)
    )


def with_justext_blocks(
    df: DataFrame,
    html_col: str = "html",
    max_link_density: float = MAX_LINK_DENSITY,
    length_low: int = LENGTH_LOW,
    length_high: int = LENGTH_HIGH,
    stopwords_low: float = STOPWORDS_LOW,
    stopwords_high: float = STOPWORDS_HIGH,
) -> DataFrame:
    """Attach ``__blocks`` / ``__cf`` / ``__final`` arrays (block texts,
    context-free classes, revised classes; empty blocks dropped, order
    preserved). Staged projections: each array is materialized once per
    row (multi-referenced aliases) — downstream callers explode or join
    them without recompute."""
    reserved = {"__frags", "__blocks", "__alens", "__cf", "__final"} & set(
        df.columns
    )
    if reserved:
        raise ValueError(
            f"input already has internal column(s) {sorted(reserved)}"
        )
    out = df.withColumn(
        "__frags",
        F.filter(
            F.transform(
                F.split(_preclean(F.col(html_col)), BLOCK_BOUNDARY_PATTERN),
                lambda fr: F.struct(
                    frag_text(fr).alias("t"),
                    F.length(_anchor_text(fr)).alias("alen"),
                ),
            ),
            lambda s: s["t"] != "",
        ),
    )
    out = out.withColumn(
        "__blocks", F.transform(F.col("__frags"), lambda s: s["t"])
    ).withColumn("__alens", F.transform(F.col("__frags"), lambda s: s["alen"]))
    out = out.withColumn(
        "__cf",
        F.zip_with(
            F.col("__blocks"),
            F.col("__alens"),
            lambda t, a: _context_free_class(
                t,
                a,
                max_link_density,
                length_low,
                length_high,
                stopwords_low,
                stopwords_high,
            ),
        ),
    )
    cf = F.col("__cf")
    prev_gb = _nearest_scan(cf, (GOOD, BAD))
    prev_ng = _nearest_scan(cf, (GOOD, BAD, NEARGOOD))
    next_gb = F.reverse(_nearest_scan(F.reverse(cf), (GOOD, BAD)))
    next_ng = F.reverse(_nearest_scan(F.reverse(cf), (GOOD, BAD, NEARGOOD)))
    n = F.size(cf)
    # prefix arrays are length n+1 with the sentinel at the start
    # (forward) / end (reversed-then-reversed): for 1-indexed block i,
    # prev = scan[i], next = reversed-scan[i+1].
    final = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: _revise(
            F.element_at(cf, i),
            F.element_at(prev_gb, i),
            F.element_at(next_gb, i + 1),
            F.element_at(prev_ng, i),
            F.element_at(next_ng, i + 1),
        ),
    )
    return out.withColumn(
        "__final", F.when(n > 0, final).otherwise(F.array().cast("array<string>"))
    ).drop("__frags", "__alens")


def justext_blocks(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    **params,
) -> DataFrame:
    """Per-block audit view: ``(id_col, pos, block_text, cf_class,
    block_class)`` — ``pos`` is the 0-based index over the non-empty
    blocks of the document. The explode here is output projection only;
    classification already happened row-locally."""
    staged = with_justext_blocks(df, html_col=html_col, **params)
    z = F.arrays_zip(
        F.col("__blocks").alias("t"),
        F.col("__cf").alias("cf"),
        F.col("__final").alias("fin"),
    )
    e = staged.select(
        F.col(id_col), F.posexplode(z).alias("pos", "b")
    )
    return e.select(
        id_col,
        "pos",
        F.col("b.t").alias("block_text"),
        F.col("b.cf").alias("cf_class"),
        F.col("b.fin").alias("block_class"),
    )


def justext_extract(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "main_text",
    **params,
) -> DataFrame:
    """Main-content extraction: the good blocks joined with newlines
    (NULL when the page has no good block). Pure projection — the
    frame keeps its row count, partitioning, and every input column."""
    staged = with_justext_blocks(df, html_col=html_col, **params)
    kept = F.filter(
        F.zip_with(
            F.col("__blocks"),
            F.col("__final"),
            lambda t, c: F.when(c == GOOD, t),
        ),
        lambda x: x.isNotNull(),
    )
    joined = F.array_join(kept, "\n")
    return staged.withColumn(
        out_col, F.when(F.size(kept) > 0, joined)
    ).drop("__blocks", "__cf", "__final")
