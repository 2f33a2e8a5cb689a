"""Language identification — a fastText-style classifier stand-in.

The model: per-language stopword/function-word sets (public knowledge —
standard high-frequency word lists). Score(lang) = fraction of lowercased
tokens found in that language's set; prediction = argmax, confidence = the
winning score. Deterministic, dependency-free, and shared (as *model data*,
not inference code) with the plain-pandas oracle.

The Spark implementation is :func:`attach_langid_jvm`: each language's
score is a JVM membership filter over the lowered token array (codegen,
no Python, no Arrow traffic). :func:`score_batch` is the plain-pandas
reference the tests compare it against; it is not a Spark code path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from soda_core_spark.functions.text import EN_STOPWORDS, words_col

#: frozen per-language function-word sets (model weights, in effect)
LANG_WORDS: dict[str, frozenset[str]] = {
    "en": frozenset(EN_STOPWORDS),
    "de": frozenset(
        "der die das und ist ich nicht mit ein eine zu den von sie er es im "
        "für auf des sich dem an als auch wie bei nach aus wenn aber nur "
        "noch werden wird sind war einen einem einer über so um hat haben "
        "kann man mehr schon durch ihre sein ohne".split()
    ),
    "fr": frozenset(
        "le la les de des un une et est que qui dans pour pas sur avec ne "
        "se ce il elle au aux du en par plus mais ou comme si nous vous ils "
        "sont être avoir fait tout cette ces son sa ses leur bien même "
        "aussi très".split()
    ),
    "es": frozenset(
        "el la los las de un una y es que en no se con por para su al lo "
        "como más pero sus le ya o este sí porque esta entre cuando muy sin "
        "sobre también me hasta hay donde quien desde todo nos durante "
        "todos uno les".split()
    ),
    "it": frozenset(
        "il la le di un una e che è in non si con per su come più ma lo "
        "gli del della dei delle al alla ai da nel nella questo questa "
        "sono era hanno ha anche molto dove quando perché tutto tutti "
        "loro suo sua".split()
    ),
    "nl": frozenset(
        "de het een en van in is dat op te zijn met voor niet aan er ook "
        "als bij maar om uit door over ze dit naar dan nog wel wat worden "
        "werd kan onder tussen tegen deze die heeft hebben hun meer al "
        "geen tot".split()
    ),
}

LANGS: tuple[str, ...] = tuple(sorted(LANG_WORDS))

#: token → language bitmask (bit i = membership in LANGS[i]'s set) — turns
#: per-language set probes into ONE dict map over the exploded tokens
_TOKEN_MASK: dict[str, int] = {}
for _i, _lang in enumerate(LANGS):
    for _w in LANG_WORDS[_lang]:
        _TOKEN_MASK[_w] = _TOKEN_MASK.get(_w, 0) | (1 << _i)


def score_batch(texts: pd.Series) -> pd.DataFrame:
    """Vectorized batch scoring: one explode, one dict-map to language
    bitmasks, one grouped sum over all languages at once. Counts are
    exact integers — identical to per-language set membership.

    Tokenization is the repo-wide contract (functions/text.py): split on
    ASCII whitespace runs ``[ \\t\\n\\r]+``, drop empties — NOT
    ``str.split()``, whose unicode-whitespace set (NBSP, \\x0c, …) would
    silently diverge from the JVM path (:func:`attach_langid_jvm`) and
    the DuckDB oracle on real HTML-derived text."""
    import numpy as np

    s = texts.fillna("")
    tokens = s.str.lower().str.split(r"[ \t\n\r]+", regex=True)
    exploded = tokens.explode()
    valid = exploded.notna() & (exploded != "")
    masks = exploded.map(_TOKEN_MASK).fillna(0).astype(np.int64)
    per_lang = pd.DataFrame(
        {lang: (masks.values >> i) & 1 for i, lang in enumerate(LANGS)},
        index=exploded.index,
    )
    per_lang["__n"] = valid.astype(np.int64)
    agg = per_lang.groupby(level=0).sum().reindex(s.index, fill_value=0)
    n = agg.pop("__n")
    frac = agg.div(n.where(n > 0, 1.0), axis=0)
    pred = frac.idxmax(axis=1)
    conf = frac.max(axis=1)
    pred = pred.where(conf > 0.0, "und")  # no hits anywhere → undetermined
    return pd.DataFrame({"langid_pred": pred, "langid_conf": conf.astype(float)})


def attach_langid_jvm(df, text_col: str = "text", lowered_tokens_col: str | None = None):
    """Attach ``langid_pred``/``langid_conf`` via the JVM model, staged so
    every expensive piece is evaluated exactly once per row: the lowered
    token array and the six per-language fractions are materialized as
    multi-referenced projection aliases (they survive CollapseProject),
    then conf = greatest over the fraction COLUMNS and pred compares the
    columns — without the staging, greatest+argmax would re-run each
    token-set filter 2-3× (higher-order functions have no CSE).

    ``lowered_tokens_col`` names an ALREADY-materialized lowered token
    array (e.g. ``with_signals(keep_lowered_tokens=True)``'s ``__wl``) —
    reusing it skips a second full-text split; the column is consumed
    (dropped) either way."""
    if lowered_tokens_col is not None:
        df = df.withColumnRenamed(lowered_tokens_col, "__wl")
    else:
        text = F.coalesce(F.col(text_col), F.lit(""))
        df = df.withColumn("__wl", words_col(F.lower(text)))
    fcols = {
        f"__lid_{lang}": frac
        for lang, frac in _lang_fractions(F.col("__wl")).items()
    }
    df = df.withColumns(fcols)
    df = df.withColumn(
        "langid_conf", F.greatest(*[F.col(f"__lid_{lang}") for lang in LANGS])
    )
    pred = F.when(F.col("langid_conf") <= 0.0, F.lit("und"))
    for lang in LANGS:  # first max in sorted-lang order == pandas idxmax
        pred = pred.when(
            F.col(f"__lid_{lang}") == F.col("langid_conf"), F.lit(lang)
        )
    return df.withColumn("langid_pred", pred).drop("__wl", *fcols)


def _member_fn(word_set: frozenset[str]):
    # single-param closure, NOT a default-arg lambda — pyspark treats a
    # two-param lambda as the (element, index) form (see dedup._salted_hash)
    words_list = sorted(word_set)
    return lambda t: t.isin(words_list)


def _lang_fractions(lowered_words: Column) -> dict[str, Column]:
    """Per language, the fraction of the lowered tokens in its word set;
    0.0 for an empty array. Counts are exact integers and the division
    is one IEEE double per language, as in :func:`score_batch`."""
    n = F.size(lowered_words)
    fracs = {}
    for lang in LANGS:
        hits = F.size(F.filter(lowered_words, _member_fn(LANG_WORDS[lang])))
        fracs[lang] = F.when(
            n > 0, hits.cast("double") / n.cast("double")
        ).otherwise(F.lit(0.0))
    return fracs


def lang_stopword_density(lowered_words: Column, lang: Column) -> Column:
    """Stopword density against the DOCUMENT'S OWN language pack — the
    CCNet/Gopher signal done right for a multilingual corpus (an English
    stopword list scores French prose as junk; each language must be
    measured against its own function words).

    One CASE chain over :data:`LANGS` — only the matching branch
    evaluates, so cost is one membership filter per row regardless of
    pack count. Languages with no pack (e.g. zh — whitespace stopword
    lists don't apply to unsegmented scripts) yield NULL, which the
    declarative check layer treats as "signal unavailable" rather than
    zero-quality; token-less documents yield 0.0 like the monolingual
    form. 6 dp rounding pins the integer/integer division cross-engine.
    """
    fracs = _lang_fractions(lowered_words)
    result = None
    for L in LANGS:
        d = F.round(fracs[L], 6)
        result = (
            F.when(lang == L, d) if result is None else result.when(lang == L, d)
        )
    return result.otherwise(F.lit(None).cast("double"))


def paragraph_lang_profile(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Paragraph-level language segmentation — the multilingual-document
    detector. Document-level language ID (q20) misclassifies or hides
    mixed-language pages (boilerplate in one language wrapping content in
    another, quote blocks, spam keyword walls); per-paragraph ID exposes
    them: a page whose paragraphs disagree with its dominant language
    above a threshold is routed to review/splitting rather than keep/drop
    (the CCNet/RedPajama per-segment LID pattern).

    Returns one row per document: ``n_paragraphs``, ``dominant_lang``
    (most-frequent paragraph prediction; ties resolve to the
    lexicographically first language — deterministic cross-engine),
    ``n_other`` (paragraphs predicted as any other language, 'und'
    included), ``other_fraction`` (6 dp).

    Shape for scale: paragraphs explode from the page (linear, no corpus
    state), prediction is :func:`attach_langid_jvm` over the exploded
    paragraphs (JVM codegen, zero Python, zero Arrow), and the rollup is
    ONE groupBy(doc, lang) with map-side partial aggregation
    followed by a per-doc ``max_by`` over a (count, priority) struct —
    the struct key is unique per language so the argmax is exact, no
    window, no second shuffle wider than one row per (doc, lang).
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    paras = F.filter(F.split(text, "\\n\\n+"), lambda p: F.trim(p) != "")
    exploded = df.select(F.col(id_col), F.explode(paras).alias("__para"))
    scored = attach_langid_jvm(exploded, "__para")
    counts = (
        scored.select(F.col(id_col), F.col("langid_pred").alias("__plang"))
        .groupBy(id_col, "__plang")
        .agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
    )
    # unique argmax key: count first, then lexicographically-FIRST lang
    # wins ties — encoded as a priority that rises as the lang sorts
    # earlier ('und' sorts after all real packs by construction)
    order = list(LANGS) + ["und"]
    pri = F.lit(0)
    for i, lang in enumerate(order):
        pri = F.when(F.col("__plang") == lang, F.lit(len(order) - i)).otherwise(pri)
    key = F.struct(F.col("__cnt").alias("c"), pri.alias("p"))
    per_doc = counts.groupBy(id_col).agg(
        F.sum("__cnt").cast("long").alias("n_paragraphs"),
        F.max_by("__plang", key).alias("dominant_lang"),
        F.max(key).alias("__maxkey"),
    )
    dom_cnt = F.col("__maxkey.c")
    return per_doc.select(
        id_col,
        "n_paragraphs",
        "dominant_lang",
        (F.col("n_paragraphs") - dom_cnt).cast("long").alias("n_other"),
        F.round(
            (F.col("n_paragraphs") - dom_cnt).cast("double")
            / F.col("n_paragraphs").cast("double"),
            6,
        ).alias("other_fraction"),
    )
