"""Language identification — a fastText-style classifier stand-in.

The model: per-language stopword/function-word sets (public knowledge —
standard high-frequency word lists). Score(lang) = fraction of lowercased
tokens found in that language's set; prediction = argmax, confidence = the
winning score. Deterministic, dependency-free, and shared (as *model data*,
not inference code) with the plain-pandas oracle.

The Spark implementation is :func:`langid_columns`: per-language hit
counts come from the row-signal counter (``text.text_counts``, a pandas
UDF that maps the distinct lowered tokens of each Arrow batch through
:data:`_TOKEN_MASK`), and the fractions, confidence and argmax are JVM
arithmetic over them. :func:`score_batch` is the plain-pandas reference
the tests compare it against; it is not a Spark code path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from soda_core_spark.functions.text import EN_STOPWORDS, with_counts

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
#: per-language set probes into ONE dict map per distinct token
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
    silently diverge from the Spark path (:func:`attach_langid`) and
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


def _lang_fraction(counts: Column, lang: str) -> Column:
    """Fraction of the lowered tokens in ``lang``'s word set; 0.0 for no
    tokens — one IEEE double over exact integer counts, as in
    :func:`score_batch`."""
    n = counts["n_words"]
    return F.when(
        n > 0, counts[f"hits_{lang}"].cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))


def langid_columns(counts: Column) -> dict[str, Column]:
    """``langid_conf``/``langid_pred`` as JVM arithmetic over a
    ``text.text_counts`` struct: conf = the greatest language fraction,
    pred = the first language (sorted order, as pandas ``idxmax``) that
    reaches it, ``'und'`` when no token hits any pack."""
    fracs = {lang: _lang_fraction(counts, lang) for lang in LANGS}
    conf = F.greatest(*fracs.values())
    pred = F.when(conf <= 0.0, F.lit("und"))
    for lang in LANGS:
        pred = pred.when(fracs[lang] == conf, F.lit(lang))
    return {"langid_conf": conf, "langid_pred": pred}


def attach_langid(df, text_col: str = "text"):
    """Attach ``langid_pred``/``langid_conf`` (:func:`langid_columns` over
    ``text_counts`` of ``text_col``; NULL text counts as ``''``)."""
    out = with_counts(df, text_col)
    return out.withColumns(langid_columns(F.col("__counts"))).drop("__counts")


def lang_stopword_density(counts: Column, lang: Column) -> Column:
    """Stopword density against the DOCUMENT'S OWN language pack — the
    CCNet/Gopher signal done right for a multilingual corpus (an English
    stopword list scores French prose as junk; each language must be
    measured against its own function words). ``counts`` is a
    ``text.text_counts`` struct.

    One CASE chain over :data:`LANGS`. Languages with no pack (e.g. zh —
    whitespace stopword lists don't apply to unsegmented scripts) yield
    NULL, which the declarative check layer treats as "signal
    unavailable" rather than zero-quality; token-less documents yield
    0.0 like the monolingual form. 6 dp rounding pins the
    integer/integer division cross-engine.
    """
    result = None
    for L in LANGS:
        d = F.round(_lang_fraction(counts, L), 6)
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
    state), prediction is :func:`attach_langid` over the exploded
    paragraphs (one Arrow node for the counts), and the rollup is
    ONE groupBy(doc, lang) with map-side partial aggregation
    followed by a per-doc ``max_by`` over a (count, priority) struct —
    the struct key is unique per language so the argmax is exact, no
    window, no second shuffle wider than one row per (doc, lang).
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    paras = F.filter(F.split(text, "\\n\\n+"), lambda p: F.trim(p) != "")
    exploded = df.select(F.col(id_col), F.explode(paras).alias("__para"))
    scored = attach_langid(exploded, "__para")
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
