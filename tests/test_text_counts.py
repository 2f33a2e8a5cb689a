"""The row-signal counter (functions/text.py ``count_batch``) against a
plain-Python statement of its contract. No Spark: the counter is the
pandas body of the pipeline's counting UDF."""

import re

import pandas as pd
import pytest

from soda_core_spark.functions.langid import LANG_WORDS, LANGS
from soda_core_spark.functions.text import count_batch


def _contract(text):
    """Tokens: split on runs of ASCII space/tab/LF/CR, empties dropped.
    Lines: '\\n'-split, kept when something other than spaces remains
    (Spark ``trim`` strips spaces only), distinct over the untrimmed
    lines. Language hits: tokens lowercased with ``str.lower``."""
    text = text or ""
    words = [w for w in re.split("[ \t\n\r]+", text) if w]
    lines = [line for line in text.split("\n") if line.strip(" ")]
    lowered = [w.lower() for w in words]
    counts = {
        "n_words": len(words),
        "n_nonws": sum(len(w) for w in words),
        "n_alnum": sum(c.isascii() and c.isalnum() for c in text),
        "n_bigrams": len(set(zip(words, words[1:]))),
        "n_lines": len(lines),
        "n_lines_distinct": len(set(lines)),
    }
    for lang in LANGS:
        counts[f"hits_{lang}"] = sum(w in LANG_WORDS[lang] for w in lowered)
    return counts


CASES = [
    None,
    "",
    "   ",
    " \t\r\n ",
    "the\tof\rand\nto in",
    "the\u00a0of and to",  # NBSP is not a separator
    "  leading and trailing  ",
    "nav\n\t\nbody",  # a tab-only line is non-empty under Spark trim
    "nav\nnav\nnav \nbody\nnav",  # repeated lines; 'nav ' is its own line
    "one",
    "\u0130T li\u212ae \u039f\u0394\u039f\u03a3 the",  # İT, Kelvin-sign liKe, final Σ
    "FÜR über Très más è più",
    "a b a b a b",
    "Hello, World! 123 ÄÖ 😀",
]


def test_counts_match_plain_python_contract():
    got = count_batch(pd.Series(CASES, dtype=object))
    expected = pd.DataFrame([_contract(t) for t in CASES])
    assert list(got.columns) == list(expected.columns)
    assert (got.dtypes == "int32").all()
    for i, text in enumerate(CASES):
        assert got.iloc[i].to_dict() == expected.iloc[i].to_dict(), repr(text)


def test_case_mapping_follows_full_lowercase():
    """Per-token ``str.lower`` maps İ to 'i̇' (not 'i') and the Kelvin
    sign to 'k' — the JVM ``lower`` mapping."""
    row = count_batch(pd.Series(["liKe the İT"])).iloc[0]
    assert row["hits_en"] == 2  # 'like' and 'the'; 'i̇t' is not 'it'
    assert row["hits_it"] == 0


def test_batch_without_tokens():
    got = count_batch(pd.Series([None, "", "   ", " \n \n"], dtype=object))
    assert (got.to_numpy() == 0).all()
    assert len(count_batch(pd.Series([], dtype=object))) == 0


def test_sliced_batch_keeps_index():
    s = pd.Series(CASES, dtype=object).iloc[4:9]
    got = count_batch(s)
    assert list(got.index) == list(s.index)
    assert got.to_dict("records") == [_contract(t) for t in s]


@pytest.mark.parametrize("text", ["a\tb", "a\rb", "a\nb", "a \t\r\n b"])
def test_every_ascii_separator_splits(text):
    assert count_batch(pd.Series([text])).iloc[0]["n_words"] == 2
