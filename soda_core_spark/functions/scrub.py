"""PII / toxicity scrubbing — an ordered regex-replace chain.

Byte-identical output per url is an acceptance criterion
(BASELINE.json input_hint), and Java-vs-Python regex divergence is the
main parity hazard (SURVEY §7.2 step 6). So the scrub runs **inside a
vectorized pandas UDF using Python ``re``** (via pandas ``str.replace``,
Arrow-batched) — the oracle scrubs with the same engine, so semantics are
pinned by construction. The rule *table* below is the shared contract.

The Spark implementation is :func:`scrubbed`, i.e.
``coalesce(scrub_delta_udf(text), text)``: the UDF returns only the rows
the scrub changes, so unchanged text never crosses Arrow on the way back.
:func:`scrub_text` is the independent plain-Python reference.

soda-core has no scrub operator — its closest machinery is the per-row
failed-rows condition (failed_rows_check.py:47-259); scrubbing is the
quality-filter extension mandated by the north rule.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

#: ordered scrub rules: (name, pattern, replacement). Order matters —
#: e.g. SSN before phone so 123-45-6789 isn't half-eaten by a phone rule.
SCRUB_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (
        "phone",
        r"\+?\d{1,2}[-. ]?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}\b",
        "<PHONE>",
    ),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # IPv6: full 8-group form, or ::-compressed with at least one group
    # on each side (the literal "::" is REQUIRED in the second branch —
    # without it, clock times like 12:34:56 are valid hex groups and
    # would be eaten). Leading/trailing "::" forms (::1, 2001:db8::) are
    # a documented non-goal — unanchored bare-compression matching can't
    # be made safe against ratios/ranges in prose with RE2-compatible
    # syntax (no lookarounds).
    (
        "ipv6",
        r"\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b"
        r"|\b(?:[0-9A-Fa-f]{1,4}:){1,6}:"
        r"[0-9A-Fa-f]{1,4}(?::[0-9A-Fa-f]{1,4}){0,5}\b",
        "<IP6>",
    ),
    (
        "credit_card",
        r"\b\d{4}[- ]?\d{4}[- ]?\d{4}[- ]?\d{4}\b",
        "<CARD>",
    ),
)

#: fixed toxicity lexicon (mild placeholder terms — the mechanism is the
#: deliverable; swap the lexicon freely). Whole-word, case-insensitive.
TOXICITY_LEXICON: tuple[str, ...] = (
    "frakking",
    "gorram",
    "smegging",
    "feldercarb",
)

_TOX_PATTERN = r"(?i)\b(?:" + "|".join(re.escape(w) for w in TOXICITY_LEXICON) + r")\b"
_TOX_REPLACEMENT = "<TOX>"

#: the full ordered chain applied to every document
ALL_RULES: tuple[tuple[str, str, str], ...] = SCRUB_RULES + (
    ("toxicity", _TOX_PATTERN, _TOX_REPLACEMENT),
)

# Digit-fold pre-pass: every Unicode decimal digit (category Nd, 650
# code points) maps to its ASCII value BEFORE any rule runs, on both
# engines — Python str.translate here, DuckDB translate(text, FROM, TO)
# in the oracle (verified identical incl. astral-plane digits). This is
# what lets the ASCII-pinned rules below catch e.g. Arabic-Indic or
# Devanagari-digit SSNs/phones without giving up RE2 parity: the rules
# still see only ASCII digits, the fold itself is engine-portable, and
# the folded text is the scrub OUTPUT contract (both sides fold, so
# byte-parity per url is preserved by construction).
_FOLD_PAIRS = [
    (chr(cp), str(unicodedata.digit(chr(cp))))
    for cp in range(0x110000)
    if unicodedata.category(chr(cp)) == "Nd" and not 0x30 <= cp <= 0x39
]
DIGIT_FOLD_FROM = "".join(p[0] for p in _FOLD_PAIRS)
DIGIT_FOLD_TO = "".join(p[1] for p in _FOLD_PAIRS)
_DIGIT_TRANS = str.maketrans(DIGIT_FOLD_FROM, DIGIT_FOLD_TO)
# none of the Nd chars are regex-class metacharacters ([ ] \ ^ -), so the
# raw set embeds directly in a character class
_FOLD_NEEDED = re.compile("[" + DIGIT_FOLD_FROM + "]")


try:  # RE2 path for the DETECTION scans (see _contains_mask)
    import pyarrow as _pa
    import pyarrow.compute as _pc

    _HAVE_PA = True
except Exception:  # pragma: no cover - pyarrow ships with pyspark
    _HAVE_PA = False


def _contains_mask(texts: pd.Series, re2_pattern: str, fallback) -> "pd.Series":
    """Boolean contains-mask via pyarrow/RE2 with a Python-``re``
    fallback. DETECTION ONLY — the replacement passes stay Python
    ``re`` (the byte-parity contract engine). Safe because every
    pattern routed here is a plain character class or an
    ASCII-word-boundary alternation, on which RE2 and ``re.ASCII``
    agree exactly (``\\b`` is [A-Za-z0-9_]-delimited in both;
    character classes are set membership); equality is additionally
    pinned row-for-row by tests/test_scrub_masks.py on adversarial
    unicode/boundary cases. Why: profiled on the r6 bench corpus, the
    two detection scans (650-char digit class + candidate mask) were
    73 % of the scrub batch — Python ``re`` scans ~55 ns/char where
    RE2's DFA measured 13-16× faster (0.67 s → 0.05 s per 20k docs).
    NULL rows are False (matching the fallback's isinstance gate)."""
    if _HAVE_PA:
        try:
            arr = _pa.Array.from_pandas(texts)
            m = _pc.fill_null(
                _pc.match_substring_regex(arr, re2_pattern), False
            )
            return pd.Series(
                m.to_numpy(zero_copy_only=False), index=texts.index
            )
        except Exception:
            pass
    return fallback(texts)


def _fold_needed_re(texts: pd.Series) -> pd.Series:
    """Python-re fold detection (fallback): O(1) ``str.isascii`` gate,
    650-char class scan only over the non-ASCII minority."""
    arr = texts.to_numpy(dtype=object)
    return pd.Series(
        [
            isinstance(s, str)
            and not s.isascii()
            and bool(_FOLD_NEEDED.search(s))
            for s in arr
        ],
        index=texts.index,
    )


def _fold_digits(texts: pd.Series) -> pd.Series:
    """Fold Unicode digits to ASCII on the rows that need it (most rows
    contain none and keep their original string object — no copy).
    Detection via :func:`_contains_mask` (RE2, re fallback)."""
    mask = _contains_mask(
        texts, "[" + DIGIT_FOLD_FROM + "]", _fold_needed_re
    )
    if not mask.any():
        return texts
    out = texts.copy()
    pos = texts.index[mask.to_numpy()]
    out[pos] = out[pos].str.translate(_DIGIT_TRANS)
    return out


# re.ASCII pins \b/\d/\w to ASCII semantics — deliberately: (a) PII
# shapes (SSNs, phones, cards, IPs) are ASCII by construction, and
# (b) DuckDB/RE2 (the cross-engine oracle) is ASCII-only for these
# classes, so without the flag Python finds boundaries RE2 doesn't on
# any non-ASCII document (e.g. 'é123-45-6789': Unicode \b sees no
# boundary after 'é'; ASCII \b does) and byte-parity breaks. The digit
# fold above closes the coverage gap re.ASCII would otherwise open on
# non-ASCII-digit PII.
_COMPILED = [
    (name, re.compile(pat, re.ASCII), repl) for name, pat, repl in ALL_RULES
]


def scrub_text(text: str | None) -> str | None:
    """Plain-Python single-document scrub (used by the oracle)."""
    if text is None:
        return None
    text = text.translate(_DIGIT_TRANS)
    for _, rx, repl in _COMPILED:
        text = rx.sub(repl, text)
    return text


#: cheap pre-filter: every scrub rule needs a digit or '@' (PII) or a
#: toxicity word — rows matching neither CANNOT be changed by any rule and
#: skip the 6-pass scrub entirely (most clean docs). Purely an
#: optimization: replaced rows get the identical sequential scrub, so
#: byte-parity with the sequential oracle is preserved by construction.
_CAN_MATCH = re.compile(
    r"[0-9@]|(?i:\b(?:" + "|".join(re.escape(w) for w in TOXICITY_LEXICON) + r")\b)",
    re.ASCII,
)


#: the same pattern in RE2 syntax (inline (?i:) group; \b and the
#: classes are ASCII-identical across engines — see _contains_mask)
_CAN_MATCH_RE2 = (
    r"[0-9@]|(?i:\b(?:"
    + "|".join(re.escape(w) for w in TOXICITY_LEXICON)
    + r")\b)"
)


def _candidate_mask_re(texts: pd.Series) -> pd.Series:
    # `== True` folds the NaN rows (null text) to False without the
    # object-dtype fillna downcast warning
    return texts.str.contains(_CAN_MATCH, regex=True) == True  # noqa: E712


def _candidate_mask(texts: pd.Series) -> pd.Series:
    return _contains_mask(texts, _CAN_MATCH_RE2, _candidate_mask_re)


def scrub_delta_batch(texts: pd.Series) -> pd.Series:
    """Vectorized scrub over an Arrow batch that returns NULL for every
    row the scrub leaves byte-identical — the Arrow return batch then
    carries only the CHANGED rows' bytes (a few % of corpus text) instead
    of echoing the whole column back to the JVM. :func:`scrubbed`
    reconstructs the full column as ``coalesce(delta, text)``.

    Detector prefilter first, then one pandas ``str.replace`` (Python re)
    per rule over the candidate rows only. Rule ORDER is semantic
    (sequential passes) — do not merge the patterns into one alternation;
    leftmost-match-wins across rules would diverge from sequential
    semantics on adjacent matches.

    Digit fold runs first. "Changed" compares against the PRE-fold
    original, so a row whose only change is digit folding is still
    returned (its folded bytes are the contract output); a folded row
    always contains an ASCII digit afterwards, so it is a candidate by
    construction."""
    out = pd.Series(None, index=texts.index, dtype=object)
    folded = _fold_digits(texts)
    candidates = _candidate_mask(folded)
    if not candidates.any():
        return out
    orig = texts[candidates]
    sub = folded[candidates]
    for _, rx, repl in _COMPILED:
        sub = sub.str.replace(rx, repl, regex=True)
    changed = sub != orig
    out[sub.index[changed]] = sub[changed]
    return out


@pandas_udf(T.StringType())
def scrub_delta_udf(texts: pd.Series) -> pd.Series:
    return scrub_delta_batch(texts)


def scrubbed(text: Column) -> Column:
    """The scrubbed text column: changed rows from the delta UDF,
    every other row passes through unchanged."""
    from pyspark.sql import functions as F

    return F.coalesce(scrub_delta_udf(text), text)


def pii_hit_count(texts: pd.Series) -> pd.Series:
    """Number of scrub-rule hits per document (diagnostic metric);
    counted on digit-folded text, matching what the scrub rules see."""
    texts = _fold_digits(texts)
    total = pd.Series(0, index=texts.index)
    for _, rx, _repl in _COMPILED:
        total = total + texts.str.count(rx)
    return total.fillna(0).astype("int64")


@pandas_udf(T.LongType())
def pii_count_udf(texts: pd.Series) -> pd.Series:
    return pii_hit_count(texts)
