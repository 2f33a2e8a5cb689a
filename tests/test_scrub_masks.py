"""RE2-vs-Python-re equality pins for the scrub DETECTION masks.

The r6 optimization routes the two scrub detection scans (digit-fold
class, candidate prefilter) through pyarrow/RE2 — 13-16x faster than
Python re on the bench corpus — while every REPLACEMENT pass stays
Python re (the byte-parity engine). Safety rests on RE2 and re.ASCII
agreeing on these specific patterns; this module pins that agreement
row-for-row on adversarial cases, and pins that a detection
false-negative cannot occur (the only failure mode that could change
scrub output)."""

import numpy as np
import pandas as pd


ADVERSARIAL = [
    None,
    "",
    " ",
    "plain ascii words only",
    "frakking",                  # toxicity word, bare
    "FRAKKING",                  # case-insensitive
    "FrAkKiNg mid sentence",
    "xfrakking",                 # no word boundary -> not a candidate
    "frakking1",                 # digit continues the word (\b ASCII)
    "frakking_",                 # underscore continues the word
    "a frakking! b",             # punctuation boundary
    "frakking-ly",               # hyphen is a boundary
    "gorram smegging feldercarb",
    "x@y",                       # '@' candidate
    "9",                         # digit candidate
    "١٢٣",        # Arabic-Indic digits: fold needed
    "১੧௧",        # Bengali/Gurmukhi/Tamil digits
    "\U000104a0",                # astral-plane digit (Osmanya)
    "émail sans digits",    # non-ASCII, no Nd digit
    "naïve frakking!",      # non-ASCII + toxicity
    "café 123",             # non-ASCII + ASCII digit
    "tab\tand\nnewline 5",
    "①Ⅱ",              # circled one / roman II: No/Nl, NOT Nd
]


def test_fold_detection_re2_equals_re():
    from soda_core_spark.functions.scrub import (
        DIGIT_FOLD_FROM,
        _contains_mask,
        _fold_needed_re,
    )

    s = pd.Series(ADVERSARIAL)
    got = _contains_mask(
        s, "[" + DIGIT_FOLD_FROM + "]", _fold_needed_re
    ).to_numpy()
    want = _fold_needed_re(s).to_numpy()
    assert (got == want).all(), list(
        zip(ADVERSARIAL, want.tolist(), got.tolist())
    )
    # and the detection is live: the Nd rows are flagged, No/Nl are not
    by_text = dict(zip(ADVERSARIAL, got.tolist()))
    assert by_text["١٢٣"] is True or by_text["١٢٣"] == True  # noqa: E712
    assert bool(by_text["①Ⅱ"]) is False


def test_candidate_mask_re2_equals_re():
    from soda_core_spark.functions.scrub import (
        _candidate_mask,
        _candidate_mask_re,
    )

    s = pd.Series(ADVERSARIAL)
    got = _candidate_mask(s).to_numpy()
    want = _candidate_mask_re(s).to_numpy()
    assert (got == want).all(), list(
        zip(ADVERSARIAL, want.tolist(), got.tolist())
    )
    by_text = dict(zip(ADVERSARIAL, got.tolist()))
    assert bool(by_text["xfrakking"]) is False   # no \b, no digit
    assert bool(by_text["frakking_"]) is False   # _ continues the word
    assert bool(by_text["frakking-ly"]) is True
    assert bool(by_text["x@y"]) is True


def test_scrub_output_unchanged_by_mask_engine():
    """End-to-end: the delta scrub over the adversarial set, with its
    NULL (unchanged) rows filled from the input, equals the sequential
    plain-Python oracle byte-for-byte (the round-5 parity contract,
    re-pinned across the detection-engine change)."""
    from soda_core_spark.functions.scrub import scrub_delta_batch, scrub_text

    s = pd.Series(ADVERSARIAL + [
        "mail a@b.co ssn 123-45-6789 tel +1 (555) 123-4567 "
        "ip 10.0.0.1 card 4111 1111 1111 1111 frakking",
        "١٢٣-٤٥-٦٧٨٩",  # all-unicode SSN
    ])
    delta = scrub_delta_batch(s)
    got = delta.where(delta.notna(), s).tolist()
    want = [scrub_text(x) for x in s]
    assert got == want
