"""Acceptance tests (BASELINE.json): the Spark quality-filter pipeline must
reproduce the reference oracle's keep/drop decisions (F1 ≥ 0.99) and produce
byte-identical scrubbed text per url."""

import pandas as pd
import pytest
from pyspark.sql import types as T

from soda_core_spark.operators.filter_pipeline import QualityFilterPipeline
from soda_core_spark.operators.filter_rules import DEFAULT_WEBTEXT_RULES
from soda_core_spark.sources.webtext_gen import generate_web_pages
from soda_core_spark.sources.webtext_oracle import keep_drop_f1, label_frame

N_DOCS = 1500

WEB_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def web_pages_pdf():
    return generate_web_pages(N_DOCS)


@pytest.fixture(scope="module")
def web_pages_df(spark, web_pages_pdf):
    pdf = web_pages_pdf.copy()
    pdf["url"] = pdf["url"].astype(object)
    pdf["text"] = pdf["text"].astype(object)
    pdf["lang"] = pdf["lang"].astype(object)
    return spark.createDataFrame(pdf, schema=WEB_PAGES_SCHEMA)


@pytest.fixture(scope="module")
def spark_labels(web_pages_df):
    pipeline = QualityFilterPipeline()
    annotated = pipeline.annotate(web_pages_df)
    cols = (
        ["url", "keep", "text_scrubbed", "langid_pred", "langid_conf", "log_ppl"]
        + [f"fail_{r.name}" for r in DEFAULT_WEBTEXT_RULES]
        + ["n_chars", "n_words", "alnum_ratio", "stopword_density",
           "bigram_repetition", "mean_word_length"]
    )
    return annotated.select(cols).toPandas().set_index("url").sort_index()


@pytest.fixture(scope="module")
def oracle_labels(web_pages_pdf):
    return label_frame(web_pages_pdf).set_index("url").sort_index()


def test_schema_is_authoritative(web_pages_df):
    assert [f.name for f in web_pages_df.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]


def test_keep_drop_f1(spark_labels, oracle_labels):
    f1 = keep_drop_f1(
        oracle_labels["keep"].astype(bool), spark_labels["keep"].astype(bool)
    )
    assert f1 >= 0.99, f"keep/drop F1 {f1} below threshold"
    # with mirrored arithmetic the decisions should in fact be identical
    mismatches = (spark_labels["keep"].astype(bool) != oracle_labels["keep"]).sum()
    assert mismatches == 0, f"{mismatches} keep/drop mismatches"


def test_per_rule_flag_parity(spark_labels, oracle_labels):
    for r in DEFAULT_WEBTEXT_RULES:
        col = f"fail_{r.name}"
        s = spark_labels[col].fillna(False).astype(bool)
        o = oracle_labels[col].astype(bool)
        diff = (s != o).sum()
        assert diff == 0, f"rule {r.name}: {diff} flag mismatches"


def test_scrubbed_text_byte_identical(spark_labels, oracle_labels):
    """Kept docs: byte-identical to the oracle scrub. Dropped docs are
    NULL by default (scrub='kept' — the regex chain never runs on rows
    the filter discards; 'all' restores whole-corpus scrubbing)."""
    kept = spark_labels["keep"].astype(bool)
    s = spark_labels["text_scrubbed"]
    o = oracle_labels["text_scrubbed"]
    mismatch = (s[kept] != o[kept]).sum()
    assert mismatch == 0, f"{mismatch} scrubbed kept docs differ"
    assert s[~kept].isna().all(), "dropped docs must not be scrubbed"
    # scrubbing actually happened: PII docs contain sentinels
    assert s.str.contains("<EMAIL>|<SSN>|<PHONE>|<IP>|<CARD>|<TOX>").any()


def test_scrub_all_mode_scrubs_every_row(web_pages_df, oracle_labels):
    """scrub='all' preserves the round-2 behavior: every row scrubbed,
    byte-identical to the oracle, inside the fused Arrow node."""
    ann = (
        QualityFilterPipeline(scrub="all")
        .annotate(web_pages_df)
        .select("url", "text_scrubbed")
        .toPandas()
        .set_index("url")
        .sort_index()
    )
    assert (ann["text_scrubbed"] != oracle_labels["text_scrubbed"]).sum() == 0


def test_signal_value_parity(spark_labels, oracle_labels):
    """Heuristic doubles agree exactly (same IEEE ops, same order);
    log_ppl to 1e-9 (numpy-table path vs dict-model oracle — np.log /
    pairwise-mean rounding), far inside the ≥0.4 decision margin."""
    for col in ["n_chars", "n_words", "alnum_ratio", "stopword_density",
                "bigram_repetition", "mean_word_length", "langid_conf"]:
        s = spark_labels[col].astype(float)
        o = oracle_labels[col].astype(float)
        pd.testing.assert_series_equal(s, o, check_names=False, check_exact=True)
    assert (spark_labels["log_ppl"] - oracle_labels["log_ppl"]).abs().max() < 1e-9


def test_langid_pred_parity(spark_labels, oracle_labels):
    assert (spark_labels["langid_pred"] != oracle_labels["langid_pred"]).sum() == 0


def test_keep_rate_sane(spark_labels):
    rate = spark_labels["keep"].mean()
    assert 0.5 < rate < 0.9, f"keep rate {rate} outside sane band"


def test_pipeline_run_with_observe(tmp_path, web_pages_df):
    pipeline = QualityFilterPipeline()
    out = str(tmp_path / "out")
    lineage = str(tmp_path / "lineage")
    result = pipeline.run(web_pages_df, output_path=out, lineage_path=lineage)
    assert result.n_input == N_DOCS
    assert 0 < result.n_kept < N_DOCS
    assert result.per_rule_fail["min_chars"] > 0
    # kept corpus is the keep=true partition directory — the documented
    # consumption path (partition pruning, no filter evaluation)
    spark = web_pages_df.sparkSession
    kept = spark.read.parquet(out + "/keep=true")
    assert kept.count() == result.n_kept
    lin = spark.read.parquet(lineage)
    assert lin.count() > 1  # one row per host
    assert lin.agg({"n_docs": "sum"}).first()[0] == N_DOCS


def test_example_contract_verifies(spark, web_pages_df):
    """contracts/web_pages.yml runs against the annotated pipeline output
    (schema + quality + drop-rate checks in one scan)."""
    from datetime import datetime, timezone

    from soda_core_spark import CheckOutcome, verify_contract
    from soda_core_spark.plans.model import contract_from_yaml

    with open("/root/repo/contracts/web_pages.yml") as fh:
        contract = contract_from_yaml(fh.read())
    annotated = QualityFilterPipeline().annotate(web_pages_df)
    result = verify_contract(
        spark, contract, annotated,
        data_timestamp=datetime(2026, 7, 15, tzinfo=timezone.utc),
    )
    by_name = {r.name: r for r in result.check_results}
    assert by_name["drop_rate"].outcome == CheckOutcome.PASSED
    assert by_name["row_count"].outcome == CheckOutcome.PASSED
    # schema check fails: annotated output adds signal columns and the
    # pipeline drops html — exactly what the diff should report
    schema_r = by_name["schema"]
    assert schema_r.outcome == CheckOutcome.FAILED
    assert "html" in schema_r.diagnostics["missingColumns"]
    assert "keep" in schema_r.diagnostics["extraColumns"]


def test_null_text_is_dropped_like_oracle(spark):
    """NULL text must not sail through the filter (signals coalesce to
    empty, matching the oracle's `text or ''`)."""
    from datetime import datetime, timezone

    from soda_core_spark.sources.webtext_oracle import label_document

    rows = [
        ("https://h0.example.com/x", datetime(2026, 6, 1, tzinfo=timezone.utc),
         bytearray(b"\x00"), None, "en"),
    ]
    df = spark.createDataFrame(rows, WEB_PAGES_SCHEMA)
    ann = QualityFilterPipeline().annotate(df).select(
        "keep", "n_chars", "text_scrubbed").first()
    oracle = label_document(None, "en")
    assert bool(ann.keep) == oracle["keep"] == False  # noqa: E712
    assert ann.n_chars == 0
    assert (ann.text_scrubbed is None) == (oracle["text_scrubbed"] is None)


def test_invalid_rule_fails_loudly(spark):
    """A rule with a typo'd column must raise a named error at plan time —
    never a silent pass-through of unfiltered documents."""
    import pytest

    from soda_core_spark.operators.filter_pipeline import QualityFilterPipeline
    from soda_core_spark.operators.filter_rules import (
        FilterRule,
        InvalidFilterRuleError,
    )

    df = spark.createDataFrame(
        [("http://a/1", "hello world")], ["url", "text"]
    )
    for bad in ("n_wordz < 3", "n_words <<< 3"):  # unknown column, syntax
        pipe = QualityFilterPipeline(
            rules=(
                FilterRule("fine", "n_words < 3", "valid"),
                FilterRule("oops", bad, "typo"),
            ),
            scrub=False, langid=False, perplexity=False,
        )
        with pytest.raises(InvalidFilterRuleError, match="oops"):
            pipe.annotate(df)


def test_pipeline_metrics_include_score_distributions(web_pages_df):
    """The metrics record per-score quantiles (north rule: score
    distributions in the check-metrics table)."""
    run = QualityFilterPipeline().run(web_pages_df)
    for col in ("n_chars", "log_ppl", "langid_conf"):
        for p in (25, 50, 75, 95):
            assert f"{col}_p{p}" in run.metrics, run.metrics.keys()
    assert run.metrics["n_chars_p25"] <= run.metrics["n_chars_p95"]
    assert run.metrics["log_ppl_p25"] <= run.metrics["log_ppl_p95"]


def test_scrub_python_re_matches_duckdb_re2_on_unicode():
    """The scrub chain is compiled with re.ASCII so Python and DuckDB/RE2
    agree byte-for-byte even on non-ASCII text (Unicode \\b/\\d in Python
    would find boundaries RE2 doesn't — 'é123-45-6789' must scrub the
    same way in both engines). The Unicode digit fold runs first on BOTH
    engines (Python str.translate vs DuckDB translate() with the shared
    FROM/TO tables), so Arabic-Indic / Devanagari / astral-digit PII is
    caught without giving up the ASCII-pinned rule parity."""
    import duckdb

    from soda_core_spark.functions.scrub import (
        ALL_RULES,
        DIGIT_FOLD_FROM,
        DIGIT_FOLD_TO,
        pii_hit_count,
        scrub_text,
    )

    samples = [
        "é123-45-6789 and ٣٤٥-٤٥-٦٧٨٩ digits",  # Arabic-Indic SSN folds + scrubs
        "naïve user: café@exämple.com vs cafe@example.com",
        "überfrakking frakking Gorram's smegging",
        "中文123-45-6789中文 +1 (555) 123-4567é",
        "ASCII baseline 999-99-9999 me@ex.co 10.0.0.1 4111 1111 1111 1111",
        "देवनागरी फ़ोन +१ (५५५) १२३-४५६७ and year २०२३",  # Devanagari phone
        "mixed ١2٣-4٥-6٧8٩ half-folded ssn",  # mixed-script digits still fold to one SSN
        "𐒠𐒡𐒢-𐒣𐒤-𐒥𐒦𐒧𐒨 osmanya (astral) ssn",
        "",
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, raw VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(samples)))
    fold = f"translate(raw, '{DIGIT_FOLD_FROM}', '{DIGIT_FOLD_TO}')"
    expr = "text"
    hit_terms = []
    for _name, pat, repl in ALL_RULES:
        p = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{repl}', 'g')"
        hit_terms.append(f"len(regexp_extract_all(text, '{p}'))")
    rows = con.execute(
        f"SELECT i, {expr}, {'+'.join(hit_terms)} "
        f"FROM (SELECT i, {fold} AS text FROM t) ORDER BY i"
    ).fetchall()
    for i, duck_text, duck_hits in rows:
        assert scrub_text(samples[i]) == duck_text, samples[i]
        py_hits = int(pii_hit_count(pd.Series([samples[i]])).iloc[0])
        assert py_hits == duck_hits, samples[i]
    # the non-ASCII-digit PII rows really are redacted
    assert "<SSN>" in scrub_text(samples[0])
    assert "<PHONE>" in scrub_text(samples[5])
    assert "<SSN>" in scrub_text(samples[6])
    assert "<SSN>" in scrub_text(samples[7])
    # non-PII digits fold but survive: year २०२३ → 2023
    assert "2023" in scrub_text(samples[5])


def test_scrub_delta_returns_fold_only_changes():
    """The delta scrub (changed-rows-only Arrow return) must surface rows
    whose ONLY change is digit folding — they compare against the
    pre-fold original, so the folded bytes reach the output; rows left
    fully identical stay NULL (never cross Arrow back)."""
    from soda_core_spark.functions.scrub import scrub_delta_batch, scrub_text

    rows = pd.Series([
        "year ٢٠٢٣ only unicode digits, no PII",  # fold-only change
        "clean text with no digits at all",       # untouched → NULL
        "ssn ١٢٣-٤٥-٦٧٨٩ redact me",              # fold + rule hit
        None,                                      # null stays null
        "ascii 123 but no pii shapes",            # candidate, unchanged → NULL
    ])
    out = scrub_delta_batch(rows)
    assert out[0] == "year 2023 only unicode digits, no PII"
    assert pd.isna(out[1])
    assert out[2] == scrub_text(rows[2]) and "<SSN>" in out[2]
    assert pd.isna(out[3])
    assert pd.isna(out[4])


def test_line_dedup_ratio_multiline(spark):
    """The synthetic corpus is newline-free, so pin the multi-line
    semantics explicitly: 1 − distinct/total over non-empty trimmed
    lines, 0.0 below 2 lines."""
    from soda_core_spark.functions.text import with_signals

    rows = [
        (1, "nav menu\nreal content\n\nnav menu\nnav menu"),  # 4 non-empty, 2 distinct
        (2, "only one line"),
        (3, "a\nb\nc"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["line_dedup_ratio"]
           for r in with_signals(df).select("doc_id", "line_dedup_ratio").collect()}
    assert got[1] == pytest.approx(1.0 - 2 / 4)
    assert got[2] == 0.0
    assert got[3] == 0.0
    assert got[4] == 0.0


def test_internal_counts_column_is_reserved(spark):
    """The row-signal counts ride an internal ``__counts`` column; an
    input that already has one is rejected, never silently clobbered."""
    from soda_core_spark.functions.langid import attach_langid
    from soda_core_spark.functions.text import with_signals

    df = spark.createDataFrame([(1, "a b", 0)], ["doc_id", "text", "__counts"])
    for attach in (with_signals, attach_langid, QualityFilterPipeline().annotate):
        with pytest.raises(ValueError, match="internal column"):
            attach(df)


def test_ipv6_rule_scrubs_addresses_not_clock_times():
    import re

    from soda_core_spark.functions.scrub import ALL_RULES

    pat = dict((n, p) for n, p, _ in ALL_RULES)["ipv6"]
    rx = re.compile(pat, re.ASCII)

    def scrub(s):
        return rx.sub("<IP6>", s)

    # full form and ::-compressed forms scrub
    assert scrub("x 2001:0db8:85a3:0000:0000:8a2e:0370:7334 y") == "x <IP6> y"
    assert scrub("peer fe80:1::aa:b") == "peer <IP6>"
    assert scrub("2001:db8::1 and 2001:db8:0:1::55") == "<IP6> and <IP6>"
    # clock times / score ratios / ipv4 stay untouched
    for s in ("at 12:34:56 sharp", "score 3:2", "range 08:00-17:30",
              "ip 10.0.0.1"):
        assert scrub(s) == s
    # documented non-goals: loopback/leading-:: forms pass through
    assert scrub("::1") == "::1"


def test_sentence_split_and_trim():
    from soda_core_spark.functions.perplexity import (
        doc_log_perplexity,
        split_sentences,
    )

    assert split_sentences("One two. Three four! Five?") == [
        "One two.", "Three four!", "Five?"
    ]
    # terminator without a following space is NOT a boundary
    assert split_sentences("v1.2 is out. Done.") == ["v1.2 is out.", "Done."]
    assert split_sentences("no terminators at all") == [
        "no terminators at all"
    ]
    assert split_sentences(None) == [] and split_sentences("") == []
    assert split_sentences("a\nb. c") == ["a b.", "c"]  # newline folds
    # the trim policy's ingredients: junk scores above prose
    assert doc_log_perplexity("wqjx vqzk xjwq") > 3.35
    assert doc_log_perplexity("the quick brown fox jumps over it") < 3.35
    assert doc_log_perplexity("ok") == 20.0


def test_sentence_trim_udf_e2e(spark):
    from pyspark.sql import functions as F

    from soda_core_spark.functions.perplexity import sentence_trim_udf

    rows = [
        (1, "The quick brown fox jumps over the dog. wqjx vqzk xjwq. "
            "It was the best of times for all of us."),
        (2, "wqjx vqzk xjwq. ok."),   # nothing survives
        (3, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = df.select(
        "doc_id", sentence_trim_udf(3.35)(F.col("text")).alias("r")
    ).select("doc_id", "r.cleaned", "r.n_sentences", "r.n_kept")
    got = {r["doc_id"]: (r["cleaned"], r["n_sentences"], r["n_kept"])
           for r in out.collect()}
    assert got[1] == (
        "The quick brown fox jumps over the dog. "
        "It was the best of times for all of us.", 3, 2,
    )
    assert got[2] == (None, 2, 0)
    assert got[3] == (None, 0, 0)
