"""Round-4 operators: crawl-trap detection, Zipf fit, decision kappa."""

import math

import pytest
from pyspark.sql import functions as F


def test_crawl_trap_flags_low_template_host(spark):
    from soda_core_spark.operators.urls import crawl_trap_hosts

    rows = [(f"https://trap.example/cal/{i % 3}/{i % 5}",) for i in range(40)]
    rows += [(f"https://ok.example/a{'x' * (i % 7)}/p{'y' * (i % 5)}",)
             for i in range(40)]
    df = spark.createDataFrame(rows, "url string")
    out = {r.host: r for r in crawl_trap_hosts(
        df, min_pages=10, max_template_ratio=0.1).collect()}
    assert out["trap.example"].is_trap
    assert out["trap.example"].n_templates == 1  # all digits collapse
    assert not out["ok.example"].is_trap
    assert out["ok.example"].n_templates > 10


def test_crawl_trap_min_pages_gate_and_null_urls(spark):
    from soda_core_spark.operators.urls import crawl_trap_hosts

    rows = [("https://small.example/p/1",)] * 5 + [(None,), ("not a url",)]
    df = spark.createDataFrame(rows, "url string")
    assert crawl_trap_hosts(df, min_pages=10).count() == 0


def test_path_template_collapses_digits(spark):
    from soda_core_spark.operators.urls import path_template_col

    df = spark.createDataFrame(
        [("https://h.example/2024/01/post-99?x=1",)], "url string"
    )
    assert df.select(
        path_template_col(F.col("url")).alias("t")
    ).collect()[0].t == "/N/N/post-N"


def test_zipf_fit_on_exact_power_law(spark):
    """Frequencies n(rank) = round(1000 / rank) follow slope ≈ −1."""
    from soda_core_spark.operators.profiling import zipf_fit

    rows = []
    for rank in range(1, 41):
        tok = f"w{rank:03d}"
        rows += [(tok + " ") * max(1, round(1000 / rank))]
    df = spark.createDataFrame([(r,) for r in rows], "text string")
    row = zipf_fit(df, top_k=40, min_rank=1).collect()[0]
    assert row.n_terms_fit == 40
    assert row.zipf_slope == pytest.approx(-1.0, abs=0.02)
    assert row.zipf_r2 > 0.999


def test_zipf_min_rank_drops_head(spark):
    from soda_core_spark.operators.profiling import zipf_fit

    df = spark.createDataFrame(
        [("a a a a b b c d",)], "text string"
    )
    row = zipf_fit(df, top_k=10, min_rank=2).collect()[0]
    assert row.n_terms_fit == 3  # b, c, d — 'a' (rank 1) dropped


def test_decision_kappa_hand_values(spark):
    from soda_core_spark.operators.attribution import decision_kappa

    # 2x2 table: n11=40, n00=40, n10=10, n01=10 → po=0.8, pe=0.5, κ=0.6
    rows = ([(True, True)] * 40 + [(False, False)] * 40
            + [(True, False)] * 10 + [(False, True)] * 10)
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    row = decision_kappa(df, "a", "b").collect()[0]
    assert row.n == 100
    assert row.po == pytest.approx(0.8)
    assert row.pe == pytest.approx(0.5)
    assert row.kappa == pytest.approx(0.6)


def test_decision_kappa_null_rows_excluded(spark):
    """Rows with a NULL decision drop out of n AND the 2x2 cells —
    otherwise p_o/p_e deflate and kappa is biased on nullable flags."""
    from soda_core_spark.operators.attribution import decision_kappa

    rows = ([(True, True)] * 40 + [(False, False)] * 40
            + [(True, False)] * 10 + [(False, True)] * 10
            + [(None, True)] * 7 + [(True, None)] * 5 + [(None, None)] * 3)
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    row = decision_kappa(df, "a", "b").collect()[0]
    assert row.n == 100  # the 15 NULL-bearing rows are excluded
    assert row.po == pytest.approx(0.8)
    assert row.kappa == pytest.approx(0.6)


def test_decision_kappa_constant_packs_null(spark):
    from soda_core_spark.operators.attribution import decision_kappa

    df = spark.createDataFrame([(True, True)] * 5, "a boolean, b boolean")
    row = decision_kappa(df, "a", "b").collect()[0]
    assert row.kappa is None  # pe = 1 → undefined, not perfect


def test_decision_kappa_independent_near_zero(spark):
    """Independent decisions with matched marginals → κ ≈ 0."""
    from soda_core_spark.operators.attribution import decision_kappa

    import random

    rng = random.Random(7)
    rows = [(rng.random() < 0.5, rng.random() < 0.5) for _ in range(4000)]
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    row = decision_kappa(df, "a", "b").collect()[0]
    assert abs(row.kappa) < 0.05


def test_group_coherence_hand_values(spark):
    from soda_core_spark.functions.embeddings_qc import group_coherence

    rows = [
        ("a", [1.0, 0.0]),
        ("a", [0.0, 1.0]),  # centroid (.5,.5): cos = 1/sqrt(2) each
        ("b", [3.0, 4.0]),  # own centroid → cos = 1
    ]
    df = spark.createDataFrame(rows, "label string, embedding array<float>")
    out = {r.group: r for r in group_coherence(df).collect()}
    assert out["a"].n_vecs == 2
    assert out["a"].coherence == pytest.approx(1 / math.sqrt(2), abs=1e-6)
    assert out["a"].min_cos == pytest.approx(1 / math.sqrt(2), abs=1e-6)
    assert out["b"].coherence == pytest.approx(1.0, abs=1e-6)


def test_group_coherence_zero_vector_null_cos(spark):
    from soda_core_spark.functions.embeddings_qc import group_coherence

    rows = [
        ("a", [1.0, 0.0]),
        ("a", [0.0, 0.0]),  # zero norm → NULL cosine, still counted in n
    ]
    df = spark.createDataFrame(rows, "label string, embedding array<float>")
    row = group_coherence(df).collect()[0]
    assert row.n_vecs == 2
    # centroid (.5, 0); only the unit vector contributes: cos = 1
    assert row.coherence == pytest.approx(1.0, abs=1e-6)


def test_lexicon_score_hand_values(spark):
    from soda_core_spark.operators.blocklist import lexicon_score

    df = spark.createDataFrame(
        [(1, "Bad bad word ok"), (2, "clean text here"), (3, None)],
        "id int, text string",
    )
    out = {
        r.id: r
        for r in lexicon_score(
            df, {"bad": 2.0, "word": 0.5}, per_tokens=100
        ).collect()
    }
    # doc 1: 4 tokens, hits bad×2 + word×1 → weight 4.5, score 4.5*100/4
    assert out[1].lex_hits == 3
    assert out[1].lex_weight == pytest.approx(4.5)
    assert out[1].lex_score == pytest.approx(112.5)
    assert out[2].lex_hits == 0 and out[2].lex_score == 0.0
    assert out[3].lex_hits == 0 and out[3].lex_score == 0.0


def test_lexicon_score_zero_and_negative_weights_still_hits(spark):
    """lex_hits counts lexicon MEMBERSHIP — a zero- or negative-weight
    entry contributes to lex_weight/lex_score, so it must also count
    as a hit (no hidden weight-sign asymmetry)."""
    from soda_core_spark.operators.blocklist import lexicon_score

    df = spark.createDataFrame(
        [(1, "neutral good bad other")], "id int, text string"
    )
    row = lexicon_score(
        df, {"neutral": 0.0, "good": -1.0, "bad": 2.0}, per_tokens=100
    ).collect()[0]
    assert row.lex_hits == 3  # all three lexicon tokens, any sign
    assert row.lex_weight == pytest.approx(1.0)  # 0.0 - 1.0 + 2.0
    assert row.lex_score == pytest.approx(25.0)  # 1.0 * 100 / 4


def test_lexicon_score_token_exact_no_substring(spark):
    from soda_core_spark.operators.blocklist import lexicon_score

    df = spark.createDataFrame(
        [(1, "class assessment")], "id int, text string"
    )
    row = lexicon_score(df, {"ass": 5.0}).collect()[0]
    assert row.lex_hits == 0  # no substring firing


def test_lexicon_score_rejects_empty(spark):
    from soda_core_spark.operators.blocklist import lexicon_score

    df = spark.createDataFrame([(1, "x")], "id int, text string")
    with pytest.raises(ValueError):
        lexicon_score(df, {})


def test_lsh_recall_audit_detects_banding_misses(spark):
    """One wide band (AND over all 16 hashes) misses moderate-Jaccard
    pairs; the audit must measure that, and many narrow bands must
    recover it."""
    from soda_core_spark.operators.dedup import lsh_recall_audit

    import random

    rng = random.Random(11)
    vocab = [f"tok{i}" for i in range(400)]
    rows = []
    did = 0
    for p in range(12):
        base = rng.sample(vocab, 40)
        # pair with ~0.55-0.65 shingle overlap: share a long prefix run
        var = base[:30] + rng.sample(vocab, 10)
        rows.append((did, " ".join(base))); did += 1
        rows.append((did, " ".join(var))); did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")

    strict = lsh_recall_audit(
        df, jaccard_threshold=0.4, num_hashes=16, bands=1
    ).collect()[0]
    wide = lsh_recall_audit(
        df, jaccard_threshold=0.4, num_hashes=16, bands=8
    ).collect()[0]
    assert strict.n_exact_pairs > 0
    assert strict.n_exact_pairs == wide.n_exact_pairs  # same ground truth
    assert strict.recall < 1.0 and strict.n_missed > 0
    assert wide.recall > strict.recall


def test_lsh_recall_audit_clean_corpus(spark):
    from soda_core_spark.operators.dedup import lsh_recall_audit

    rows = [(i, f"unique document number {i} with words w{i} x{i} y{i} z{i}")
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    row = lsh_recall_audit(df, jaccard_threshold=0.9).collect()[0]
    assert row.n_exact_pairs == 0
    assert row.recall == 1.0


def test_extended_rule_pack_through_check_engine(spark):
    """EXTENDED_SIGNAL_RULES compile to failed_rows checks and evaluate
    over a frame with the extended signals attached; the default pack is
    untouched (golden-pin discipline)."""
    from soda_core_spark.operators.filter_rules import (
        DEFAULT_WEBTEXT_RULES,
        EXTENDED_SIGNAL_RULES,
        to_contract,
        with_extended_signals,
    )
    from soda_core_spark.operators.engine import verify_contract

    assert not set(EXTENDED_SIGNAL_RULES) & set(DEFAULT_WEBTEXT_RULES)
    df = spark.createDataFrame(
        [
            (1, "en", "the and is of to in a for with this text reads fine."),
            (2, "en", "spam spam spam spam"),  # lexicon density trips
        ],
        "doc_id long, lang string, text string",
    )
    staged = with_extended_signals(df, lexicon={"spam": 20.0})
    contract = to_contract(EXTENDED_SIGNAL_RULES, dataset="ext_pages",
                           max_fail_percent=40.0)
    result = verify_contract(spark, contract, staged)
    by_name = {c.name: c for c in result.check_results}
    lex = by_name["rule_lexicon_score"]
    # doc 2: 4 tokens all 'spam' → lex_score 20*4*1000/4 = 20000 > 50;
    # 1 of 2 rows = 50% > 40% threshold → check fails
    assert lex.metric_value == 50.0
    assert lex.outcome.name in ("FAIL", "FAILED")
    assert by_name["rule_readability_floor"].outcome.name in ("PASS", "PASSED")


def test_extended_signals_preserve_n_words_contract(spark):
    """with_readability recomputes n_words under the same tokenization
    contract — values must equal the base-signal column it replaces."""
    from soda_core_spark.functions.text import with_signals
    from soda_core_spark.operators.filter_rules import with_extended_signals

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "one  two\nthree four")],
        "doc_id long, text string",
    )
    base = with_signals(df)
    before = {r.doc_id: r.n_words for r in base.select("doc_id", "n_words").collect()}
    after_df = with_extended_signals(base)
    after = {r.doc_id: r.n_words for r in after_df.select("doc_id", "n_words").collect()}
    assert before == after


def test_url_dedup_latest_prefers_newest_then_id(spark):
    from soda_core_spark.operators.urls import url_dedup_latest

    rows = [
        # same canonical URL, later ts wins
        (1, "https://a.example/p", "2024-01-01 00:00:00"),
        (2, "https://a.example/p", "2024-02-01 00:00:00"),
        # tie on ts → higher id wins (deterministic)
        (3, "https://b.example/p", "2024-03-01 00:00:00"),
        (4, "https://b.example/p", "2024-03-01 00:00:00"),
        # NULL ts loses to dated capture even with higher id
        (9, "https://c.example/p", None),
        (5, "https://c.example/p", "2024-01-15 00:00:00"),
        # unparseable URLs all survive
        (6, "not a url", None),
        (7, "not a url", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts string"
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    kept = {r.doc_id for r in url_dedup_latest(df).collect()}
    assert kept == {2, 4, 5, 6, 7}


def test_minhash_calibration_exact_dups_bin9(spark):
    """Exact duplicates land in bin 9 with estimate = exact = 1.0;
    estimator means stay within the binomial error bar of the exact
    means on moderate-overlap pairs."""
    from soda_core_spark.operators.dedup import minhash_calibration

    import random

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(500)]
    rows, did = [], 0
    for _ in range(10):  # exact dup pairs
        words = " ".join(rng.sample(vocab, 30))
        rows += [(did, words), (did + 1, words)]; did += 2
    for _ in range(10):  # moderate overlap
        base = rng.sample(vocab, 40)
        rows += [(did, " ".join(base)),
                 (did + 1, " ".join(base[:28] + rng.sample(vocab, 12)))]
        did += 2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.jaccard_bin: r for r in minhash_calibration(
        df, num_hashes=16, bands=8).collect()}
    assert out[9].avg_exact == 1.0 and out[9].avg_estimate == 1.0
    mid = [r for b, r in out.items() if b < 9]
    assert mid, "moderate-overlap pairs must appear below bin 9"
    for r in mid:
        assert abs(r.avg_estimate - r.avg_exact) < 0.25  # 16-hash error bar


def test_url_class_first_match_and_edges(spark):
    from soda_core_spark.operators.urls import url_class_col

    cases = [
        ("https://h.example/feed/", "feed"),
        ("https://h.example/feed.xml", "feed"),
        ("https://h.example/tag/x/", "tag"),
        # first-match ordering: media beats date_archive on an image
        # under a dated path
        ("https://h.example/2024/01/shot.png", "media"),
        ("https://h.example/2024/01/a-story", "date_archive"),
        ("https://h.example/page/7/", "pagination"),
        ("https://h.example/pages/7/", "content"),  # no substring firing
        ("https://h.example/", "content"),
        ("https://h.example", "content"),  # empty path → '/'
        ("not a url", None),
        (None, None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {r.url: r.c for r in df.withColumn(
        "c", url_class_col(F.col("url"))).collect()}
    for url, want in cases:
        assert got[url] == want, (url, got[url], want)


def test_calibrate_drop_thresholds_directions(spark):
    from soda_core_spark.operators.calibration import (
        calibrate_drop_thresholds,
    )

    # 100 rows, score = 0..99: 10% low cut → threshold ≈ 9.9, drops 10
    df = spark.createDataFrame(
        [(float(i),) for i in range(100)], "s double"
    )
    out = {r.rule_name: r for r in calibrate_drop_thresholds(
        df, {"s": ("low", "low_rule")}, target_drop=0.1).collect()}
    r = out["low_rule"]
    assert r.direction == "low"
    assert 9.0 <= r.threshold <= 10.0
    assert r.n_dropped == 10 and r.realized_drop == pytest.approx(0.1)

    out = {r.rule_name: r for r in calibrate_drop_thresholds(
        df, {"s": ("high", "hi_rule")}, target_drop=0.1).collect()}
    r = out["hi_rule"]
    assert 89.0 <= r.threshold <= 91.0
    assert r.n_dropped == 10


def test_calibrate_drop_thresholds_nulls_never_drop(spark):
    from soda_core_spark.operators.calibration import (
        calibrate_drop_thresholds,
    )

    rows = [(float(i),) for i in range(50)] + [(None,)] * 10
    df = spark.createDataFrame(rows, "s double")
    r = calibrate_drop_thresholds(
        df, {"s": ("low", "r")}, target_drop=0.2).collect()[0]
    # percentile ignores NULLs; NULL rows are never counted as dropped
    assert r.n_dropped == 10  # 20% of the 50 non-null values


def test_calibrate_drop_thresholds_guards(spark):
    from soda_core_spark.operators.calibration import (
        calibrate_drop_thresholds,
    )

    df = spark.createDataFrame([(1.0,)], "s double")
    with pytest.raises(ValueError):
        calibrate_drop_thresholds(df, {}, 0.1)
    with pytest.raises(ValueError):
        calibrate_drop_thresholds(df, {"s": ("low", "r")}, 1.5)
    with pytest.raises(ValueError):
        calibrate_drop_thresholds(df, {"s": ("sideways", "r")}, 0.1)


def test_jsonl_ingestion_loss_accounting(spark, tmp_path):
    """Every input line is either a doc or a counted reject — nothing
    silently dropped (the WARC-discipline contract at line grain)."""
    import json as _json

    from soda_core_spark.sources.tables import read_documents_jsonl

    p = tmp_path / "dump.jsonl"
    lines = [
        _json.dumps({"id": "a", "text": "hello", "lang": "en"}),
        _json.dumps({"id": "b", "text": "welt", "lang": "de"}),
        '{"id": "c", "text": "truncated',           # unparseable
        _json.dumps({"text": "no id here"}),        # missing_id
        "not json at all",                          # unparseable
        _json.dumps({"id": "d", "url": "https://x.example"}),
    ]
    p.write_text("\n".join(lines) + "\n")
    ingest = read_documents_jsonl(spark, str(p))
    docs, rejects = ingest  # result still unpacks like the old tuple
    assert {r.id for r in docs.collect()} == {"a", "b", "d"}
    rej = rejects.collect()
    assert docs.count() + len(rej) == len(lines)
    reasons = sorted(r.reason for r in rej)
    assert reasons == ["missing_id", "unparseable", "unparseable"]
    assert all(r.raw for r in rej)  # offending line carried into lineage
    # lifecycle: caller can now release the shared parse cache, and the
    # outputs stay valid (recompute from raw bytes) afterwards
    ingest.unpersist(blocking=True)
    assert ingest._cached.storageLevel.useMemory is False
    assert docs.count() == 3


def test_jsonl_ingestion_rejects_bad_schema(spark):
    from soda_core_spark.sources.tables import read_documents_jsonl

    from pyspark.sql import types as T

    with pytest.raises(ValueError):
        read_documents_jsonl(
            spark, "/nonexistent",
            schema=T.StructType([T.StructField("text", T.StringType())]),
        )


def test_centroid_separation(spark):
    import pytest

    from soda_core_spark.functions.embeddings_qc import (
        centroid_separation,
    )

    # label 0: along +x; label 1: identical direction (confusable);
    # label 2: orthogonal +y; label 3: zero-norm centroid (v and -v)
    rows = [
        (0, [1.0, 0.0]), (0, [2.0, 0.0]),
        (1, [3.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [1.0, 1.0]), (3, [-1.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, ["label", "embedding"])
    got = {(r["g1"], r["g2"]): (r["cos"], r["confusable"])
           for r in centroid_separation(df, threshold=0.95).collect()}
    assert got[(0, 1)] == (1.0, True)
    assert got[(0, 2)] == (0.0, False)
    assert got[(1, 2)] == (0.0, False)
    # zero-norm centroid: NULL cosine and NULL flag, never false
    assert got[(0, 3)] == (None, None)
    assert got[(2, 3)] == (None, None)
    assert len(got) == 6
    with pytest.raises(ValueError, match="threshold"):
        centroid_separation(df, threshold=2.0)


def test_webshell_rule_pack_through_check_engine(spark):
    """WEBSHELL_SIGNAL_RULES compile to failed_rows checks over
    with_webshell_signals columns; the row gate uses the SAME shared
    constants as the q164/q182/q183 corpus audits."""
    from soda_core_spark.operators.engine import verify_contract
    from soda_core_spark.operators.filter_rules import (
        DEFAULT_WEBTEXT_RULES,
        WEBSHELL_SIGNAL_RULES,
        to_contract,
        with_webshell_signals,
    )

    assert not set(WEBSHELL_SIGNAL_RULES) & set(DEFAULT_WEBTEXT_RULES)
    df = spark.createDataFrame(
        [
            (1, "A perfectly fine document."),
            (2, "Sorry, page not found on this server."),
            (3, "Broken <div class=x> extraction residue."),
            (4, "x" * 254 + "y"),     # 255 chars, ends mid-sentence
            (5, None),
        ],
        "doc_id long, text string",
    )
    staged = with_webshell_signals(df)
    flags = {r.doc_id: r for r in staged.collect()}
    assert flags[2].is_soft_error and not flags[1].is_soft_error
    assert flags[3].has_markup_residue
    assert flags[4].is_cap_truncated
    assert not any(
        (flags[5].is_soft_error, flags[5].has_markup_residue,
         flags[5].is_cap_truncated)
    )
    contract = to_contract(
        WEBSHELL_SIGNAL_RULES, dataset="shell_pages", max_fail_percent=10.0
    )
    result = verify_contract(spark, contract, staged)
    by_name = {c.name: c for c in result.check_results}
    # each rule trips on exactly 1 of 5 rows = 20% > 10%
    for rule in ("soft_error_shell", "markup_residue", "cap_truncated"):
        c = by_name[f"rule_{rule}"]
        assert c.metric_value == 20.0
        assert c.outcome.name in ("FAIL", "FAILED")


def test_lexicon_score_literal_broadcast_parity(spark):
    """The broadcast-join lexicon path must reproduce the map-literal
    path: lex_hits exactly, lex_weight/lex_score bit-equal when weights
    are exactly representable (dyadic) so the fold order cannot matter.
    This pins the documented scale path for >10k-entry lexicons."""
    from soda_core_spark.operators.blocklist import lexicon_score

    weights = {"bad": 2.0, "worse": 4.5, "meh": 0.0, "good": -1.5}
    rows = [
        (1, "bad bad worse and meh"),
        (2, "nothing matching here"),
        (3, ""),
        (4, None),
        (5, "good GOOD Bad"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lit = {
        r["doc_id"]: (r["lex_hits"], r["lex_weight"], r["lex_score"])
        for r in lexicon_score(df, weights).collect()
    }
    bc = {
        r["doc_id"]: (r["lex_hits"], r["lex_weight"], r["lex_score"])
        for r in lexicon_score(
            df, weights, broadcast_threshold=0
        ).collect()
    }
    assert lit == bc
    # sanity on the values themselves
    assert lit[1][0] == 4 and lit[1][1] == 8.5
    assert lit[3] == (0, 0.0, 0.0) and lit[4] == (0, 0.0, 0.0)


def test_lexicon_score_broadcast_plan_shape(spark):
    """Above the threshold: a BroadcastHashJoin on the token, no map
    literal in the plan, and every input row preserved (row grain via
    the minted id, zero-token docs included)."""
    from soda_core_spark.operators.blocklist import lexicon_score

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "")], "doc_id long, text string"
    )
    out = lexicon_score(
        df, {f"tok{i}": 1.0 for i in range(50)}, broadcast_threshold=10
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "keys: [tok" not in plan and "map(" not in plan.lower()
    assert out.count() == 2
