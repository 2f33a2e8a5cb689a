"""NULL-edge regressions found by the round-5 data-level parity fuzz
(NULL-injected sf0.001 mutant): every case here diverged between Spark
and the DuckDB oracle — or crashed — before its fix, and none of them
is visible on the clean test corpus (no NULL texts/embeddings/groups
there). See BENCH/JOURNAL.md round-5 final session."""

import pytest


def test_shingles_empty_and_null_text_have_no_shingles(spark):
    from soda_core_spark.operators.dedup import shingle_frame

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   \t\n"), (4, "one two")],
        "id long, text string",
    )
    # shingle_frame drops the rows that have no shingles, so a missing id
    # reads as the empty set
    got = {r["id"]: r["shl"] for r in shingle_frame(df, "id", "text", 3).collect()}
    assert got.get(1, []) == []   # NULL text: no shingles, not ['']
    assert got.get(2, []) == []   # empty text
    assert got.get(3, []) == []   # whitespace-only
    assert got[4] == ["one two"]   # short doc keeps its whole-text shingle


@pytest.mark.parametrize(
    "op",
    ["minhash_xxhash64", "minhash_portable", "jaccard_all_pairs", "containment_pairs"],
)
def test_whitespace_only_docs_are_dropped_before_pairing(spark, op):
    """Texts of only tabs/newlines/CR have no tokens. Spark's one-argument
    ``trim`` strips spaces only, so they used to reach the pair stage with
    empty shingle arrays, pair with each other, and fail the 0/0 Jaccard
    with DIVIDE_BY_ZERO under ANSI."""
    from soda_core_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "\t\n"), (2, " \r\n "), (3, "a b c d"), (4, "e f g h")],
        "doc_id long, text string",
    )
    run = {
        "minhash_xxhash64": lambda: dedup.minhash_near_duplicates(df),
        "minhash_portable": lambda: dedup.minhash_near_duplicates(df, portable_hash=True),
        "jaccard_all_pairs": lambda: dedup.ngram_jaccard_all_pairs(df, threshold=0.0, max_doc_freq=None),
        "containment_pairs": lambda: dedup.ngram_containment_pairs(df, threshold=0.0, max_doc_freq=None),
    }[op]
    assert run().collect() == []


def test_kmeans_trainer_ignores_null_and_empty_vectors(spark):
    from soda_core_spark.operators.similarity import kmeans_centroids

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0]), (3, [])],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_centroids(df, n_centroids=2, n_iters=1)
    assert len(cents) == 2 and all(len(c) == 2 for c in cents)


def test_semdedup_excludes_null_vectors(spark):
    from soda_core_spark.operators.semdedup import semdedup

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [1.0, 0.001]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = semdedup(df, k=2, iterations=1, threshold=0.99).collect()
    ids = {r["vec_id"] for r in rows}
    assert 1 not in ids and ids == {0, 2, 3}
    flags = {r["vec_id"]: r["is_semdup"] for r in rows}
    assert flags[2] is True and flags[0] is False


def test_decontaminate_join_null_corpus_vector_reports_null(spark):
    from soda_core_spark.operators.similarity import decontaminate_embeddings

    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, None)],
        "vec_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: r
        for r in decontaminate_embeddings(
            corpus, bench, threshold=0.9, method="join"
        ).collect()
    }
    assert got[10]["contaminated"] is True
    # unscorable vector: NULL across the board, never a phantom bench id
    assert got[11]["max_bench_cosine"] is None
    assert got[11]["nearest_bench_id"] is None
    assert got[11]["contaminated"] is None


def test_token_budget_keeps_null_group(spark):
    from soda_core_spark.operators.sampling import sample_to_token_budget

    df = spark.createDataFrame(
        [(i, None if i % 2 else "en", 10) for i in range(10)],
        "doc_id long, source string, n_chars long",
    )
    kept = sample_to_token_budget(
        df, budget_tokens=1000, token_col="n_chars", group_col="source"
    ).collect()
    # generous budget: every row of BOTH groups (incl. NULL) survives
    assert len(kept) == 10


def test_group_calibration_reports_null_group_drops(spark):
    from soda_core_spark.operators.calibration import (
        calibrate_group_thresholds,
    )

    rows = [(i, "en", float(i)) for i in range(20)]
    rows += [(100 + i, None, float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, v double")
    got = {
        r["group"]: r
        for r in calibrate_group_thresholds(
            df, group_col="lang", signal_col="v",
            direction="low", target_drop=0.1,
        ).collect()
    }
    assert set(got) == {"en", None}
    assert got[None]["n"] == 20
    # the NULL group's rows met their own threshold: drops counted
    assert got[None]["n_dropped"] == got["en"]["n_dropped"] > 0
