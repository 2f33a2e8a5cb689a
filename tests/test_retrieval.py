"""BM25 retrieval operator tests: python-oracle parity + plan shape."""

import math

import pytest
from pyspark.sql import functions as F

from soda_core_spark.operators.profiling import _avg_rank_table, _exact_ntiles
from soda_core_spark.operators.retrieval import bm25_topk, rank_fusion
from soda_core_spark.operators.sampling import (
    pack_token_shards,
    sample_to_token_budget,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "hash join beats sort merge join on small tables"),
        (2, "hash partitioning and hash aggregation"),
        (3, "filter pushdown into the scan"),
        (4, "completely unrelated text about gardens and rivers"),
        (5, "join join join join join"),
        (6, None),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _python_bm25(rows, terms, k1=1.2, b=0.75):
    docs = {i: (t or "").lower().split() for i, t in rows}
    n = len(docs)
    avgdl = sum(len(w) for w in docs.values()) / n
    dfreq = {
        t: sum(1 for w in docs.values() if t in w) for t in terms
    }
    out = {}
    for i, w in docs.items():
        score, matched = 0.0, 0
        for t in terms:
            tf = w.count(t)
            if not tf:
                continue
            matched += 1
            idf = math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            score += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(w) / avgdl))
        if matched:
            out[i] = (round(score, 6), matched)
    return out


def test_bm25_matches_python_oracle(spark, corpus):
    rows = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    expected = _python_bm25(rows, ["hash", "join", "filter"])
    got = {
        r["doc_id"]: (r["bm25"], r["n_terms_matched"])
        for r in bm25_topk(corpus, ["hash", "join", "filter"], k=10).collect()
    }
    assert got == expected
    # ranking sanity: doc 1 matches two terms incl. a double 'join'
    order = [r["doc_id"] for r in
             bm25_topk(corpus, ["hash", "join", "filter"], k=10).collect()]
    assert order[0] == 1
    assert 4 not in got and 6 not in got  # no-match docs never surface


def test_bm25_term_filter_precedes_shuffle(spark, corpus):
    """The query-term predicate must sit under the generate/explode —
    the shuffled relation is query-matches only, never the token
    stream — and the tiny stats sides must broadcast."""
    plan = (
        bm25_topk(corpus, ["hash", "join"], k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 1
    assert "TakeOrderedAndProject" in plan  # top-k, not a full sort
    # the isin filter appears as a Filter on the exploded term
    assert "INSET" in plan.upper() or "IN (" in plan


def test_bm25_empty_query_rejected(corpus):
    with pytest.raises(ValueError):
        bm25_topk(corpus, [])


def test_blocklist_filter(spark):
    from soda_core_spark.operators.blocklist import blocklist_filter

    rows = [
        (1, "https://bad.example.com/p", "clean words here"),
        (2, "https://ok.example.com/p", "contains badword here"),
        (3, "https://ok.example.com/p", "notbadword substring stays clean"),
        (4, "https://BAD.example.com/p", "badword too but host wins"),
        (5, "https://ok.example.com/p", None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "text"])
    got = {
        r["doc_id"]: (r["block_reason"], r["blocked"])
        for r in blocklist_filter(
            df,
            blocked_hosts=["bad.example.com"],
            blocked_terms=["BADWORD"],
            url_col="url",
        ).collect()
    }
    assert got[1] == ("host", True)
    assert got[2] == ("term", True)
    assert got[3] == (None, False)  # token-exact: substring never trips
    assert got[4] == ("host", True)  # case-insensitive host + precedence
    assert got[5] == (None, False)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        blocklist_filter(df)
    with _pytest.raises(ValueError):
        blocklist_filter(df, blocked_hosts=["x"])  # no host/url col


def test_blocklist_plan_is_shuffle_free(spark):
    from soda_core_spark.operators.blocklist import blocklist_filter

    df = spark.createDataFrame([(1, "s", "t")], ["doc_id", "source", "text"])
    plan = (
        blocklist_filter(df, blocked_hosts=["s"], blocked_terms=["x"], host_col="source")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # pure per-row probes, zero shuffle


def test_stratified_hash_sample(spark):
    import hashlib

    from soda_core_spark.operators.sampling import stratified_hash_sample

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, ["doc_id", "src"])
    frac = {"a": 0.5, "b": 0.1, "c": 0.0}
    kept = stratified_hash_sample(
        df, "src", frac, key=F.col("doc_id").cast("string")
    )
    got = {r["doc_id"] for r in kept.collect()}

    # python oracle: identical md5-fraction rule
    def f(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) / 16**8

    expected = {i for i, s in rows if f(i) < frac[s]}
    assert got == expected
    # rates land near targets
    per = {s: sum(1 for i, t in rows if t == s and i in got) for s in "abc"}
    assert abs(per["a"] / 1000 - 0.5) < 0.06
    assert abs(per["b"] / 1000 - 0.1) < 0.04
    assert per["c"] == 0
    # deterministic across partitionings
    again = {r["doc_id"] for r in stratified_hash_sample(
        df.repartition(13), "src", frac, key=F.col("doc_id").cast("string")
    ).collect()}
    assert again == got

    import pytest as _pytest
    with _pytest.raises(ValueError):
        stratified_hash_sample(df, "src", {"a": 1.5}, key=F.col("doc_id").cast("string"))


def test_sample_to_token_budget(spark):
    import hashlib

    from soda_core_spark.operators.sampling import sample_to_token_budget

    rows = [(i, ["x", "y"][i % 2], 10 + (i * 7) % 50) for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "src", "n_tok"])
    budget = 500
    kept = sample_to_token_budget(
        df, budget_tokens=budget, token_col="n_tok", group_col="src"
    )
    got = {r["doc_id"] for r in kept.collect()}

    # python oracle: same hash order, same cumulative rule
    expected = set()
    for g in ("x", "y"):
        members = sorted(
            ((hashlib.md5(str(i).encode()).hexdigest(), i, n)
             for i, s, n in rows if s == g)
        )
        cum = 0
        for _h, i, n in members:
            cum += n
            if cum <= budget:
                expected.add(i)
    assert got == expected
    # per-group totals within budget and non-trivial
    sums = {
        r["src"]: r["s"]
        for r in kept.groupBy("src").agg(F.sum("n_tok").alias("s")).collect()
    }
    assert all(0 < v <= budget for v in sums.values())
    # deterministic across partitionings
    again = {r["doc_id"] for r in sample_to_token_budget(
        df.repartition(11), budget_tokens=budget, token_col="n_tok", group_col="src"
    ).collect()}
    assert again == got
    # global (ungrouped) form respects a single budget
    gl = sample_to_token_budget(df, budget_tokens=300, token_col="n_tok")
    assert gl.agg(F.sum("n_tok")).first()[0] <= 300


def test_token_budget_bucketed_matches_window_form(spark):
    """The two-stage bucketed cumsum must pick the EXACT survivor set of
    the one-reducer window form — grouped and global, across bucket
    counts (including buckets=1, the degenerate single-range case)."""
    from soda_core_spark.operators.sampling import (
        _token_budget_single_window,
        sample_to_token_budget,
    )

    rows = [(i, ["x", "y", "z"][i % 3], 1 + (i * 13) % 97) for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "src", "n_tok"])
    for group in (None, "src"):
        want = {
            r["doc_id"]
            for r in _token_budget_single_window(
                df, 2000, token_col="n_tok", group_col=group
            ).collect()
        }
        for b in (1, 7, 64, 1024):
            got = {
                r["doc_id"]
                for r in sample_to_token_budget(
                    df, 2000, token_col="n_tok", group_col=group, buckets=b
                ).collect()
            }
            assert got == want, f"group={group} buckets={b}"
    # column order preserved
    assert sample_to_token_budget(
        df, 2000, token_col="n_tok", group_col="src"
    ).columns == df.columns


_PREFIX_SUM_OPERATORS = {
    "sample_to_token_budget": lambda df: sample_to_token_budget(
        df, 500, token_col="n_tok", group_col="src", buckets=64
    ),
    "pack_token_shards": lambda df: pack_token_shards(
        df, 500, token_col="n_tok", buckets=64
    ),
    "_exact_ntiles": lambda df: _exact_ntiles(
        df, [("n_tok", "doc_id", "tile")], 10, buckets=8
    ),
    "_avg_rank_table": lambda df: _avg_rank_table(df, "n_tok", buckets=8),
    "rank_fusion": lambda df: rank_fusion(
        df, {"t": F.col("n_tok")}, buckets=8
    ),
}


@pytest.mark.parametrize("operator", list(_PREFIX_SUM_OPERATORS))
def test_token_budget_plan_is_distributed(spark, operator):
    """No single-partition Exchange on the DATA path of any operator
    built on the bucketed prefix sum: the only window over the full
    rows partitions by (group, bucket); the offsets join is broadcast.
    (The tiny per-bucket offsets window may legitimately use
    SinglePartition — it sees ≤ buckets×groups rows.)"""
    import re

    from soda_core_spark.operators.prefix import BUCKET, SUM

    rows = [(i, "s", 10 + i % 7) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "src", "n_tok"])
    out = _PREFIX_SUM_OPERATORS[operator](df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the big window keys on the bucket → parallel reducers
    assert "hashpartitioning" in plan and BUCKET in plan
    # offsets come back via broadcast, not a shuffled join
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # every Window node is either bucket-partitioned (data grain) or
    # sums the ≤ buckets × groups summary
    windows = [line for line in plan.splitlines() if "Window [" in line]
    assert windows, plan
    for line in windows:
        part = re.search(r"\], \[([^\]]*)\], \[", line)
        assert f"sum({SUM}#" in line or (part and BUCKET in part[1]), line


def test_pack_token_shards_matches_window_form(spark):
    from pyspark.sql import Window
    from soda_core_spark.operators.sampling import pack_token_shards

    rows = [(i, 10 + (i * 37) % 90) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    out = pack_token_shards(
        df, shard_tokens=500, token_col="n_tok", buckets=16
    )
    # single-window reference form
    order = F.md5(F.col("doc_id").cast("string"))
    w = Window.orderBy(order, "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ref = df.withColumn(
        "shard_id",
        F.floor(
            (F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(500)
        ).cast("long"),
    )
    got = {r["doc_id"]: r["shard_id"] for r in out.collect()}
    exp = {r["doc_id"]: r["shard_id"] for r in ref.collect()}
    assert got == exp
    # partitioning-independent
    got2 = {
        r["doc_id"]: r["shard_id"]
        for r in pack_token_shards(
            df.repartition(7), 500, token_col="n_tok", buckets=16
        ).collect()
    }
    assert got2 == exp
    # shards are contiguous 0..max and every shard except possibly the
    # last begins within budget
    assert set(exp.values()) == set(range(max(exp.values()) + 1))


def test_pack_token_shards_validation(spark):
    import pytest

    from soda_core_spark.operators.sampling import pack_token_shards

    df = spark.createDataFrame([(1, 5)], ["doc_id", "n_tok"])
    with pytest.raises(ValueError):
        pack_token_shards(df, 0, token_col="n_tok")
    with pytest.raises(ValueError):
        pack_token_shards(df, 10, token_col="n_tok", buckets=0)
    with pytest.raises(ValueError):
        pack_token_shards(
            df.withColumn("shard_id", F.lit(1)), 10, token_col="n_tok"
        )


def test_temperature_mixed_sample_rates_and_determinism(spark):
    import pytest

    from soda_core_spark.operators.sampling import temperature_mixed_sample

    # heavily skewed sources: alpha<1 must up-sample the small source
    rows = [(i, "big") for i in range(900)] + [
        (1000 + i, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    key = F.col("doc_id").cast("string")
    out = temperature_mixed_sample(
        df, "source", key, alpha=0.5, target_fraction=0.3
    )
    kept = out.groupBy("source").count().collect()
    k = {r["source"]: r["count"] for r in kept}
    # expected rates: w_big=30, w_small=10, Z=40 → rate_big=0.25,
    # rate_small=0.75 — small source keeps a 3x higher fraction
    assert 0.15 < k["big"] / 900 < 0.35
    assert 0.60 < k["small"] / 100 < 0.90
    # deterministic across partitionings
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in temperature_mixed_sample(
            df.repartition(11), "source", key, alpha=0.5, target_fraction=0.3
        ).collect()
    )
    assert a == b
    with pytest.raises(ValueError):
        temperature_mixed_sample(df, "source", key, alpha=0.0)
    with pytest.raises(ValueError):
        temperature_mixed_sample(df, "source", key, target_fraction=1.5)


def test_temperature_mixed_sample_no_wide_shuffle(spark):
    """The corpus path is scan → broadcast-join → filter: the only
    Exchanges feed the tiny counts/normalizer aggregates."""
    from soda_core_spark.operators.sampling import temperature_mixed_sample

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(100)], ["doc_id", "source"]
    )
    out = temperature_mixed_sample(
        df, "source", F.col("doc_id").cast("string")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_materialize_shards_order_and_nulls(spark):
    import hashlib

    from soda_core_spark.operators.sampling import (
        materialize_shards,
        pack_token_shards,
    )

    rows = [(i, 25, f"doc{i}" if i != 3 else None) for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tok", "text"])
    packed = pack_token_shards(df, 60, token_col="n_tok", buckets=4)
    out = {
        r["shard"]: r
        for r in materialize_shards(packed, token_col="n_tok").collect()
    }
    # python replay: hash order, running cut, concat
    order = sorted(range(10), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    shards = {}
    cum = 0
    for i in order:
        shards.setdefault(cum // 60, []).append(i)
        cum += 25
    for sid, members in shards.items():
        exp = "\n\n".join("" if i == 3 else f"doc{i}" for i in members)
        assert out[sid]["shard_text"] == exp
        assert out[sid]["n_docs"] == len(members)
        assert out[sid]["shard_tokens"] == 25 * len(members)
    assert set(out) == set(shards)


# -- rank_fusion --------------------------------------------------------------


def test_rank_fusion_hand_values(spark):
    from soda_core_spark.operators.retrieval import rank_fusion

    # signal a: 9 > 7 = 7 > 1  -> ranks 1, 2, 2, 4 (competition)
    # signal b: 4 > 3 > 2 > 1  -> ranks 1..4
    df = spark.createDataFrame(
        [(1, 9.0, 1.0), (2, 7.0, 2.0), (3, 7.0, 3.0), (4, 1.0, 4.0)],
        ["doc_id", "a", "b"],
    )
    out = {
        r.doc_id: r
        for r in rank_fusion(
            df, {"a": F.col("a"), "b": F.col("b")}, k=60, buckets=4
        ).collect()
    }
    assert out[1].rank_a == 1 and out[1].rank_b == 4
    assert out[2].rank_a == 2 and out[2].rank_b == 3
    assert out[3].rank_a == 2 and out[3].rank_b == 2
    assert out[4].rank_a == 4 and out[4].rank_b == 1
    import math

    for doc, (ra, rb) in {1: (1, 4), 2: (2, 3), 3: (2, 2), 4: (4, 1)}.items():
        micro = math.floor(1e12 / (60 + ra)) + math.floor(1e12 / (60 + rb))
        assert out[doc].rrf_micro == micro
        assert out[doc].rrf_score == round(micro / 1e12, 6)


def test_rank_fusion_matches_global_window(spark):
    """Two-stage bucketed rank == naive rank() OVER (ORDER BY v DESC)
    on a random tie-heavy corpus, across bucket counts."""
    import random

    from pyspark.sql import Window

    from soda_core_spark.operators.retrieval import rank_fusion

    rng = random.Random(158)
    rows = [
        (i, float(rng.randint(0, 19)) / 4.0, rng.random())
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "ties", "cont"])
    naive = df.select(
        "doc_id",
        F.rank().over(Window.orderBy(F.col("ties").desc())).alias("exp_ties"),
        F.rank().over(Window.orderBy(F.col("cont").desc())).alias("exp_cont"),
    )
    for buckets in (1, 3, 64):
        fused = rank_fusion(
            df,
            {"ties": F.col("ties"), "cont": F.col("cont")},
            buckets=buckets,
        )
        bad = (
            fused.join(naive, "doc_id")
            .where(
                (F.col("rank_ties") != F.col("exp_ties"))
                | (F.col("rank_cont") != F.col("exp_cont"))
            )
            .count()
        )
        assert bad == 0, f"buckets={buckets}"


def test_rank_fusion_constant_signal_and_validation(spark):
    import pytest as _pytest

    from soda_core_spark.operators.retrieval import rank_fusion

    df = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 5.0)], ["doc_id", "c"]
    )
    out = rank_fusion(df, {"c": F.col("c")}).collect()
    assert all(r.rank_c == 1 for r in out)  # constant: everyone rank 1
    with _pytest.raises(ValueError):
        rank_fusion(df, {})
    with _pytest.raises(ValueError):
        rank_fusion(df, {"c": F.col("c")}, k=0)
