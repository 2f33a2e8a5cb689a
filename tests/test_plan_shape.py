"""Physical-plan shape assertions — the scale-correctness contracts:
column pruning reaches the scan, small sides broadcast, the fused
aggregation is one job, the pipeline row-stage has no shuffle."""

import pytest
from pyspark.sql import functions as F

from soda_core_spark.operators.filter_pipeline import QualityFilterPipeline
from soda_core_spark.sources.webtext_gen import write_web_pages_parquet

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def web_df(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("plan_web")
    path = write_web_pages_parquet(str(p), 300, seed=5)
    return spark.read.parquet(path)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_html_pruned_from_scan(web_df):
    """The binary html column must never be read: ReadSchema at the
    parquet scan excludes it (SURVEY §4 column pruning)."""
    plan = _plan(QualityFilterPipeline().annotate(web_df))
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, plan
    assert "html" not in scan_lines[0]


def test_pipeline_row_stage_has_no_shuffle(web_df):
    plan = _plan(QualityFilterPipeline().annotate(web_df))
    assert "Exchange" not in plan  # scan → project → arrow → project only


def test_single_arrow_eval_node(web_df):
    plan = _plan(QualityFilterPipeline().annotate(web_df))
    assert plan.count("ArrowEvalPython") == 1


def test_row_stage_udfs_share_one_arrow_node(spark, web_df):
    """Default pipeline: the one Arrow node carries the row-signal
    counter, perplexity and scrub, so ``text`` crosses into Python once
    for all three; signals and language ID are JVM arithmetic over the
    counts, with no higher-order lambda left in the plan. The registry's
    language-ID queries (q20, q109) run the same counter: one Arrow node
    each."""
    from soda_core_spark.entry_queries import REGISTRY

    plan = _plan(QualityFilterPipeline().annotate(web_df))
    (arrow,) = [l for l in plan.splitlines() if "ArrowEvalPython" in l]
    for udf in ("count_batch(", "perplexity_prenorm_udf(", "scrub_delta_udf("):
        assert arrow.count(udf) == 1, arrow
    assert "lambdafunction" not in plan.lower(), plan
    for q in ("q20_langid_scores", "q109_paragraph_langs"):
        assert _plan(REGISTRY[q][0](spark, SF)).count("ArrowEvalPython") == 1, q


def test_langid_accepts_only_bool():
    """``langid`` is a bool; any other value (a removed mode name, a
    model name) is rejected when the pipeline is built, before any
    Spark work."""
    for bad in ("pandas", "fasttext", "jvm", 1, None):
        with pytest.raises(ValueError, match="langid"):
            QualityFilterPipeline(langid=bad)
    assert QualityFilterPipeline(langid=False).langid is False


def test_filter_pushdown_to_parquet(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.where(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40" in plan
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert "l_extendedprice" not in scan_lines[0]


def test_reference_check_broadcasts(spark):
    """The invalid-reference anti join must broadcast the reference list
    (invalidity_check semantics, Spark-first join strategy)."""
    from soda_core_spark import verify_contract
    from soda_core_spark.plans.model import contract_from_dict

    big = spark.read.parquet(f"{SF}/customer.parquet")
    ref = spark.createDataFrame([(i,) for i in range(25)], ["nk"])
    contract = contract_from_dict(
        {"dataset": "c", "columns": [{"name": "c_nationkey", "checks": [
            {"invalid": {"valid_reference_data": {"dataset": "ref", "column": "nk"},
                         "must_be": 0}}]}]}
    )
    # capture the anti-join plan through the side query by explaining the
    # equivalent join the check builds
    joined = big.join(
        F.broadcast(ref.select(F.col("nk").alias("__ref_value"))),
        on=big["c_nationkey"] == F.col("__ref_value"),
        how="left_anti",
    )
    assert "BroadcastNestedLoopJoin" in _plan(joined) or "BroadcastHashJoin" in _plan(joined)
    res = verify_contract(spark, contract, big, datasets={"ref": ref})
    assert res.check_results[0].outcome.value == "passed"


def test_fused_aggregation_is_one_job(spark):
    """All agg metrics of a multi-check contract execute as ONE collect
    (reference needs N roundtrips; SURVEY §4 aggregation fusion)."""
    from soda_core_spark import verify_contract
    from soda_core_spark.plans.model import contract_from_dict

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    contract = contract_from_dict(
        {"dataset": "li", "checks": ["row_count"],
         "columns": [
             {"name": "l_quantity", "checks": [
                 "missing",
                 {"invalid": {"valid_min": 0, "valid_max": 60}},
                 {"aggregate": {"function": "avg", "must_be_greater_than": 0}},
             ]},
             {"name": "l_orderkey", "checks": ["duplicate"]},
         ]}
    )
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    calls = []
    orig = CDF.collect

    def counting_collect(self):
        calls.append(1)
        return orig(self)

    CDF.collect = counting_collect
    try:
        res = verify_contract(spark, contract, li)
    finally:
        CDF.collect = orig
    assert all(r.outcome.value in ("passed", "failed") for r in res.check_results)
    # 6 checks, ~10 metrics — exactly ONE fused collect
    assert len(calls) == 1, f"expected 1 collect, saw {len(calls)}"


def test_decontamination_broadcasts_benchmark(spark):
    """The benchmark shingle set must broadcast — the training corpus is
    never shuffled on the shingle key. r6: the semi-join became a
    LEFT join with a hit marker so ONE scan yields both n_sh and
    n_overlap (the old plan scanned the training corpus twice and
    joined sizes back on id); pin the scan count too."""
    from soda_core_spark.entry_queries import REGISTRY

    plan = _plan(REGISTRY["q34_decontamination"][0](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan, plan
    # exactly 2 scans of documents: one for the training side, one for
    # the benchmark shingle set (was 3 before r6)
    assert plan.count("Location: InMemoryFileIndex") == 2, plan


@pytest.mark.parametrize(
    "query", ["q18_minhash_near_dups", "q118_minhash_calibration"]
)
def test_minhash_signatures_no_sort_aggregate(spark, query):
    """r6: MinHash signatures are per-row array_min expressions over the
    materialized shingle array — no explode → groupBy(id) aggregation
    stage at all. In portable (md5) mode the old aggregate was worse
    than a shuffle: min over md5 STRINGS has no mutable hash-agg
    buffer, so Spark ran Sort + SortAggregate over the full exploded
    shingle set, twice per self-join side. Pin both gone on every
    query built on the shared signature builder."""
    from soda_core_spark.entry_queries import REGISTRY

    plan = _plan(REGISTRY[query][0](spark, SF))
    assert "SortAggregate" not in plan, plan
    assert "array_min" in plan, plan


@pytest.mark.parametrize("which", ["q18_minhash_near_dups", "default_500_docs"])
def test_minhash_band_join_shares_one_band_shuffle(spark, which):
    """The band self-join reads ONE planner-inserted
    ``hashpartitioning(band)`` shuffle on both sides (sort-merge join over
    an Exchange and its ReusedExchange), so each document's signature is
    computed once. On 500 documents the planner would otherwise pick a
    broadcast join whose two sides each recompute every signature. Both
    hash modes: q18 is portable md5 16/4, the default call is xxhash64
    32/8."""
    from soda_core_spark.entry_queries import REGISTRY
    from soda_core_spark.operators.dedup import minhash_near_duplicates

    if which == "q18_minhash_near_dups":
        out = REGISTRY[which][0](spark, SF)
    else:
        out = minhash_near_duplicates(
            spark.read.parquet(f"{SF}/documents.parquet")
        )
    out.collect()  # finalize the adaptive plan
    final = _plan(out).split("== Initial Plan ==")[0]
    lines = final.splitlines()
    assert sum("SortMergeJoin [band" in l for l in lines) == 1, final
    band_x = [l for l in lines if "Exchange hashpartitioning(band" in l]
    assert len(band_x) == 2, final
    assert sum("ReusedExchange" in l for l in band_x) == 1, final
    assert "BroadcastHashJoin [band" not in final, final


def test_band_join_skew_split_on_shared_band_shuffle(spark):
    """A giant duplicate cluster makes a hot band key. The shared band
    shuffle is planner-inserted (ENSURE_REQUIREMENTS), so AQE's skew-join
    rule still splits its hot partition on both sides of the self-join;
    a user ``repartition("band")`` shuffle is one that rule never splits."""
    from soda_core_spark.operators.dedup import _band_candidate_pairs, shingle_frame

    rows = [(i, "one boilerplate page mirrored across a whole farm") for i in range(400)]
    rows += [(1000 + i, f"unique doc {i} w{i} x{i} y{i} z{i}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    conf = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        pairs = _band_candidate_pairs(
            shingle_frame(df, "doc_id", "text", 3), 16, 1, True
        )
        assert len(pairs.collect()) == 400 * 399 // 2
        final = _plan(pairs).split("== Initial Plan ==")[0]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "SortMergeJoin(skew=true) [band" in final, final
    assert final.count("AQEShuffleRead skewed") == 2, final
    assert "ReusedExchange" in final, final


def _uncoalesced_reads(lines, marker):
    """The final-plan lines of the exchanges (or their reuses) whose text
    contains ``marker``, after asserting each is read as written: its
    query stage is not under an ``AQEShuffleRead coalesced``."""
    found = [i for i, l in enumerate(lines) if marker in l]
    for i in found:
        assert "ShuffleQueryStage" in lines[i - 1], lines[i - 1]
        assert "AQEShuffleRead" not in lines[i - 2], lines[i - 2]
    return [lines[i] for i in found]


def test_dedup_cpu_stages_run_on_every_core(spark):
    """On a small file input the two CPU-bound dedup stages run on every
    core even though their shuffled rows are 16-byte ids that AQE would
    coalesce into one task: the LSH candidate pairs are hashed on (id_a, id_b)
    ahead of the dedupe and Jaccard verify, and the inverted-index
    postings take ONE hash exchange on the shingle that feeds the
    posting-cap window, the SHUFFLE_HASH self-join and the partial pair
    count (no separate doc-frequency aggregate). Checked on the FINAL
    adaptive plan: Spark may drop a user repartition whose child already
    has that partitioning."""
    import re

    from soda_core_spark.operators.dedup import (
        minhash_near_duplicates,
        ngram_jaccard_all_pairs,
    )

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        lsh = minhash_near_duplicates(docs)
        pairs = ngram_jaccard_all_pairs(
            docs, max_doc_freq=200, hash_shingles="xxhash64"
        )
        finals = []
        for out in (lsh, pairs):
            out.collect()  # finalize the adaptive plan
            finals.append(_plan(out).split("== Initial Plan ==")[0])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)

    lines = finals[0].splitlines()
    cand = _uncoalesced_reads(lines, "Exchange hashpartitioning(id_a")
    assert len(cand) == 1, finals[0]
    assert re.search(r"id_b#\d+L, 4\), REPARTITION_BY_NUM", cand[0]), cand[0]

    lines = finals[1].splitlines()
    post = _uncoalesced_reads(lines, "Exchange hashpartitioning(s#")
    assert len(post) == 2, finals[1]
    assert sum("ReusedExchange" in l for l in post) == 1, finals[1]
    assert all(re.search(r"s#\d+L, 4\), REPARTITION_BY_NUM", l) for l in post)
    assert "HashAggregate(keys=[s#" not in finals[1], finals[1]
    assert "ShuffledHashJoin [s#" in finals[1], finals[1]


def test_dedup_exchanges_capped_at_cores_under_default_width(spark):
    """Under Spark's default of 200 shuffle partitions, the two explicit
    dedup exchanges over the one-file 500-doc input run at the core
    count, not as 200-task stages AQE cannot coalesce."""
    import re

    from soda_core_spark.operators.dedup import (
        minhash_near_duplicates,
        ngram_jaccard_all_pairs,
    )

    cores = spark.sparkContext.defaultParallelism
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        lsh = _plan(minhash_near_duplicates(docs))
        pairs = _plan(ngram_jaccard_all_pairs(docs, max_doc_freq=200))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert re.search(rf"id_b#\d+L, {cores}\), REPARTITION_BY_NUM", lsh), lsh
    assert re.search(rf"\(s#\d+, {cores}\), REPARTITION_BY_NUM", pairs), pairs


def test_dedup_keeps_planner_exchanges_off_small_capped_inputs(spark):
    """A non-file input, and an uncapped all-pairs call at any size, keep
    the planner-inserted exchanges that AQE sizes and its skew-join rule
    can split: no explicit REPARTITION_BY_NUM exchange, and the cap (when
    set) is the frequency aggregate joined back."""
    import re

    from soda_core_spark.operators.dedup import (
        minhash_near_duplicates,
        ngram_jaccard_all_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    mem = spark.createDataFrame(docs.collect(), docs.schema)
    lsh = _plan(minhash_near_duplicates(mem))
    capped = _plan(ngram_jaccard_all_pairs(mem, max_doc_freq=200))
    uncapped = _plan(ngram_jaccard_all_pairs(docs, max_doc_freq=None))
    for plan in (lsh, capped, uncapped):
        # _spread's round-robin spread of a small file input stays
        assert not re.search(r"hashpartitioning\([^)]*\), REPARTITION_BY_NUM", plan)
    assert "HashAggregate(keys=[s#" in capped, capped
    assert "Window [" not in capped + uncapped


@pytest.mark.parametrize(
    "query", ["q33_ngram_jaccard_pairs", "q96_containment_pairs"]
)
def test_shingle_frame_single_tokenization(spark, query):
    """The inverted-index plans must tokenize each document ONCE per
    scan — before r6 the inline shingle expression carried ~9 split()
    calls per evaluation and plan rules (InferFiltersFromGenerate,
    filter pushdown) inlined it into scan filters on top. q96's input
    is a union of two scans (documents + injected excerpts) tokenized
    once after the union, so it carries one split() per scan pair.
    Also pin the A/B-measured join/aggregate shape of the shared
    pair-count stage: SHUFFLE_HASH self-join (not the planner's
    broadcast pick) and a count-only pair aggregate with the size
    table re-attached by broadcast joins on the aggregate output."""
    from soda_core_spark.entry_queries import REGISTRY

    plan = _plan(REGISTRY[query][0](spark, SF))
    scans_per_input = 2 if query == "q96_containment_pairs" else 1
    n_scans = plan.count("Location: InMemoryFileIndex")
    assert n_scans > 0 and n_scans % scans_per_input == 0, plan
    assert plan.count("split(") == n_scans // scans_per_input, plan
    assert "ShuffledHashJoin" in plan, plan
    # pair aggregate carries ONLY the count — no max(n_sh) buffers
    assert "partial_max" not in plan, plan


def test_lorenz_rfm_no_global_ntile_window(spark):
    """q248/q249 must not run ntile over a single-partition window at
    entity grain: the r6 bucketed exact ntile keeps every per-entity
    window partitioned by the range bucket; the only unpartitioned
    windows run over the ≤ buckets-row summaries (lorenz additionally
    keeps its 10-row decile cumsum). Pin: no ntile anywhere, and every
    running row-count window (the prefix module's sum(1) over a ROWS
    frame) is partitioned by its bucket column."""
    from soda_core_spark.entry_queries import REGISTRY
    from soda_core_spark.operators.prefix import BUCKET

    for q in ("q248_lorenz_deciles", "q249_rfm_segments"):
        plan = _plan(REGISTRY[q][0](spark, SF))
        assert "ntile" not in plan, (q, plan)
        counts = [l for l in plan.splitlines() if "sum(1) windowspec" in l]
        assert counts, (q, plan)
        for line in counts:
            assert f"windowspecdefinition({BUCKET}" in line, (q, line)


def test_spearman_correlation_no_distinct_value_global_window(spark):
    """q134's rank tables must come from the sketch-bucketed two-stage
    cumsum (the spearman_matrix machinery): the per-value cumulative
    windows are partitioned by range bucket; no sum() window runs over
    an unpartitioned distinct-value frame."""
    from soda_core_spark.entry_queries import REGISTRY

    plan = _plan(REGISTRY["q134_signal_correlation"][0](spark, SF))
    for line in plan.splitlines():
        # per-value cumsum windows must carry the __b partition key;
        # the only unpartitioned windows are over the ≤ buckets-row
        # bucket summaries (their spec orders by __b itself)
        if "windowspecdefinition(__v" in line:
            raise AssertionError(line)


def test_hash_sample_is_pure_filter(spark):
    """Deterministic md5 sampling is a scan+filter — no shuffle, no agg."""
    from soda_core_spark.entry_queries import REGISTRY

    plan = _plan(REGISTRY["q35_hash_sample"][0](spark, SF))
    assert "Exchange" not in plan, plan
    # "*(n)" prefixes mark WholeStageCodegen spans in the plan string
    assert "*(1)" in plan or "WholeStageCodegen" in plan, plan


def test_pipeline_signal_stage_codegen(web_df):
    """The non-UDF row work must run inside whole-stage codegen spans."""
    plan = _plan(QualityFilterPipeline().annotate(web_df))
    assert "*(1)" in plan or "WholeStageCodegen" in plan, plan


def test_topk_cosine_broadcasts_queries(spark):
    """Brute-force ANN broadcasts the (small) query set against the
    (large) corpus side."""
    from soda_core_spark.entry_queries import REGISTRY

    plan = _plan(REGISTRY["q17_topk_cosine"][0](spark, SF))
    assert "Broadcast" in plan, plan


def test_lexicon_score_zero_shuffle_zero_python(spark):
    """The weighted lexicon rides as a map literal: scoring must stay a
    per-row projection — no Exchange, no Python eval node."""
    from soda_core_spark.operators.blocklist import lexicon_score

    df = spark.range(100).withColumn(
        "text", F.concat(F.lit("alpha beta gamma doc "), F.col("id"))
    )
    plan = lexicon_score(df, {"alpha": 1.0, "beta": 0.25})._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_crawl_trap_shuffles_templates_not_text(spark):
    """Only (host, template) rows may shuffle — the page text column
    must be pruned before the first Exchange."""
    from soda_core_spark.operators.urls import crawl_trap_hosts

    df = spark.range(100).select(
        F.concat(F.lit("https://h.example/p/"), F.col("id")).alias("url"),
        F.concat(F.lit("BIGTEXT "), F.col("id")).alias("text"),
    )
    plan = crawl_trap_hosts(df, min_pages=1)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


def test_readability_zero_shuffle(spark):
    from soda_core_spark.functions.readability import with_readability

    df = spark.range(50).withColumn(
        "text", F.concat(F.lit("the cat sat. on a mat for doc "), F.col("id"))
    )
    plan = with_readability(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_corpus_concentration_no_python_broadcast_fold(spark):
    """HHI report: codegen only (no Python nodes), and the bounded
    top-N aggregate joins back via broadcast, never a shuffle of the
    1-row frames against each other."""
    from soda_core_spark.operators.profiling import corpus_concentration

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(corpus_concentration(d, "source", top_n=3))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_boilerplate_ngrams_no_python_partial_agg(spark):
    """Shingle census: array algebra only (no Python); the doc-frequency
    groupBy must partial-aggregate before its exchange so only distinct
    (gram, doc)-collapsed counts shuffle."""
    from soda_core_spark.operators.dedup import boilerplate_ngrams

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(boilerplate_ngrams(d, n=3, min_doc_frequency=2, top=10))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # partial_count before the exchange = map-side combine is in place
    assert "partial_count" in plan


def test_mixture_plan_corpus_reduces_before_join(spark):
    """The corpus must collapse to |sources| rows via partial
    aggregation BEFORE any join: the full-outer weight join (full outer
    cannot broadcast — both sides need null-extension) may legitimately
    sort-merge, but only over source-grain frames, never corpus rows."""
    from soda_core_spark.operators.sampling import mixture_plan

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "source", F.col("n_chars").alias("n_tokens")
    )
    plan = _plan(mixture_plan(d, {"src0": 1.0}, token_budget=1000))
    assert "partial_sum" in plan  # map-side combine to |sources| rows
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_char_entropy_zero_shuffle_one_arrow(spark):
    """Per-doc entropy is a pure projection: no Exchange anywhere and
    exactly ONE Arrow node (the naive explode-per-char + groupBy form
    would shuffle |corpus chars| rows — the oracle-only plan)."""
    from soda_core_spark.operators.profiling import char_entropy

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(char_entropy(d))
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_lev_single_arrow_node_prefilter_jvm_side(spark):
    """Exactly ONE Arrow node (the asNondeterministic fence stops
    Catalyst inlining the DP into both the filter and the projection),
    and the abs(len diff) budget prefilter evaluates JVM-side inside
    the join, i.e. textually BELOW the Arrow node in the printed plan
    (parents print first)."""
    from soda_core_spark.operators.dedup import levenshtein_verify_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(levenshtein_verify_pairs(d))
    assert plan.count("ArrowEvalPython") == 1
    assert "abs(" in plan
    assert plan.index("abs(") > plan.index("ArrowEvalPython")


def test_vocab_stats_partial_agg_no_python(spark):
    """(group, word) counts combine map-side so the shuffle carries at
    most |groups x vocab| rows; no Python anywhere."""
    from soda_core_spark.operators.profiling import vocab_stats

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(vocab_stats(d))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "partial_count" in plan


def test_cross_source_dup_broadcasts_totals(spark):
    """The per-source inventory totals (|sources| rows) broadcast onto
    the pair counts; no Python; distinct collapses before the self-join."""
    from soda_core_spark.operators.dedup import cross_source_duplication

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(cross_source_duplication(d))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_shrunk_rate_collapses_then_broadcasts_prior(spark):
    """Corpus collapses to |groups| rows via partial aggregation; the
    scalar prior broadcasts back; zero Python."""
    from soda_core_spark.operators.profiling import shrunk_group_rate

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "source", (F.col("n_chars") > 300).alias("kept")
    )
    plan = _plan(shrunk_group_rate(d, "source", "kept"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastExchange" in plan


def test_ks_drift_two_scans_with_exchange_reuse(spark):
    """The corpus reduces to (day, value, count) grain via partial
    aggregation; in the FINAL adaptive plan the grain exchange is
    REUSED by both contribution sides (ReusedExchange), leaving exactly
    two corpus scans (grain + collapsed totals/adjacency count) — the
    naive join-per-side form scanned the corpus 9x. Zero Python."""
    from soda_core_spark.operators.profiling import ks_drift

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        (F.col("doc_id") % 12).cast("string").alias("day"),
        F.col("n_chars").alias("score"),
    )
    out = ks_drift(d)
    out.collect()  # finalize the adaptive plan
    plan = _plan(out)
    final = plan.split("== Initial Plan ==")[0]
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert final.count("FileScan") <= 2, final
    assert "ReusedExchange" in final, final


def test_bag_dedup_single_scan_shared_exchange(spark):
    """One corpus scan, one fingerprint shuffle: the class aggregate
    and the rank-capped sample window both consume the same
    repartition exchange in place (ReusedExchange in the finalized
    plan) and their join inherits the partitioning; the WindowGroupLimit
    rank cap still bounds the sample; zero Python."""
    from soda_core_spark.operators.dedup import bag_fingerprint_classes

    # replicate every doc once via explode (stays ONE scan) so classes
    # exist — on a dup-free input AQE's empty-relation propagation
    # collapses the whole plan and there is nothing to pin
    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.explode(F.array(F.lit(0), F.lit(1))).alias("copy"),
        (F.col("doc_id") * 2).alias("base_id"),
        "text",
    ).select((F.col("base_id") + F.col("copy")).alias("doc_id"), "text")
    out = bag_fingerprint_classes(d)
    assert out.count() > 0
    out.collect()  # finalize the adaptive plan
    plan = _plan(out)
    final = plan.split("== Initial Plan ==")[0]
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "WindowGroupLimit" in plan
    assert final.count("FileScan") == 1, final


def test_group_calibration_broadcasts_thresholds(spark):
    """Pass 2 must broadcast the |groups|-row threshold table back onto
    the corpus — never shuffle corpus rows on the group key for the
    join; both aggregates partial-combine; zero Python."""
    from soda_core_spark.operators.calibration import (
        calibrate_group_thresholds,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(calibrate_group_thresholds(d, "lang", "n_chars"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan


def test_chain_fragments_single_scan_single_corpus_exchange(spark):
    """Boundary fingerprints are pure md5 expressions (zero Python);
    the finalized adaptive plan reads the corpus ONCE and shuffles the
    endpoint frame ONCE — the hot gate and the pairing aggregate both
    consume the same fp-partitioned exchange in place (a per-side form
    re-scanned the text and recomputed md5 4x)."""
    from soda_core_spark.operators.chunking import chain_fragments

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = chain_fragments(d)
    out.collect()  # finalize the adaptive plan
    plan = _plan(out)
    final = plan.split("== Initial Plan ==")[0]
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert final.count("FileScan") == 1, final
    assert final.count("Exchange hashpartitioning") == 1, final


def test_group_gini_value_grain_no_python(spark):
    """Gini collapses to (group, value, count) grain via partial
    aggregation before its bounded cumsum window; zero Python."""
    from soda_core_spark.operators.profiling import group_gini

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(group_gini(d))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "partial_count" in plan


def test_soft_dedup_no_window_partial_agg(spark):
    """Class sizes come from a map-side-combined groupBy + join, never a
    count-over-window (a giant duplicate class would pin one task);
    text never reaches the shuffle (pruned to fingerprint/ids)."""
    from soda_core_spark.operators.dedup import soft_dedup_weights

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(soft_dedup_weights(d))
    assert "Window" not in plan
    assert "partial_count" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_rank_fusion_no_global_single_partition_window(spark):
    """Exact global ranks must NOT run through a rank() window with an
    empty partition spec — that is Exchange SinglePartition over the
    corpus. The two-stage bucketed rank keeps every window partitioned
    by (signal[, bucket])."""
    from soda_core_spark.operators.retrieval import rank_fusion

    d = spark.read.parquet(f"{SF}/documents.parquet")
    fused = rank_fusion(
        d,
        {"len": F.length(F.coalesce(F.col("text"), F.lit("")))
               .cast("double"),
         "id_neg": (-F.col("doc_id")).cast("double")},
    )
    plan = _plan(fused)
    assert "Exchange SinglePartition" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_poisson_bootstrap_partial_agg_on_replicate_key(spark):
    """The corpus × replicates explode must reduce through a partial
    aggregate keyed on the replicate id BEFORE the exchange, so the
    shuffle carries partitions × (R+1) counter rows, never the corpus."""
    from soda_core_spark.operators.attribution import poisson_bootstrap_rates

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = poisson_bootstrap_rates(
        d, {"short": F.col("n_chars") < 500}, replicates=8
    )
    plan = _plan(out)
    assert "Generate explode" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    # the only wide exchange is hash-partitioned on the replicate id
    assert "hashpartitioning(__r" in plan


def test_anisotropy_dim_grain_partial_sums(spark):
    """The n² pairwise-cosine sum must appear as per-dimension partial
    integer sums (posexplode → groupBy(dim)), with no pairwise join of
    the embeddings table anywhere in the plan."""
    from soda_core_spark.functions.embeddings_qc import embedding_anisotropy

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(embedding_anisotropy(e))
    assert "Generate posexplode" in plan
    assert "partial_sum" in plan
    # the only join is the 1-row × 1-row crossJoin of the two scalar
    # aggregates (IdentityBroadcastMode); nothing row-level ever joins
    assert "IdentityBroadcastMode" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("FileScan") == 2  # two scans, no pairwise blowup


def test_heaps_law_windows_touch_summary_only(spark):
    """Both cumulative windows run AFTER aggregation to the bucket
    grain: every Window in the plan sits above an Aggregate, and the
    corpus-wide explode reduces through partial aggregation first."""
    from soda_core_spark.operators.profiling import heaps_law_fit

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(heaps_law_fit(d))
    assert "partial_count" in plan or "partial_min" in plan
    # the bucket summary is <= 64 rows; the window over it is the only
    # single-partition step and is bounded by construction
    assert "Generate explode" in plan


def test_markup_residue_one_fused_aggregate(spark):
    """All residue patterns evaluate in ONE partial aggregate — no
    per-pattern scan, no Python nodes."""
    from soda_core_spark.operators.profiling import markup_residue

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(markup_residue(d))
    assert plan.count("FileScan") == 1
    assert "partial_count" in plan or "partial_sum" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_pmi_collocations_no_python_text_pruned_pre_shuffle(spark):
    """PMI is pure column algebra: no Python eval node anywhere, and
    the raw text column never rides an Exchange — only (token)/(a, b)
    count grains shuffle."""
    from soda_core_spark.operators.profiling import pmi_collocations

    df = spark.range(200).select(
        F.concat(F.lit("alpha beta gamma delta doc "), F.col("id"))
        .alias("text")
    )
    plan = (
        pmi_collocations(df, min_count=1, top_k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line
    # the top-k cut must be a TakeOrdered, not a global sort
    assert "TakeOrdered" in plan, plan


def test_participation_ratio_single_arrow_node_dim2_reduce(spark):
    """ONE Arrow-batched Gram pass; the only shuffle after it carries
    the dim² (i, j) partials, never embeddings."""
    from soda_core_spark.functions.embeddings_qc import (
        participation_ratio,
    )

    df = spark.range(60).select(
        F.array(
            F.col("id").cast("float"), (F.col("id") % 7).cast("float")
        ).alias("embedding")
    )
    plan = (
        participation_ratio(df, dim=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("MapInPandas") == 1, plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "embedding" not in line, line


def test_sessionization_single_window_shuffle(spark):
    """Sessionize = exactly one hash Exchange (the per-user window);
    the running session index reuses that partitioning and the
    aggregates partial-combine."""
    from soda_core_spark.operators.profiling import sessionization_summary

    from datetime import datetime as DT, timedelta as TD

    df = spark.createDataFrame(
        [(i, i % 5, DT(2024, 1, 1) + TD(minutes=i)) for i in range(100)],
        "event_id long, user_id long, ts timestamp",
    )
    plan = (
        sessionization_summary(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan, plan
    # hashpartitioning exchanges: user-window + per-session groupBy
    # share the (u) / (u, sid) key chain; no exchange may repartition
    # by anything else, and the final reduce is a single partition
    ex_lines = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert all("__u" in l for l in ex_lines), plan


def test_circadian_profile_shuffles_only_24_hour_grain(spark):
    from soda_core_spark.operators.profiling import circadian_profile

    from datetime import datetime as DT, timedelta as TD

    df = spark.createDataFrame(
        [("t", DT(2024, 1, 1) + TD(hours=i)) for i in range(72)],
        "event_type string, ts timestamp",
    )
    plan = (
        circadian_profile(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "ts" not in line, line


def test_surface_signals_text_pruned_no_python(spark):
    """q229-q232 operators: per-doc signals reduce to numbers BEFORE
    the group shuffle — no Exchange line may carry the text column,
    and nothing runs in Python."""
    from soda_core_spark.operators.profiling import (
        bracket_balance_audit,
        capitalization_profile,
        punctuation_run_profile,
        sentence_length_profile,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    for op in (
        sentence_length_profile,
        capitalization_profile,
        punctuation_run_profile,
        bracket_balance_audit,
    ):
        plan = _plan(op(d))
        assert "ArrowEvalPython" not in plan, op.__name__
        assert "BatchEvalPython" not in plan, op.__name__
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "text" not in line, f"{op.__name__}: {line}"


def test_cramers_v_corpus_reduces_to_cells_before_joins(spark):
    """The χ² reduction runs on the (a, b) cell table: exactly one
    corpus aggregate, marginals joined broadcast, no Python."""
    from soda_core_spark.operators.profiling import cramers_v

    d = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = _plan(cramers_v(d, "l_returnflag", "l_linestatus"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan
    assert "partial_count" in plan


def test_spearman_no_python_no_single_partition_sort(spark):
    """Ranks come from the two-stage cumsum, never a global sort: no
    Python nodes and no single-partition Exchange over the corpus
    (the only SinglePartition allowed is the final 6-row pair agg
    and the tiny bucket-offset table)."""
    from soda_core_spark.operators.profiling import spearman_matrix

    d = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = _plan(spearman_matrix(d, ["l_quantity", "l_discount"]))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_mad_outlier_group_grain_exchanges_only(spark):
    """Median/MAD scalars broadcast back onto the rows — the corpus
    never shuffles on anything but the group key; no Python."""
    from soda_core_spark.operators.profiling import mad_outlier_audit

    d = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(mad_outlier_audit(d, "event_type", "value"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_vocabulary_richness_partial_agg_no_python(spark):
    """(group, token) counts combine map-side; the
    frequency-of-frequencies reduce never widens past the vocab."""
    from soda_core_spark.operators.profiling import vocabulary_richness

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(vocabulary_richness(d))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "partial_count" in plan


def test_knn_hubness_broadcasts_queries_no_corpus_shuffle_pre_topk(spark):
    """The q17 brute-force contract carries over: queries broadcast,
    the corpus streams one pass; the only row-grain shuffle is the
    per-query top-k window on query_id."""
    from soda_core_spark.operators.similarity import knn_hubness

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(knn_hubness(e.where(F.col("vec_id") % 4 == 0), k=3))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_pareto_frontier_no_quadratic_join_no_python(spark):
    """The skyline must be the sort form: no BroadcastNestedLoopJoin
    or CartesianProduct (the quadratic dominance join), no Python."""
    from soda_core_spark.operators.profiling import pareto_frontier2d

    d = spark.read.parquet(f"{SF}/part.parquet")
    plan = _plan(pareto_frontier2d(d, "p_retailprice", "p_size",
                                   "p_partkey"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_temporal_joins_no_python(spark):
    """asof_join / range_count_join stay JVM-side end to end."""
    from soda_core_spark.operators.temporal_join import (
        asof_join,
        range_count_join,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    od = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("rts"),
        "o_orderkey",
    )
    p1 = _plan(asof_join(ev, od, "user_id", "ts", "rts",
                         ["o_orderkey"]))
    assert "ArrowEvalPython" not in p1 and "BatchEvalPython" not in p1
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_shipdate"
    )
    p2 = _plan(range_count_join(
        od.select(F.col("user_id").alias("o_custkey"),
                  F.col("rts").alias("o_orderdate")),
        li, "o_custkey", "o_orderdate", "l_shipdate",
        horizon_days=30, right_key="l_orderkey",
    ))
    assert "ArrowEvalPython" not in p2 and "BatchEvalPython" not in p2
