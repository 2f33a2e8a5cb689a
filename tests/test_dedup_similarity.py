"""Dedup, similarity-search, and multimodal operator tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from soda_core_spark.operators.dedup import (
    duplicate_classes,
    exact_dedup,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_df,
)
from soda_core_spark.operators.similarity import brute_force_topk, lsh_topk


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs across the "
        "wide open field near the old farm house by the river bend today"
    )
    near = base.replace("today", "tonight")  # 1-word change → high jaccard
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, "  THE quick   brown fox jumps over the lazy dog and runs across the wide open field near the old farm house by the river bend today "),  # normalized dup of 1
        (4, near),  # near dup of 1
        (5, "completely different text about databases and query optimization in distributed systems with columnar storage engines"),
        (6, "another unrelated document mentioning mountains rivers forests and the weather in the north country during winter"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    kept = exact_dedup(docs)
    ids = {r.doc_id for r in kept.collect()}
    assert ids == {1, 4, 5, 6}  # 2 and 3 collapse into 1


def test_duplicate_classes(docs):
    classes = duplicate_classes(docs).collect()
    assert len(classes) == 1
    assert classes[0].n_copies == 3
    assert classes[0].min_id == 1


def test_minhash_near_duplicates(docs):
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.6).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # exact dups + the near dup must be found; unrelated docs must not pair
    assert (1, 2) in found
    assert (1, 4) in found or (2, 4) in found or (3, 4) in found
    for a, b in found:
        assert b not in (5, 6) or a not in (5, 6)
    for r in pairs:
        assert r.jaccard >= 0.6


def test_ngram_jaccard_exact_blocking(docs):
    # block on word-count bucket so near-dups meet
    words = F.size(F.split(F.lower(F.col("text")), "\\s+"))
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.5, join_key=(words / F.lit(5)).cast("int")
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found


def test_minhash_banding_rejects_bands_outside_1_to_num_hashes(docs):
    """More bands than hashes leaves 0 rows per band: every document
    would get the same constant band keys and the band join would turn
    into all-pairs. bands=0 used to surface as ZeroDivisionError. Both
    are refused while the plan is built, before any Spark job."""
    from soda_core_spark.operators.dedup import (
        corpus_band_keys,
        minhash_calibration,
    )

    for num_hashes, bands in ((4, 8), (16, 0)):
        with pytest.raises(ValueError, match="bands <= num_hashes"):
            minhash_near_duplicates(docs, num_hashes=num_hashes, bands=bands)
        with pytest.raises(ValueError, match="bands <= num_hashes"):
            minhash_calibration(docs, num_hashes=num_hashes, bands=bands)
        with pytest.raises(ValueError, match="bands <= num_hashes"):
            corpus_band_keys(docs, num_hashes=num_hashes, bands=bands)


def test_simhash_near_for_near_dups(docs):
    sh = {r.doc_id: r.simhash for r in simhash_df(docs).collect()}
    assert sh[1] == sh[2]  # identical text → identical simhash
    ham_near = bin(sh[1] ^ sh[4]).count("1")
    ham_far = bin(sh[1] ^ sh[5]).count("1")
    assert ham_near < ham_far
    assert ham_near <= 12


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(0)
    dim = 16
    base = rng.normal(size=(8, dim))
    rows = []
    vid = 0
    for b in base:
        for _ in range(4):  # 4 noisy copies per cluster
            v = b + rng.normal(scale=0.05, size=dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk_finds_cluster(vectors):
    queries = vectors.where(F.col("vec_id") == 0)
    res = brute_force_topk(vectors, queries, k=3).collect()
    assert len(res) == 3
    neighbors = {r.neighbor_id for r in res}
    assert neighbors == {1, 2, 3}  # same cluster (vec_ids 0-3)
    assert all(r.cos_sim > 0.9 for r in res)


def test_lsh_topk_recall(vectors):
    queries = vectors.where(F.col("vec_id").isin([0, 4, 8]))
    exact = brute_force_topk(vectors, queries, k=3)
    approx = lsh_topk(vectors, queries, dim=16, k=3, n_planes=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_multimodal_plumbing(spark):
    from soda_core_spark.functions.multimodal import (
        extract_features,
        frame_sample_plan,
        make_media_table,
        FEATURE_DIM,
    )

    media = make_media_table(spark, n=30)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r.feature) == FEATURE_DIM
        assert abs(sum(x * x for x in r.feature) - 1.0) < 1e-3  # unit vector
        assert r.n_bytes > 0
    # determinism
    rows2 = extract_features(media).collect()
    assert {r.media_id: r.content_hash for r in rows} == {
        r.media_id: r.content_hash for r in rows2
    }
    frames = frame_sample_plan(media, every_ms=5000)
    vids = media.where("kind = 'video'").count()
    assert frames.count() >= vids  # ≥1 sampled frame per video
    assert frames.select("media_id").distinct().count() == vids


def test_remove_repeated_lines(spark):
    from soda_core_spark.operators.dedup import remove_repeated_lines

    boiler = "Accept cookies to continue"
    footer = "copyright 2026 example inc"
    rows = [
        (1, f"{boiler}\nReal unique prose one\n\n{footer}"),
        (2, f"{boiler}\r\nEntirely different content two\r\n{footer}"),  # CRLF
        (3, f"  {boiler.upper()}  \nThird page body text\n{footer}"),
        (4, "standalone document with no boilerplate at all"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r
        for r in remove_repeated_lines(df, max_freq=2).collect()
    }

    # plain-Python oracle: normalized line frequency across the corpus
    from collections import Counter

    # key = lowercased line trimmed of ASCII whitespace (incl. the \r a
    # CRLF document leaves after splitting on \n) — same set as the impl
    ws = " \t\r\x0b\x0c"

    def key(ln):
        return ln.lower().strip(ws)

    texts = {i: (t or "") for i, t in rows}
    freq = Counter(
        k for t in texts.values() for k in (key(ln) for ln in t.split("\n")) if k
    )
    for i, t in texts.items():
        lines = t.split("\n")
        kept = [ln for ln in lines if not (key(ln) and freq[key(ln)] > 2)]
        assert got[i]["text_cleaned"] == "\n".join(kept), i
        assert got[i]["n_lines"] == len(lines), i
        assert got[i]["n_removed"] == len(lines) - len(kept), i

    # boilerplate (3 occurrences incl. case/whitespace variants) removed,
    # footer (3x) removed, prose and empty lines kept
    assert "Accept cookies" not in got[1]["text_cleaned"]
    assert got[1]["text_cleaned"] == "Real unique prose one\n"
    assert got[4]["text_cleaned"] == rows[3][1]
    assert got[5]["text_cleaned"] == ""


def test_per_group_cap(spark):
    from soda_core_spark.operators.dedup import per_group_cap

    rows = [(i, f"g{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    capped = per_group_cap(df, cap=5)
    counts = {
        r["source"]: r["n"]
        for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"g0": 5, "g1": 5, "g2": 5}
    # determinism: same survivors on a different partitioning
    again = per_group_cap(df.repartition(7), cap=5)
    assert sorted(r["doc_id"] for r in capped.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    # small groups pass through whole
    tiny = spark.createDataFrame([(1, "a"), (2, "a")], ["doc_id", "source"])
    assert per_group_cap(tiny, cap=5).count() == 2


def test_per_group_cap_skew_guard_exact_parity(spark):
    """The two-stage skew-guarded form returns IDENTICAL survivors to the
    plain window, including on heavily skewed data (one host = 50 % of
    docs) and across repartitionings."""
    from soda_core_spark.operators.dedup import per_group_cap

    rows = [(i, "hot.example.com" if i % 2 == 0 else f"h{i % 37}") for i in range(800)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    plain = sorted(
        r["doc_id"] for r in per_group_cap(df, cap=7, skew_guard=False).collect()
    )
    guarded = sorted(
        r["doc_id"] for r in per_group_cap(df, cap=7, skew_guard=True).collect()
    )
    assert plain == guarded
    reparted = sorted(
        r["doc_id"]
        for r in per_group_cap(df.repartition(13), cap=7, skew_guard=True).collect()
    )
    assert plain == reparted


def test_per_group_cap_skew_guard_plan_prefilters_window(spark):
    """Plan shape: the guarded form ranks within (group, partition) first,
    so the final group-window's input is pre-capped — two Window nodes,
    with a Filter between them."""
    from soda_core_spark.operators.dedup import per_group_cap

    df = spark.createDataFrame([(i, f"g{i%3}") for i in range(30)], ["doc_id", "source"])
    plan = (
        per_group_cap(df, cap=5, skew_guard=True)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("Window [") == 2
    # Spark's rank-limit pushdown adds WindowGroupLimit below each window
    # — map-side pre-filtering on top of the explicit two-stage guard
    assert plan.count("WindowGroupLimit") == 2
    assert "SPARK_PARTITION_ID" in plan


def test_per_group_cap_default_is_skew_guarded(spark):
    """The DEFAULT path must be the scale-safe one: calling per_group_cap
    with no skew_guard argument plans the two-stage top-k (two Windows,
    partition-id salt), not the single hot-key window."""
    from soda_core_spark.operators.dedup import per_group_cap

    df = spark.createDataFrame([(i, f"g{i%3}") for i in range(30)], ["doc_id", "source"])
    plan = (
        per_group_cap(df, cap=5)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("Window [") == 2
    assert "SPARK_PARTITION_ID" in plan
    # opt-out still available
    plain = (
        per_group_cap(df, cap=5, skew_guard=False)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plain.count("Window [") == 1


def test_spread_never_touches_rdd_on_connect_style_frame(spark, tmp_path):
    """Spark Connect DataFrames have no .rdd / sparkSession.sparkContext —
    _spread must survive on such a frame (capability probe + inputFiles
    fallback), since the sc:// session mode and the dedup operators must
    compose (round-2 verdict: they contradicted each other).

    Width on the Connect path is SIZE-based, not file-count-based: the
    scan packs tiny files, so many small files must still spread; a
    non-file source (inputFiles raises or is empty) is post-shuffle and
    already wide, so no repartition may be inserted there."""
    from soda_core_spark.operators.dedup import _spread

    calls = {"repartitioned_to": None}

    class _ConnectSession:
        class conf:  # noqa: N801 - mimics spark.conf namespace
            @staticmethod
            def get(key, default=None):
                return {
                    "spark.sql.shuffle.partitions": "16",
                    "spark.sql.files.maxPartitionBytes": "1k",
                }.get(key, default)

        @property
        def sparkContext(self):
            raise Exception("sparkContext is not supported in Spark Connect")

    class _ConnectFrame:
        sparkSession = _ConnectSession()

        @property
        def rdd(self):
            raise AssertionError("_spread accessed .rdd on a Connect frame")

        def inputFiles(self):
            return ["file:" + str(tmp_path / "small.parquet")]

        def repartition(self, n):
            calls["repartitioned_to"] = n
            return self

    (tmp_path / "small.parquet").write_bytes(b"x" * 100)
    out = _spread(_ConnectFrame())
    # 100 bytes / 1k maxPartitionBytes → ~1 partition < 16 → spread
    assert calls["repartitioned_to"] == 16
    assert out is not None

    # MANY tiny files still spread: the scan packs them into few tasks,
    # so file count alone must not be read as width
    class _ManyTinyFiles(_ConnectFrame):
        def inputFiles(self):
            return ["file:" + str(tmp_path / "small.parquet")] * 64

    calls["repartitioned_to"] = None
    _spread(_ManyTinyFiles())
    assert calls["repartitioned_to"] == 16

    # genuinely wide by bytes: est = 32k/1k = 32 ≥ 16 → no shuffle
    (tmp_path / "big.parquet").write_bytes(b"x" * 32768)
    class _WideByBytes(_ConnectFrame):
        def inputFiles(self):
            return ["file:" + str(tmp_path / "big.parquet")]

    calls["repartitioned_to"] = None
    _spread(_WideByBytes())
    assert calls["repartitioned_to"] is None

    # non-file source (inputFiles raises): post-shuffle, already wide —
    # the defensive repartition must NOT be inserted
    class _NonFileSource(_ConnectFrame):
        def inputFiles(self):
            raise Exception("inputFiles is not defined on this plan")

    calls["repartitioned_to"] = None
    out = _spread(_NonFileSource())
    assert calls["repartitioned_to"] is None
    assert isinstance(out, _NonFileSource)

    # empty inputFiles (local relation): same — no repartition
    class _EmptyFiles(_ConnectFrame):
        def inputFiles(self):
            return []

    calls["repartitioned_to"] = None
    _spread(_EmptyFiles())
    assert calls["repartitioned_to"] is None

    # remote (un-stat-able) files: can't verify width → defensive spread
    class _RemoteFiles(_ConnectFrame):
        def inputFiles(self):
            return ["s3://bucket/part-0.parquet"]

    calls["repartitioned_to"] = None
    _spread(_RemoteFiles())
    assert calls["repartitioned_to"] == 16


def test_spread_starts_no_spark_job(spark):
    """_spread estimates width from the plan's input files: measuring it
    with ``.rdd.getNumPartitions()`` plans the frame for execution, and
    under AQE that runs the upstream shuffle stages of an aggregated
    input as a hidden job at plan-build time."""
    from soda_core_spark.operators.dedup import _spread

    sc = spark.sparkContext
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    agg = docs.groupBy("doc_id").agg(F.first("text").alias("text"))
    sc.setJobGroup("spread-starts-no-job", "_spread on an aggregated frame")
    try:
        _spread(agg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("spread-starts-no-job")) == []


def test_ngram_cap_default_warns_once():
    """Implicit posting-list cap is announced (ADVICE r2): default call
    warns once; explicit int or None never warns."""
    import warnings

    import soda_core_spark.operators.dedup as dd

    class _Frame:
        def __getattr__(self, name):
            raise _Stop()

    class _Stop(Exception):
        pass

    dd._default_cap_warned = False
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        for _ in range(2):
            try:
                dd.ngram_jaccard_all_pairs(_Frame())
            except _Stop:
                pass
        assert len([x for x in w if "max_doc_freq" in str(x.message)]) == 1
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dd._default_cap_warned = False
        for cap in (1000, None):
            try:
                dd.ngram_jaccard_all_pairs(_Frame(), max_doc_freq=cap)
            except _Stop:
                pass
        assert not [x for x in w if "max_doc_freq" in str(x.message)]


def test_kmeans_sampled_training_and_clamp(spark):
    from soda_core_spark.operators.similarity import ivf_topk, kmeans_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    total = emb.count()
    # sampled trainer: still returns the full centroid count, deterministic
    cents = kmeans_centroids(emb, n_centroids=8, n_iters=2, max_train_rows=total // 4)
    assert len(cents) == 8 and len(cents[0]) == 64
    assert cents == kmeans_centroids(
        emb, n_centroids=8, n_iters=2, max_train_rows=total // 4
    )
    # full-probe IVF stays exact regardless of which sample trained the
    # quantizer (cells partition the corpus)
    from soda_core_spark.operators.similarity import brute_force_topk

    queries = emb.where(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=3).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, cents, k=3, nprobe=8).collect()
    }
    assert full == exact
    # fewer rows than centroids → clamp, not IndexError (ADVICE r1)
    tiny = emb.limit(3)
    assert len(kmeans_centroids(tiny, n_centroids=8, n_iters=1)) == 3


def test_ngram_posting_cap_agrees_below_cap(spark):
    """Pairs whose shared shingles are all below the posting cap get the
    same jaccard with and without the cap; a boilerplate shingle shared
    by every doc is dropped by the cap (pair disappears or weakens)."""
    from soda_core_spark.operators.dedup import ngram_jaccard_all_pairs

    boiler = "accept all cookies"
    docs = [(i, f"{boiler} unique{i} text{i} body{i}") for i in range(20)]
    docs += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma delta epsilon")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_all_pairs(df, threshold=0.01, max_doc_freq=None).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_all_pairs(df, threshold=0.01, max_doc_freq=10).collect()
    }
    # the 100-101 pair shares only sub-cap shingles → identical jaccard
    assert capped[(100, 101)] == uncapped[(100, 101)]
    # boilerplate-only pairs exist uncapped but vanish under the cap
    boiler_pairs = [k for k in uncapped if k[0] < 20 and k[1] < 20]
    assert boiler_pairs and all(k not in capped for k in boiler_pairs)


def test_ivf_topk_recall_vs_exact(spark):
    from soda_core_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    cents = kmeans_centroids(emb, n_centroids=8, n_iters=2)
    assert len(cents) == 8 and len(cents[0]) == 64
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, cents, k=5, nprobe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall} too low"
    # probing every cell makes it exact
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, cents, k=5, nprobe=8).collect()
    }
    assert full == exact
    # determinism: same centroids twice
    assert cents == kmeans_centroids(emb, n_centroids=8, n_iters=2)


def _py_shingles(text, n=3):
    import re as _re

    # split on the SAME whitespace class as shingle_frame / the DuckDB CTE
    # ([ \t\n\r]+) — str.split() would also split on \x0b/\f/NBSP and the
    # oracle would silently diverge on such corpora
    words = [w for w in _re.split(r"[ \t\n\r]+", (text or "").lower()) if w]
    if len(words) >= n:
        return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}
    return {" ".join(words)}


def test_jaccard_all_pairs_matches_python_oracle_random(spark):
    """Randomized corpus (seeded): every (pair, jaccard) from the
    inverted-index operator equals the brute-force Python computation."""
    import itertools
    import random

    from soda_core_spark.operators.dedup import ngram_jaccard_all_pairs

    rng = random.Random(123)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        n_words = rng.randint(0, 25)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n_words))))
    docs.append((96, "w0\x0bw1 w2 w3 w4"))  # \x0b is NOT a separator
    docs.append((97, None))
    docs.append((98, "   "))
    docs.append((99, "one two"))  # <3 words → whole-text shingle

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): (r["n_shared"], r["jaccard"])
        for r in ngram_jaccard_all_pairs(df, threshold=0.05).collect()
    }

    shingled = {
        i: _py_shingles(t)
        for i, t in docs
        if t is not None and t.strip()
    }
    want = {}
    for a, b in itertools.combinations(sorted(shingled), 2):
        inter = len(shingled[a] & shingled[b])
        if inter == 0:
            continue
        jac = inter / len(shingled[a] | shingled[b])
        if jac >= 0.05:
            want[(a, b)] = (inter, round(jac, 6))
    assert got == want


def test_small_input_width_only_for_small_local_file_inputs(spark, tmp_path):
    """The dedup stages place their explicit exchanges, at the core count,
    only over a local file input smaller than one split per core; larger,
    remote and non-file inputs (None) keep the planner's exchanges."""
    from soda_core_spark.operators.dedup import _small_input_width

    cores = spark.sparkContext.defaultParallelism
    small = str(tmp_path / "small")
    spark.range(50).selectExpr("id", "'a b c' AS text").write.parquet(small)
    file_df = spark.read.parquet(small)
    local_df = spark.createDataFrame([(1, "a b c")], "id long, text string")

    class _Remote:
        sparkSession = spark

        def inputFiles(self):
            return ["s3://bucket/part-0.parquet"]

    keys = ("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        assert _small_input_width(file_df) == cores  # not the 200
        assert _small_input_width(local_df) is None  # not a file scan
        assert _small_input_width(_Remote()) is None  # size unknown
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16")
        assert _small_input_width(file_df) is None  # a split per core or more
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("source", ["file", "memory"])
@pytest.mark.parametrize("hash_shingles", [None, "xxhash64", "portable"])
def test_posting_cap_matches_python_capped_oracle(
    spark, tmp_path, hash_shingles, source
):
    """The posting cap drops exactly the shingles in MORE than
    ``max_doc_freq`` documents: a corpus whose shared shingles sit below,
    exactly at and above the cap gives the plain-Python capped answer for
    both pair operators, in every shingle-key mode. Set sizes stay the
    uncapped ones. A small parquet input takes the window cap, an
    in-memory one the frequency-aggregate cap."""
    import itertools

    from soda_core_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_all_pairs,
    )

    cap = 3
    members = {
        "hot shingle here": [0, 1, 2, 3, 4],  # 5 docs: above the cap
        "edge case phrase": [0, 5, 6],  # 3 docs: at the cap, kept
        "low freq words": [1, 2],  # 2 docs: below the cap
        "rare pair text": [3, 6],
    }
    docs = []
    for i in range(8):
        parts = [p for p, ids in members.items() if i in ids] or [f"lonely doc {i}"]
        # doc-unique separators keep cross-phrase shingles out of the overlap
        docs.append((i, " ".join(f"{p} sep{i}x{k}" for k, p in enumerate(parts))))
    docs += [(8, "hot shingle"), (9, None)]

    sh = {i: _py_shingles(t) for i, t in docs if t is not None}
    freq = {}
    for s in sh.values():
        for g in s:
            freq[g] = freq.get(g, 0) + 1
    assert {"below", "at", "above"} == {
        "below" if f < cap else "at" if f == cap else "above"
        for f in freq.values() if f > 1
    }
    capped = {i: {g for g in s if freq[g] <= cap} for i, s in sh.items()}
    want = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        shared = len(capped[a] & capped[b])
        if shared:
            want[(a, b)] = (shared, len(sh[a]), len(sh[b]))
    assert any(len(sh[a] & sh[b]) > n for (a, b), (n, _, _) in want.items())

    df = spark.createDataFrame(docs, "doc_id long, text string")
    if source == "file":
        df.write.parquet(str(tmp_path / "docs"))
        df = spark.read.parquet(str(tmp_path / "docs"))
    kw = dict(max_doc_freq=cap, hash_shingles=hash_shingles)
    jac = {
        (r["id_a"], r["id_b"]): r
        for r in ngram_jaccard_all_pairs(df, threshold=0.0, **kw).collect()
    }
    con = {
        (r["id_a"], r["id_b"]): r
        for r in ngram_containment_pairs(df, threshold=0.0, **kw).collect()
    }
    assert set(jac) == set(want) == set(con)
    for k, (shared, na, nb) in want.items():
        assert jac[k]["n_shared"] == con[k]["n_shared"] == shared
        assert jac[k]["jaccard"] == pytest.approx(shared / (na + nb - shared), abs=1e-6)
        assert con[k]["containment_a"] == pytest.approx(shared / na, abs=1e-6)
        assert con[k]["containment_b"] == pytest.approx(shared / nb, abs=1e-6)


@pytest.mark.parametrize("num_hashes,bands", [(16, 4), (10, 3)])
def test_portable_band_keys_match_md5_contract(spark, num_hashes, bands):
    """Portable-mode LSH band keys equal a hashlib statement of the
    contract, with no Spark computation on the oracle side:
    m_i = min over shingles of md5("i|shingle"), and band b keys the
    slice of rows = num_hashes // bands mins as md5("b,m..,m.."); with
    10 hashes in 3 bands, m9 is unused. The texts carry SQL-quoting
    hazards (', \\), tabs/CR, NBSP (not a separator), 1- and 2-word
    documents, and empty/blank/NULL texts (which get no keys at all)."""
    import hashlib

    from soda_core_spark.operators.dedup import _banded_frame, shingle_frame

    docs = [
        (1, "it's a 'quoted' text with a \\ backslash and \\' both"),
        (2, "Tabs\tand\r\ncarriage\rreturns  split   words here"),
        (3, "non\u00a0breaking space stays\u00a0inside one token"),
        (4, "single"),
        (5, "two words"),
        (6, ""),
        (7, None),
        (8, "   "),
        (9, "x' OR '1'='1 -- \\n is not a newline"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    base = shingle_frame(df, "doc_id", "text", 3)
    got: dict = {}
    for r in _banded_frame(base, num_hashes, bands, True).collect():
        got.setdefault(r["id"], []).append(r["band"])

    def md5(s):
        return hashlib.md5(s.encode("utf-8")).hexdigest()

    rows = num_hashes // bands
    want = {}
    for i, t in docs:
        if t is None or not t.strip(" "):
            continue
        sh = _py_shingles(t)
        m = [min(md5(f"{h}|{s}") for s in sh) for h in range(num_hashes)]
        want[i] = [
            md5(",".join([str(b)] + m[b * rows:(b + 1) * rows]))
            for b in range(bands)
        ]
    assert got == want


def test_decontaminate_matches_python_oracle_random(spark):
    import random

    from soda_core_spark.operators.dedup import decontaminate

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(20)]
    mk = lambda n: " ".join(rng.choice(vocab) for _ in range(n))
    bench_rows = [(100 + i, mk(rng.randint(3, 15))) for i in range(5)]
    train_rows = [(i, mk(rng.randint(0, 20))) for i in range(30)]

    bench = spark.createDataFrame(bench_rows, ["doc_id", "text"])
    train = spark.createDataFrame(train_rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_sh"], r["n_overlap"], r["overlap"], r["contaminated"])
        for r in decontaminate(train, bench, overlap_threshold=0.5).collect()
    }

    bench_sh = set().union(*(_py_shingles(t) for _, t in bench_rows))
    want = {}
    for i, t in train_rows:
        if not t.strip():
            continue
        sh = _py_shingles(t)
        ov = len(sh & bench_sh)
        want[i] = (len(sh), ov, round(ov / len(sh), 6), ov / len(sh) >= 0.5)
    assert got == want


def test_simhash_near_duplicates_hamming_zero_64bit(spark):
    """max_hamming=0 at the full 64-bit width (exact-fingerprint dup mode)
    must not overflow the single all-bits block mask."""
    from soda_core_spark.operators.dedup import simhash_near_duplicates

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "something else here")],
        ["doc_id", "text"],
    )
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_near_duplicates(df, max_hamming=0).collect()}
    assert got == {(1, 2): 0}


def test_langid_tokenizer_contract_odd_whitespace(spark):
    """NBSP / form feed are NOT separators under the repo's ASCII-ws
    tokenization contract — the pandas reference and the Spark scorer
    must agree."""
    import pandas as pd

    from soda_core_spark.functions.langid import attach_langid, score_batch

    texts = [
        "the\u00a0of and to in a is that it was",   # NBSP glues two tokens
        "the\x0cof and to in a is that it was",      # form feed glues
        "the of and to in a is that it was",         # plain: all stopwords
    ]
    pdf = score_batch(pd.Series(texts))
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "text"])
    got = {r["i"]: (r["langid_pred"], r["langid_conf"])
           for r in attach_langid(df).select("i", "langid_pred", "langid_conf").collect()}
    for i in range(3):
        assert got[i] == (pdf["langid_pred"][i], pdf["langid_conf"][i]), i
    # the glued token is a miss in both engines: 8 hits / 9 tokens
    assert got[0][1] == pytest.approx(8 / 9)
    assert got[2] == ("en", 1.0)


def test_multimodal_real_decoders(spark):
    """PPM and WAV payloads now decode for real (no media libs needed);
    only codec formats take the hash fallback."""
    import numpy as np

    from soda_core_spark.functions.multimodal import (
        audio_features,
        decode_ppm,
        decode_wav,
        extract_features,
        make_media_table,
        make_ppm,
        make_wav,
    )

    # exact decode of a hand-built 2x1 P6 (red, green) incl. comment line
    ppm = b"P6\n# comment\n2 1\n255\n" + bytes([255, 0, 0, 0, 255, 0])
    img = decode_ppm(ppm)
    assert img.shape == (1, 2, 3)
    assert img[0, 0].tolist() == [255, 0, 0] and img[0, 1].tolist() == [0, 255, 0]

    # WAV round-trip: a pure sine at known amplitude has RMS ~0.6/sqrt(2)
    wav = make_wav(500, seed=0)
    samples, rate = decode_wav(wav)
    assert rate == 8000 and len(samples) == 4000
    rms = float(np.sqrt(np.mean(samples**2)))
    assert abs(rms - 0.6 / np.sqrt(2)) < 0.05
    # band energies of a steady tone are nearly uniform → normalized ~1/4
    bands = audio_features(samples)
    assert np.allclose(bands, 0.25, atol=0.05)

    # generator round-trip through the Spark operator: dispatch per kind
    media = make_media_table(spark, n=30)
    rows = extract_features(media).collect()
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r["kind"], set()).add(r["decoder"])
    assert by_kind["image"] == {"ppm", "png"}
    assert by_kind["audio"] == {"wav"}
    assert by_kind["video"] == {"hash-fallback"}

    # decoded PPM features are the pooled-pixel vector, not a hash: the
    # same image content with one different pixel stays CLOSE in cosine
    a = decode_ppm(make_ppm(32, 32, seed=1))
    b = a.copy()
    b[0, 0] = [0, 0, 0]
    from soda_core_spark.functions.multimodal import image_features

    fa, fb = image_features(a), image_features(b)
    assert float(np.dot(fa, fb)) > 0.99

    # malformed media must fall back, never crash the task
    from soda_core_spark.functions.multimodal import decode_features

    d, f = decode_features(b"P6 truncated-garbage", "image/x-portable-pixmap")
    assert d == "hash-fallback" and len(f) == 16


def test_pq_train_encode_topk(spark):
    """Product quantization: trained codebooks beat fixed-random ones on
    reconstruction; ADC top-k recalls most exact neighbors; everything
    deterministic."""
    import numpy as np

    from soda_core_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        pq_train,
        _random_planes,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = 64
    cbs = pq_train(emb, dim=dim, n_subspaces=8, n_codes=16, n_iters=2)
    assert len(cbs) == 8 and len(cbs[0]) == 16 and len(cbs[0][0]) == 8
    # determinism
    assert cbs == pq_train(emb, dim=dim, n_subspaces=8, n_codes=16, n_iters=2)

    codes = pq_encode(emb, cbs)
    rows = codes.collect()
    assert all(len(r["codes"]) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r["codes"])

    # reconstruction error: trained codebooks < deterministic random ones
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    flat = _random_planes(8, 8 * 16, seed=7)
    rand_cbs = [[flat[s * 16 + c] for c in range(16)] for s in range(8)]

    def mse(codebooks, enc_rows):
        tot = 0.0
        for r in enc_rows:
            v = vecs[r["vec_id"]]
            rec = np.concatenate([
                np.array(codebooks[s][c]) for s, c in enumerate(r["codes"])
            ])
            tot += float(np.mean((v - rec) ** 2))
        return tot / len(enc_rows)

    rand_rows = pq_encode(emb, rand_cbs).collect()
    assert mse(cbs, rows) < mse(rand_cbs, rand_rows) * 0.9

    # (ADC recall is asserted on clustered vectors below — the sf
    # embeddings are near-random, where a 32-bit code cannot and should
    # not resolve orderings among near-equidistant points)


def test_pq_topk_recall_on_clustered_vectors(spark, vectors):
    from soda_core_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    cbs = pq_train(vectors, dim=16, n_subspaces=4, n_codes=16, n_iters=3)
    codes = pq_encode(vectors, cbs)
    queries = vectors.where(F.col("vec_id").isin([0, 4, 8, 12]))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(vectors, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(codes, queries, cbs, k=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.75, f"PQ ADC recall {recall} too low on clustered data"


def test_png_decode_all_filters_and_feature_parity(spark):
    """Stdlib PNG decode: every filter type (0-4) reconstructs exact
    pixels; RGBA drops alpha; grayscale replicates; identical pixels via
    PPM and PNG yield identical features end-to-end through
    extract_features (the VERDICT-6 acceptance)."""
    import numpy as np

    from soda_core_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_png,
        decode_ppm,
        extract_features,
        make_png,
        make_ppm,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(23, 17, 3), dtype=np.uint8)
    # each filter type alone must round-trip exactly
    for f in range(5):
        assert np.array_equal(decode_png(make_png(img, filters=[f])), img), f
    # cycling all five filters (the default) round-trips too
    assert np.array_equal(decode_png(make_png(img)), img)
    # RGBA: alpha dropped
    rgba = np.dstack([img, np.full((23, 17), 200, np.uint8)])
    assert np.array_equal(decode_png(make_png(rgba)), img)
    # grayscale: replicated to 3 channels
    gray = img[:, :, :1]
    assert np.array_equal(decode_png(make_png(gray)), np.repeat(gray, 3, axis=2))

    # e2e: the SAME pixels through PPM and PNG give IDENTICAL features
    ppm_bytes = make_ppm(31, 19, seed=5)
    pixels = decode_ppm(ppm_bytes)
    png_bytes = make_png(pixels)
    media = spark.createDataFrame(
        [
            ("ppm0", "image", bytearray(ppm_bytes), "image/x-portable-pixmap", 31, 19, None),
            ("png0", "image", bytearray(png_bytes), "image/png", 31, 19, None),
        ],
        MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in extract_features(media).collect()}
    assert rows["ppm0"]["decoder"] == "ppm"
    assert rows["png0"]["decoder"] == "png"
    assert rows["ppm0"]["feature"] == rows["png0"]["feature"]

    # interlaced/16-bit/palette refuse → hash fallback path (not a crash)
    from soda_core_spark.functions.multimodal import decode_features

    bad = bytearray(make_png(img))
    bad[8 + 8 + 12] = 1  # IHDR interlace byte → Adam7
    # fix up nothing else: decode must raise inside and fall back
    d, feat = decode_features(bytes(bad), "image/png")
    assert d == "hash-fallback" and len(feat) == 16


def test_connected_components_vs_union_find(spark):
    """Min-label propagation must agree with a plain union-find oracle on
    a random graph, including long chains (transitivity across many
    hops) and isolated pairs."""
    import random

    from soda_core_spark.operators.dedup import (
        connected_components,
        dedup_by_components,
    )

    rng = random.Random(42)
    n = 300
    edges = [(i, i + 1) for i in range(0, 60)]            # one 61-node chain
    edges += [(100 + 2 * i, 101 + 2 * i) for i in range(20)]  # isolated pairs
    edges += [(rng.randrange(150, n), rng.randrange(150, n)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]

    # union-find oracle
    parent = list(range(n))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = sorted({x for e in edges for x in e})
    expected = {x: find(x) for x in nodes}
    # canonicalize: component label = min member
    comp_min = {}
    for x in nodes:
        r = find(x)
        comp_min[r] = min(comp_min.get(r, x), x)
    expected = {x: comp_min[find(x)] for x in nodes}

    df = spark.createDataFrame(edges, ["id_a", "id_b"]).repartition(7)
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == expected

    # survivor selection: exactly one survivor (the min id) per cluster,
    # plus all unpaired docs
    docs = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    comps = connected_components(df)
    kept = {r["doc_id"] for r in dedup_by_components(docs, comps).collect()}
    survivors = set(expected.values())
    unpaired = set(range(n)) - set(nodes)
    assert kept == survivors | unpaired


def test_connected_components_edge_cases(spark):
    from soda_core_spark.operators.dedup import connected_components

    # self-loops and duplicate edges collapse away
    df = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (1, 2), (5, 6)], ["id_a", "id_b"]
    )
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 5: 5, 6: 5}
    # empty edge table → empty output, no crash
    empty = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert connected_components(empty).count() == 0


def test_minhash_pairs_to_clusters_end_to_end(spark, docs):
    """The full dedup flow: MinHash pairs → components → survivors.
    Docs 1,2,3,4 are all near/exact dups (1~2, 1~3 exact-normalized,
    1~4 near): transitivity must put all four in one cluster even if
    some pair was never emitted."""
    from soda_core_spark.operators.dedup import (
        connected_components,
        dedup_by_components,
        minhash_near_duplicates,
    )

    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.6)
    comps = connected_components(pairs)
    kept = sorted(
        r["doc_id"] for r in dedup_by_components(docs, comps).collect()
    )
    assert kept == [1, 5, 6]


def test_duplicated_spans(spark):
    """Span extraction: duplicated windows merge into [start, end) word
    offsets; unique docs produce no spans; verified against a
    hand-computed oracle."""
    from soda_core_spark.operators.dedup import duplicated_spans

    boiler = "one two three four"  # 4 words, shared by docs 1 and 2
    rows = [
        # doc 1: boilerplate at words [0,4) and again at [8,12)
        (1, boiler + " unique alpha beta gamma " + boiler),
        # doc 2: boilerplate at words [2,6)
        (2, "first second " + boiler + " tail words here now"),
        # doc 3: entirely unique
        (3, "completely different text with no shared windows at all ok"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [
        (r["doc_id"], r["span_start"], r["span_end"], r["n_positions"])
        for r in duplicated_spans(df, n=4, min_docs=2).collect()
    ]

    # python oracle: same windows, same dup set, same merge
    from collections import defaultdict

    texts = {i: t.lower().split() for i, t in rows}
    grams = {
        i: [tuple(ws[p : p + 4]) for p in range(len(ws) - 3)]
        for i, ws in texts.items()
    }
    docfreq = defaultdict(set)
    for i, gs in grams.items():
        for g in set(gs):
            docfreq[g].add(i)
    expected = []
    for i, gs in sorted(grams.items()):
        hot = [p for p, g in enumerate(gs) if len(docfreq[g]) >= 2]
        spans = []
        for p in hot:
            if spans and p - spans[-1][1] <= 4:
                spans[-1] = (spans[-1][0], p, spans[-1][2] + 1)
            else:
                spans.append((p, p, 1))
        for s0, s1, cnt in spans:
            expected.append((i, s0, s1 + 4, cnt))
    assert got == expected
    # sanity on the hand case: doc1 has dup gram at 0 and 8 (gap 8 > 4 →
    # two spans); doc2 one span at [2,6); doc3 none
    assert (1, 0, 4, 1) in got and (1, 8, 12, 1) in got
    assert (2, 2, 6, 1) in got
    assert not any(d == 3 for d, *_ in got)


def test_trim_spans_applies_and_passthrough(spark):
    """trim_spans cuts exactly the span words and leaves span-free docs
    whitespace-normalized; empty text survives."""
    from soda_core_spark.operators.dedup import duplicated_spans, trim_spans

    boiler = "one two three four"
    rows = [
        (1, boiler + " unique alpha beta gamma " + boiler),
        (2, "first second " + boiler + " tail words here now"),
        (3, "completely different text with no shared windows at all ok"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = duplicated_spans(df, n=4, min_docs=2)
    got = {r["doc_id"]: r for r in trim_spans(df, spans).collect()}
    # doc1: words [0,4) and [8,12) removed → the middle 4 unique words stay
    assert got[1]["text_trimmed"] == "unique alpha beta gamma"
    assert got[1]["n_words_trimmed"] == 8
    # doc2: words [2,6) removed
    assert got[2]["text_trimmed"] == "first second tail words here now"
    assert got[2]["n_words_trimmed"] == 4
    # doc3 untouched, doc4 empty stays empty
    assert got[3]["text_trimmed"] == rows[2][1]
    assert got[3]["n_words_trimmed"] == 0
    assert got[4]["text_trimmed"] == ""


def test_ngram_jaccard_hash_join_modes(spark, docs):
    """hash_shingles joins on 64/60-bit shingle hashes — pair sets and
    Jaccard values identical to string keys on collision-free corpora
    (the shuffle-byte win only shows at real scale; measured neutral at
    sf0.1, value-identical)."""
    import pytest as _pytest

    from soda_core_spark.operators.dedup import ngram_jaccard_all_pairs

    def pairs(mode):
        return {
            (r["id_a"], r["id_b"], r["n_shared"], r["jaccard"])
            for r in ngram_jaccard_all_pairs(
                docs, threshold=0.1, max_doc_freq=None, hash_shingles=mode
            ).collect()
        }

    exact = pairs(None)
    assert exact  # the fixture has near-dup pairs
    assert pairs("xxhash64") == exact
    assert pairs("portable") == exact
    with _pytest.raises(ValueError, match="hash_shingles"):
        ngram_jaccard_all_pairs(docs, hash_shingles="md5")


def test_png_truncated_checksum_rejected():
    """A deflate stream cut exactly at the data/adler32 boundary yields
    the right byte count but an incomplete zlib stream — must be
    rejected (review finding: dec.eof)."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from soda_core_spark.functions.multimodal import (
        PNG_SIG,
        _png_chunk,
        decode_png,
        make_png,
    )

    img = np.random.default_rng(3).integers(0, 256, (6, 5, 3), dtype=np.uint8)
    good = make_png(img, filters=[0])
    # rebuild with the IDAT's zlib stream truncated before its checksum
    ihdr = struct.pack(">IIBBBBB", 5, 6, 8, 2, 0, 0, 0)
    h, w, ch = img.shape
    lines = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    full_stream = zlib.compress(lines)
    cut = full_stream[:-4]  # drop adler32
    bad = (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", cut)
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(good), img)
    with _pytest.raises(Exception):
        decode_png(bad)


def test_best_of_cluster_quality_survivors(spark):
    from pyspark.sql import functions as F

    from soda_core_spark.operators.dedup import (
        best_of_cluster,
        connected_components,
    )

    # clusters {1,2,3} and {10,11}; 20 and 21 unclustered
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    comps = connected_components(edges)
    docs = spark.createDataFrame(
        [
            (1, 5.0),
            (2, 9.0),   # best of {1,2,3}
            (3, 9.0),   # tie with 2 → min id (2) wins
            (10, None), # all-NULL cluster → min id (10) wins
            (11, None),
            (20, 0.1),
            (21, None),
        ],
        ["doc_id", "q"],
    )
    kept = {
        r["doc_id"]
        for r in best_of_cluster(docs, comps, F.col("q")).collect()
    }
    assert kept == {2, 10, 20, 21}


def test_best_of_cluster_highest_beats_min_id(spark):
    from pyspark.sql import functions as F

    from soda_core_spark.operators.dedup import (
        best_of_cluster,
        connected_components,
        dedup_by_components,
    )

    edges = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    comps = connected_components(edges)
    docs = spark.createDataFrame([(1, 1.0), (2, 2.0)], ["doc_id", "q"])
    by_quality = {
        r["doc_id"] for r in best_of_cluster(docs, comps, F.col("q")).collect()
    }
    by_min_id = {r["doc_id"] for r in dedup_by_components(docs, comps).collect()}
    assert by_quality == {2} and by_min_id == {1}


def test_containment_catches_excerpts_jaccard_misses(spark):
    from soda_core_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_all_pairs,
    )

    long = " ".join(f"w{i} common prose token" for i in range(60))
    excerpt = " ".join(long.split()[:20])  # clean word-boundary excerpt
    rows = [(1, long), (2, excerpt), (3, "completely different words here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"]): r
        for r in ngram_containment_pairs(
            df, threshold=0.9, max_doc_freq=None
        ).collect()
    }
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert r["containment_b"] == 1.0       # excerpt fully contained
    assert r["contained_id"] == 2
    assert r["containment_a"] < 0.2        # the source is NOT contained
    # Jaccard at the same bar misses the relationship entirely
    jac = ngram_jaccard_all_pairs(
        df, threshold=0.9, max_doc_freq=None
    ).collect()
    assert not any(x["id_a"] == 1 and x["id_b"] == 2 for x in jac)


def test_containment_tie_prefers_smaller_doc(spark):
    from soda_core_spark.operators.dedup import ngram_containment_pairs

    # identical texts: both containments 1.0 → contained_id = min id
    # (equal sizes)
    df = spark.createDataFrame(
        [(7, "alpha beta gamma delta"), (9, "alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    r = ngram_containment_pairs(df, threshold=0.5, max_doc_freq=None).collect()
    assert len(r) == 1 and r[0]["contained_id"] == 7


def test_soft_dedup_weights_hand_values(spark):
    from soda_core_spark.operators.dedup import soft_dedup_weights

    # "a b" duplicated 3x (one with extra whitespace/case -> same class),
    # one unique doc, one NULL-text doc (folds to '' class of size 1)
    df = spark.createDataFrame(
        [
            (1, "a b"),
            (2, "A  b "),
            (3, "a\tb"),
            (4, "unique doc"),
            (5, None),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in soft_dedup_weights(df).collect()}
    assert len(out) == 5  # every row kept
    for i in (1, 2, 3):
        assert out[i].n_copies == 3
        assert out[i].weight == pytest.approx(0.333333)
    assert out[1].n_tokens == 2
    assert out[1].effective_tokens == pytest.approx(2 / 3, abs=1e-6)
    assert out[4].n_copies == 1 and out[4].weight == 1.0
    assert out[4].n_tokens == 2 and out[4].effective_tokens == 2.0
    assert out[5].n_copies == 1 and out[5].n_tokens == 0
    assert out[5].effective_tokens == 0.0


def test_soft_dedup_weights_budget_equals_dedup_budget(spark):
    from soda_core_spark.operators.dedup import exact_dedup, soft_dedup_weights

    # sum(effective_tokens) == token budget of the exact-deduped corpus:
    # reweighting and dropping agree on the total when classes are exact
    df = spark.createDataFrame(
        [(i, ["x y z", "p q", "x y z", "r s t u"][i % 4]) for i in range(40)],
        ["doc_id", "text"],
    )
    soft = soft_dedup_weights(df).agg(
        F.round(F.sum("effective_tokens"), 4).alias("budget")
    ).collect()[0].budget
    from soda_core_spark.functions.text import token_count_bpe_ish

    hard = (
        exact_dedup(df)
        .agg(F.sum(token_count_bpe_ish(F.col("text"))).alias("budget"))
        .collect()[0]
        .budget
    )
    assert soft == pytest.approx(float(hard), abs=1e-3)


def test_clustering_agreement_identical_and_orthogonal(spark):
    from soda_core_spark.operators.dedup import clustering_agreement

    same = spark.createDataFrame(
        [(1, "x", "p"), (2, "x", "p"), (3, "y", "q"), (4, "y", "q")],
        ["id", "a", "b"],
    )
    r = clustering_agreement(same, "a", "b").collect()[0]
    assert r.n == 4 and r.clusters_a == 2 and r.clusters_b == 2
    assert r.ari == 1.0 and r.nmi == 1.0

    # b refines a's two clusters into singletons: ARI 0 (chance),
    # NMI undefined on the singleton side? no - H_b > 0; sklearn gives 0
    split = spark.createDataFrame(
        [(1, "x", "p"), (2, "x", "q"), (3, "y", "r"), (4, "y", "s")],
        ["id", "a", "b"],
    )
    r2 = clustering_agreement(split, "a", "b").collect()[0]
    assert r2.ari == 0.0  # no same-cluster pairs survive in b


def test_clustering_agreement_matches_sklearn_formula(spark):
    import math
    import random
    from collections import Counter

    from soda_core_spark.operators.dedup import clustering_agreement

    rng = random.Random(166)
    rows = [(i, f"a{rng.randint(0, 4)}", f"b{rng.randint(0, 3)}")
            for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "a", "b"])
    r = clustering_agreement(df, "a", "b").collect()[0]

    # reference ARI/NMI from the contingency table
    cont = Counter((a, b) for _, a, b in rows)
    ca = Counter(a for _, a, _ in rows)
    cb = Counter(b for _, _, b in rows)
    n = len(rows)
    sij = sum(v * (v - 1) for v in cont.values())
    sa = sum(v * (v - 1) for v in ca.values())
    sb = sum(v * (v - 1) for v in cb.values())
    exp = sa * sb / (n * (n - 1))
    ari = (sij - exp) / ((sa + sb) / 2 - exp)
    mi = sum(
        v / n * math.log(n * v / (ca[a] * cb[b]))
        for (a, b), v in cont.items()
    )
    h = lambda c: -sum(v / n * math.log(v / n) for v in c.values())
    nmi = mi / math.sqrt(h(ca) * h(cb))
    assert r.ari == pytest.approx(ari, abs=1e-6)
    assert r.nmi == pytest.approx(nmi, abs=1e-6)


def test_clustering_agreement_trivial_and_null_policy(spark):
    from soda_core_spark.operators.dedup import clustering_agreement

    # both trivial (all one cluster): denominator 0 -> ARI 1, NMI NULL
    triv = spark.createDataFrame(
        [(i, "x", "p") for i in range(5)], ["id", "a", "b"]
    )
    r = clustering_agreement(triv, "a", "b").collect()[0]
    assert r.ari == 1.0 and r.nmi is None
    # NULL labels excluded
    mixed = spark.createDataFrame(
        [(1, "x", "p"), (2, None, "p"), (3, "x", None), (4, "x", "p")],
        ["id", "a", "b"],
    )
    r2 = clustering_agreement(mixed, "a", "b").collect()[0]
    assert r2.n == 2


def test_design_effect_hand_values(spark):
    from soda_core_spark.operators.dedup import dedup_design_effect

    # source A: 4 docs, one text duplicated 3x (k=3) + 1 unique
    #   weights: 3 docs at 1/3, 1 at 1 -> sw = 2, sw2 = 3*(1/9)+1 = 4/3
    #   ess = 4 / (4/3) = 3.0, deff = 4/3
    df = spark.createDataFrame(
        [(1, "A", "dup text"), (2, "A", "dup text"), (3, "A", "dup text"),
         (4, "A", "unique a"), (5, "B", "unique b")],
        ["doc_id", "source", "text"],
    )
    out = {r.group: r for r in dedup_design_effect(df).collect()}
    a = out["A"]
    assert a.n_docs == 4 and a.n_classes == 2
    assert a.ess == pytest.approx(3.0, abs=1e-5)
    assert a.deff == pytest.approx(4 / 3, abs=1e-5)
    assert a.eff_fraction == pytest.approx(0.75, abs=1e-5)
    b = out["B"]
    assert b.n_docs == 1 and b.ess == pytest.approx(1.0) and b.deff == 1.0


def test_design_effect_cross_source_duplication_penalized(spark):
    from soda_core_spark.operators.dedup import dedup_design_effect

    # mirror: source M's only doc also lives 9x in source O ->
    # global k = 10, M's single doc has weight 1/10 but ESS of a
    # single-doc source is still 1 (one class); the penalty shows in O
    rows = [(0, "M", "mirrored")] + [
        (i, "O", "mirrored") for i in range(1, 10)
    ] + [(100 + i, "O", f"own {i}") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r.group: r for r in dedup_design_effect(df).collect()}
    o = out["O"]
    assert o.n_docs == 19 and o.n_classes == 11
    # 9 docs at w=1/10 and 10 docs at w=1:
    # ess = (9*.1 + 10)^2 / (9*.01 + 10) = 118.81/10.09
    assert o.ess == pytest.approx(118.81 / 10.09, abs=1e-3)
    assert o.deff > 1.5
