"""Deduplication operators for web-scale training corpora.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup, each designed
around Spark's shuffle model:

* exact: hash-groupBy on a normalized fingerprint — one shuffle on a
  64-bit key; survivor chosen with ``min_by`` (no window sort),
* MinHash+LSH: signatures are pure column expressions (xxhash64 over
  shingles — JVM-side, no UDF); banding turns near-dup search into an
  equi-join on band keys (shuffle on small keys, never all-pairs),
* SimHash: fingerprint via bitwise majority over token hashes; near-dup
  search via pigeonhole block equi-joins (exact within a Hamming ball —
  :func:`simhash_near_duplicates`),
* verification: exact Jaccard over shingle sets for candidate pairs only.

Hash portability: the hot path hashes with ``xxhash64`` (JVM-intrinsic);
``portable_hash=True`` / :func:`portable_token_hash` switch to an
md5-derived 60-bit hash that any engine with md5 can reproduce — used by
the registry queries so the DuckDB oracle is byte-exact.

soda-core's duplicate machinery is count-only (duplicate_check.py:58-343);
these operators materialize the dedup decision per row, which is the
training-pipeline extension the north rule asks for.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from soda_core_spark.functions.text import words_col

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def normalized_text(text: Column) -> Column:
    """Whitespace-collapsed, lowercased text — the exact-dedup identity."""
    return F.lower(F.regexp_replace(F.trim(text), "[ \\t\\n\\r]+", " "))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per normalized-text fingerprint: the one with the
    smallest id (deterministic survivor). ``min_by`` aggregation — a single
    hash-shuffle, no row_number window (no per-group sort, no skew from a
    giant duplicate class beyond the agg combiner)."""
    fp = F.md5(normalized_text(F.col(text_col))).alias("__fp")
    surviv = (
        df.select(fp, F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
    )
    # semi join back to recover full rows; broadcast not assumed (survivors
    # can be nearly the full table)
    return df.join(surviv, on=id_col, how="left_semi")


def duplicate_classes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(fingerprint, n_copies, min_id) per duplicate class with >1 member —
    the audit view of exact dedup."""
    fp = F.md5(normalized_text(F.col(text_col))).alias("fp")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("min_id"))
        .where(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# Shingles + MinHash + LSH
# ---------------------------------------------------------------------------


def _spread(df: DataFrame) -> DataFrame:
    """Ensure at least defaultParallelism partitions before per-row-heavy
    shingle construction: a small input (one parquet file) otherwise
    serializes the whole pre-shuffle stage on one task. Round-robin, no
    key — cheap relative to the HOF work it parallelizes; skipped when the
    input is already wide (the 100 TB case).

    The target width is :func:`_cores`; the input width is
    :func:`_scan_splits`, an estimate from the plan's input files:

    * not a file scan → such frames are typically post-shuffle (join/agg
      output) and already wide — a defensive ``repartition`` would add a
      full extra shuffle — so the spread is skipped. (A tiny Connect
      LocalRelation also lands here and loses the spread; it had to fit
      in one RPC, so the loss is bounded.)
    * un-stat-able (remote) files spread defensively — a bounded extra
      shuffle versus an unboundedly serialized HOF stage."""
    par = _cores(df.sparkSession)
    est = _scan_splits(df)
    if est is None:
        return df  # non-file source: post-shuffle frames are already wide
    return df.repartition(par) if est < par else df


def _cores(spark) -> int:
    """``defaultParallelism``, the cores that run a stage. Spark Connect
    sessions have no ``sparkContext``: there it is
    ``spark.sql.shuffle.partitions``, or 200 when that is unreadable."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        try:
            # may be non-numeric ("auto" under some AQE deployments)
            return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        except Exception:
            return 200


def _scan_splits(df: DataFrame) -> int | None:
    """Estimated partition count of ``df``'s file scan: total bytes /
    ``maxPartitionBytes``, at least 1. None when ``df`` reads no files
    (``inputFiles()`` unavailable or empty); 0 when a file is remote or
    cannot be stat-ed, so its size is unknown.

    ESTIMATED, never measured: ``df.rdd.getNumPartitions()`` would plan
    the frame for execution, and under AQE that runs every upstream
    shuffle stage of the input as a hidden Spark job at plan-build time
    (the real query then runs it again); it is also missing on Spark
    Connect frames. The file COUNT alone is an upper bound, not an
    estimate: the scan packs many tiny files into one partition, so
    counting files can report "wide" for a scan that actually runs on
    one task."""
    try:
        files = df.inputFiles()
    except Exception:
        files = None
    if not files:
        return None
    spark = df.sparkSession
    try:
        max_pb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        )
    except Exception:
        max_pb = 128 * 1024 * 1024
    total = 0
    for path in files:
        local = path[5:] if path.startswith("file:") else path
        if not os.path.isabs(local):
            return 0  # remote/unknown scheme
        try:
            total += os.path.getsize(local)
        except OSError:
            return 0
    return max(1, -(-total // max_pb))


def _small_input_width(df: DataFrame) -> int | None:
    """:func:`_cores` when ``df`` reads local files smaller than one split
    per core (the inputs :func:`_spread` widens), else None.

    The CPU-bound dedup stages (:func:`_band_candidate_pairs`,
    :func:`_shared_shingle_counts`) hash such an input's rows onto this
    many partitions with an explicit ``repartition``. AQE never coalesces
    that ``REPARTITION_BY_NUM`` exchange, so the stage reading it uses
    every core; behind the planner's own exchange AQE's size-based
    coalescing squeezed it into ONE task, because the shuffled rows are
    16-byte ids (500 docs, local[4]: a warm ``minhash_near_duplicates``
    1.07-1.21 s → 0.79 s). The width is the core count, not
    ``spark.sql.shuffle.partitions``: under Spark's default of 200 the
    same call ran 200-task stages of microsecond tasks (warm capped
    ``ngram_jaccard_all_pairs`` 5.7-6.9 s, against 0.9-1.1 s at 4).
    Larger, remote and non-file inputs (None) keep the planner-inserted
    exchanges: AQE sizes them and its skew-join rule can split them."""
    cores = _cores(df.sparkSession)
    splits = _scan_splits(df)
    return cores if splits and splits < cores else None


def _parse_bytes(v: str) -> int:
    """Spark size-string parser subset ('134217728', '128m', '1g')."""
    s = str(v).strip().lower()
    for suffix, mult in (("k", 1024), ("m", 1024**2), ("g", 1024**3),
                         ("t", 1024**4), ("b", 1)):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(s)


def _words_of(text: Column) -> Column:
    """Lowercased non-empty whitespace tokens — the shared tokenization
    of the shingle operators, materialized ONCE per row as ``__w`` (see
    :func:`shingle_frame`)."""
    return words_col(F.lower(text))


def _has_tokens(text: Column) -> Column:
    """True when ``text`` has at least one :func:`_words_of` token: it is
    not all ``[ \\t\\n\\r]`` (Spark's one-argument ``trim`` strips spaces
    only, so a tab/newline-only text would pass a plain ``trim`` test)."""
    return F.length(F.trim(text, F.lit(" \t\n\r"))) > 0


def _shingles_of_words(n: int) -> Column:
    """Distinct word n-gram array (``n``-shingles) of the token-array
    attribute ``__w`` (:func:`_words_of`), as ONE SQL text — a single
    py4j call instead of one per Column-API node and lambda.

    Documents with 1..n-1 words get ONE whole-text shingle; documents
    with ZERO words (empty, whitespace-only, or NULL text) get an
    EMPTY set — not ``['']``. The '' sentinel made every empty doc a
    jaccard-1.0 duplicate of every other empty doc, a degenerate hot
    key at corpus scale and a cross-engine hazard (DuckDB's
    ``array_to_string([])`` is NULL while Spark's ``concat_ws`` is '',
    so the two engines disagreed on exactly these rows)."""
    cut = f"size(__w) - {n - 1}"
    grams = f"slice(__w, 1, {cut})"
    for i in range(2, n + 1):
        grams = (
            f"zip_with({grams}, slice(__w, {i}, {cut}), "
            "(x, y) -> concat_ws(' ', x, y))"
        )
    return F.expr(
        f"CASE WHEN size(__w) >= {n} THEN array_distinct({grams}) "
        "WHEN size(__w) > 0 THEN array(concat_ws(' ', __w)) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def shingle_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """``(id, *extra_cols, shl)`` with the tokenization materialized ONCE
    per row, and ``shl`` the distinct n-shingle array of the lowercased
    text (:func:`_shingles_of_words`).

    Why a DataFrame helper instead of one inline shingle expression over
    the text: higher-order functions run interpreted with NO
    common-subexpression elimination, and the inline shingle expression
    references ``split(lower(text))`` ~3n times internally — so every
    evaluation used to re-tokenize the full text ~9 times (n=3), and
    plan rules multiplied evaluations further (``InferFiltersFromGenerate``
    inlined the whole expression into a pre-exchange Filter; size lookups
    re-evaluated it per reference). Here the token array is its own
    projection level: it is multi-referenced and non-cheap, so
    ``CollapseProject`` keeps the level (SPARK-36718) and the split runs
    once per row; downstream shingle/size/signature expressions reference
    the ARRAY ATTRIBUTE, not the tokenization. Measured on the r6 bench:
    the q33 plan carried 9 split() calls per scan node before, 1 after.

    Rows with empty/whitespace/NULL text are dropped (:func:`_has_tokens`;
    they have no shingles — the existing policy of every caller), so every
    returned ``shl`` is non-empty, so ``size(shl)`` equals the exploded
    per-id row count and ``explode_outer`` is row-identical to
    ``explode`` (callers use the outer form to keep
    ``InferFiltersFromGenerate`` from re-inlining the shingle expression
    into scan filters)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    filtered = _spread(df.where(_has_tokens(t)))
    step = filtered.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extra_cols],
        _words_of(t).alias("__w"),
    )
    return step.select(
        "id",
        *extra_cols,
        _shingles_of_words(n).alias("shl"),
    )


def plan_lsh_params(
    threshold: float,
    num_hashes: int,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """Choose (bands, rows) for MinHash LSH given a target Jaccard
    ``threshold`` and a signature budget of ``num_hashes`` permutations.

    The collision probability of a pair with similarity s under b bands
    of r rows is ``P(s) = 1 - (1 - s^r)^b`` (Leskovec/Rajaraman/Ullman,
    Mining of Massive Datasets §3.4). The planner minimizes the weighted
    sum of the false-positive mass (∫₀ᵗ P(s) ds) and false-negative mass
    (∫ₜ¹ 1 - P(s) ds), integrated numerically — the same objective
    datasketch's MinHashLSH optimizer uses, reimplemented from the
    published formula. Driver-side math over at most ``num_hashes``
    configurations: O(num_hashes × grid) microseconds, no Spark.

    Weights tune the tradeoff: raising ``fn_weight`` favors more bands
    (catch more true pairs, verify more candidates); raising
    ``fp_weight`` favors longer rows (fewer junk candidates reaching the
    verify join — the lever that matters at 10^12 docs, where candidate
    volume IS the cost).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    if num_hashes < 2:
        raise ValueError(f"num_hashes must be >= 2, got {num_hashes}")
    if fp_weight < 0 or fn_weight < 0 or fp_weight + fn_weight <= 0:
        raise ValueError("weights must be non-negative and not both zero")
    grid = 200
    best: tuple[float, int, int] | None = None
    for rows in range(1, num_hashes + 1):
        bands = num_hashes // rows
        if bands < 1:
            break
        fp = 0.0
        fn = 0.0
        for i in range(grid):
            s = (i + 0.5) / grid
            p = 1.0 - (1.0 - s**rows) ** bands
            if s < threshold:
                fp += p
            else:
                fn += 1.0 - p
        err = (fp_weight * fp + fn_weight * fn) / grid
        if best is None or err < best[0]:
            best = (err, bands, rows)
    assert best is not None
    return best[1], best[2]


def lsh_collision_probability(s: float, bands: int, rows: int) -> float:
    """P(candidate | Jaccard = s) for b bands of r rows — the s-curve
    :func:`plan_lsh_params` optimizes; exposed so callers can report the
    operating characteristics a chosen (b, r) implies."""
    return 1.0 - (1.0 - s**rows) ** bands


def portable_token_hash(col: Column) -> Column:
    """Engine-portable 60-bit hash: the first 15 hex digits of md5, parsed
    base-16. Reproducible in any engine with md5 (DuckDB twin:
    ``list_reduce`` over hex digits); ~3× the cost of xxhash64, so the hot
    path keeps xxhash64 and this backs oracle-parity runs."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


PORTABLE_HASH_BITS = 60


def _minhash_mins(num_hashes: int, portable_hash: bool) -> list[str]:
    """MinHash signature m_0..m_{num_hashes-1} as per-row SQL texts over
    the MATERIALIZED shingle-array attribute ``shl`` (:func:`shingle_frame`):
    m_i = ``array_min(transform(shl, x -> xxhash64(i, x)))``, or in
    portable mode the lexicographic min of md5("i|shingle") —
    reproducible in any engine with md5. ``i`` is an int literal, typed
    as ``F.lit(i)`` types it; no caller text enters the SQL.

    SQL text, not Column-API lambdas: each ``F.transform`` with a Python
    lambda costs dozens of py4j round trips to build, so the 32 mins of
    one default call used to dominate plan building; the text reaches the
    engine in one call per expression and plans to the same tree.

    This is the min-over-a-doc's-shingle-hashes the former explode →
    groupBy(id) aggregate computed, value-identical (``array_min``
    ignores no elements here: shingle hashes are never NULL). The
    aggregate form existed to dodge re-evaluating the INLINE shingle
    expression per hash; with ``shl`` an attribute that hazard is gone,
    and dropping the aggregate removes an Exchange on id — plus, in
    portable mode, a Sort + SortAggregate pair per evaluation (min over
    md5 STRINGS has no mutable hash-aggregation buffer, so Spark used
    sort-based aggregation over the full exploded shingle set). On the
    r6 bench: 2 Exchange + 2 Sort + 4 SortAggregate removed from q18.
    The md5/xxhash64 work per shingle is unchanged — that is the
    declared computation."""
    h = "md5(concat_ws('|', '{i}', x))" if portable_hash else "xxhash64({i}, x)"
    return [
        f"array_min(transform(shl, x -> {h.format(i=i)}))"
        for i in range(num_hashes)
    ]


def _band_keys_expr(
    num_hashes: int,
    bands: int,
    portable_hash: bool,
    mins: list[str] | None = None,
) -> Column:
    """Array of ``bands`` LSH band keys as ONE SQL expression — the
    signature+banding stage of MinHash LSH with no shuffle at all. The
    signature values are ``mins`` (SQL texts or attribute names; the
    first ``bands * rows`` are used), by default the :func:`_minhash_mins`
    expressions over ``shl``. Band b hashes its ``rows = num_hashes //
    bands`` signature slice with the band index:
    ``xxhash64(b, concat_ws(',', m..))`` or, portable,
    ``md5(concat_ws(',', 'b', m..))``.

    Raises ``ValueError`` unless ``1 <= bands <= num_hashes``: with more
    bands than hashes ``rows`` is 0, every document gets the same
    ``bands`` constant keys and the band join degenerates to all-pairs."""
    if not 1 <= bands <= num_hashes:
        raise ValueError(
            f"LSH banding needs 1 <= bands <= num_hashes, got bands={bands}, "
            f"num_hashes={num_hashes}"
        )
    rows = num_hashes // bands
    if mins is None:
        mins = _minhash_mins(bands * rows, portable_hash)
    keys = []
    for b in range(bands):
        m = mins[b * rows:(b + 1) * rows]
        if portable_hash:
            keys.append(f"md5(concat_ws(',', '{b}', {', '.join(m)}))")
        else:
            cast = ", ".join(f"CAST({x} AS STRING)" for x in m)
            keys.append(f"xxhash64({b}, concat_ws(',', {cast}))")
    return F.expr(f"array({', '.join(keys)})")


def _banded_frame(
    base: DataFrame,
    num_hashes: int,
    bands: int,
    portable_hash: bool,
    mins: list[str] | None = None,
) -> DataFrame:
    """``(id, band)`` LSH band keys per document of a :func:`shingle_frame`
    ``(id, shl)`` — one tokenization per row, per-row signatures, no
    aggregate (``mins``: see :func:`_band_keys_expr`)."""
    keys = _band_keys_expr(num_hashes, bands, portable_hash, mins)
    return base.select("id", F.explode_outer(keys).alias("band"))


def _band_candidate_pairs(
    base: DataFrame,
    num_hashes: int,
    bands: int,
    portable_hash: bool,
    mins: list[str] | None = None,
) -> DataFrame:
    """Distinct ``(id_a, id_b)``, id_a < id_b, of the documents of a
    :func:`shingle_frame` that share at least one LSH band key.

    The band self-join runs over bare ``(id, band)`` pairs (16 bytes a
    row) — NOT over the shingle arrays, which would be duplicated
    ``bands``× through the shuffle; callers re-attach the arrays to the
    deduplicated pairs (:func:`_attach_shingles`), so each doc's
    shingles cross the wire once per side.

    One shared band shuffle: the ``MERGE`` hint makes the self-join a
    sort-merge join at every input size, so both sides need the same
    planner-inserted ``Exchange hashpartitioning(band)`` over the same
    subtree, and exchange reuse runs it ONCE — each signature is
    computed once per plan. The planner's own pick on a small input is a
    broadcast join, whose two sides each recompute every signature. At
    corpus scale the sort-merge plan is what the planner picks anyway.
    The shuffle stays planner-inserted (not a user ``repartition``), so
    AQE's skew-join rule (spark.sql.adaptive.skewJoin), which only
    splits such shuffles, still splits the hot band key of a giant
    duplicate cluster.

    On a small input (:func:`_small_input_width`) the candidate pairs
    take an explicit hash exchange on ``(id_a, id_b)`` at the core count
    ahead of the dedupe, so the dedupe and the caller's Jaccard verify,
    which run in the stage that reads it, use every core instead of the
    one task AQE coalesced them into (500 docs, local[4]: a 1-task 0.54 s
    verify of 5,087 pairs). The exchange satisfies the dedupe's
    distribution, so it takes the place of the planner's and no exchange
    is added. Its cost: the partial dedupe now runs after the shuffle,
    not before it (500 docs: 6,634 rows / 50.2 KB through the pair
    exchange instead of 5,087 / 41.3 KB). Larger inputs keep the
    planner's exchange and its map-side partial dedupe."""
    banded = _banded_frame(base, num_hashes, bands, portable_hash, mins)
    a, b = banded.alias("a"), banded.hint("MERGE").alias("b")
    pairs = a.join(b, F.expr("a.band = b.band AND a.id < b.id")).selectExpr(
        "a.id AS id_a", "b.id AS id_b"
    )
    width = _small_input_width(base)
    if width is not None:
        pairs = pairs.repartition(width, "id_a", "id_b")
    return pairs.dropDuplicates(["id_a", "id_b"])


def _attach_shingles(
    pairs: DataFrame, sets: DataFrame, col: str
) -> DataFrame:
    """``pairs`` with each side's shingle array re-attached from the
    ``(id, col)`` frame ``sets`` by two id-joins, as ``sh_a`` / ``sh_b``
    (verify with :func:`_jaccard`)."""
    sh_a = sets.selectExpr("id AS id_a", f"{col} AS sh_a")
    sh_b = sets.selectExpr("id AS id_b", f"{col} AS sh_b")
    return pairs.join(sh_a, "id_a").join(sh_b, "id_b")


def _jaccard(a: str, b: str) -> Column:
    """Exact set Jaccard of two distinct-element array attributes, as a
    double."""
    return F.expr(
        f"CAST(size(array_intersect({a}, {b})) AS DOUBLE)"
        f" / CAST(size(array_union({a}, {b})) AS DOUBLE)"
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    portable_hash: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) with exact shingle-Jaccard
    verification.

    Scale path, stage by stage:
    1. signatures + band keys are ONE per-row SQL expression over the
       materialized shingle array — no shuffle, a handful of py4j calls
       to build (:func:`_minhash_mins`, :func:`_band_keys_expr`);
    2. the band self-join runs over bare ``(id, band)`` pairs through
       ONE shared ``hashpartitioning(band)`` shuffle, so each signature
       is computed once (:func:`_band_candidate_pairs`);
    3. the stage that reads its pairs' exchange dedupes them,
       re-attaches the shingle arrays by two id-joins and verifies exact
       Jaccard on the candidates only; on a small input that exchange is
       an explicit one at the core count, so the verify uses every core
       however few bytes the pairs are.

    ``portable_hash=True`` swaps xxhash64 for lexicographic mins over md5
    strings (signature m_i = min over shingles of md5("i|shingle"); band
    key = md5("b,m..")) — identical results in any engine with md5, so
    the whole LSH pipeline is DuckDB-oracle-checkable. Empty/whitespace
    documents are excluded in both modes (they have no shingles; pairing
    them is meaningless). Raises ``ValueError`` unless
    ``1 <= bands <= num_hashes``."""
    base = shingle_frame(df, id_col, text_col, shingle_n)
    pairs = _band_candidate_pairs(base, num_hashes, bands, portable_hash)
    return (
        _attach_shingles(pairs, base, "shl")
        .select("id_a", "id_b", _jaccard("sh_a", "sh_b").alias("jaccard"))
        .where(F.col("jaccard") >= jaccard_threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    join_key: Column | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs grouped by ``join_key``
    (default: equal word count bucket — a cheap blocking key). For true
    all-pairs use minhash_near_duplicates instead; this exists as the
    exact oracle-able variant."""
    key = join_key if join_key is not None else F.md5(normalized_text(F.col(text_col)))
    # two-level projection: tokenize once per row (shingle_frame rationale)
    step = df.select(
        F.col(id_col).alias("id"),
        key.alias("k"),
        _words_of(F.col(text_col)).alias("__w"),
    )
    base = step.select("id", "k", _shingles_of_words(n).alias("sh"))
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b, (F.col("a.k") == F.col("b.k")) & (F.col("a.id") < F.col("b.id"))
    )
    return pairs.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        _jaccard("a.sh", "b.sh").alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    portable_hash: bool = False,
) -> DataFrame:
    """SimHash fingerprints as (id_col, simhash): per bit, majority vote
    of token-hash bits (+1/−1), sign → bit. Duplicate tokens vote once per
    occurrence (standard frequency weighting).

    Scale form: explode tokens → hash each token ONCE → one groupBy with
    ``bits`` conditional sums (full map-side partial aggregation, so the
    shuffle carries one row of ``bits`` ints per doc). A per-row
    expression form would re-evaluate the token pipeline per bit
    (higher-order functions have no common-subexpression elimination).

    ``portable_hash=True`` uses the md5-derived 60-bit token hash so the
    fingerprint is reproducible in DuckDB (``bits`` is capped at
    PORTABLE_HASH_BITS). Token-less documents get simhash 0 (all votes
    zero)."""
    if portable_hash:
        bits = min(bits, PORTABLE_HASH_BITS)
        th = portable_token_hash
    else:
        th = F.xxhash64
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = _words_of(t)
    ex = (
        _spread(df)
        .select(F.col(id_col).alias("id"), F.explode(words).alias("w"))
        .select("id", th(F.col("w")).alias("h"))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = ex.groupBy("id").agg(*votes)
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim.bitwiseOR(
            F.when(F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                F.lit(0).cast("long")
            )
        )
    sims = agg.select("id", sim.alias("simhash"))
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(sims, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"),
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
    portable_hash: bool = False,
) -> DataFrame:
    """All pairs within a Hamming ball of the SimHash fingerprint —
    EXACT within the ball, via the pigeonhole block trick: split the
    fingerprint into ``max_hamming + 1`` contiguous blocks; any pair at
    distance ≤ max_hamming differs in at most max_hamming blocks, so it
    matches exactly on at least one block. Candidates come from
    ``max_hamming + 1`` equi-joins on (block index, block value) — one
    exploded self-join, never all-pairs — then ``bit_count(a XOR b)``
    verifies the distance. Returns (id_a, id_b, hamming).

    Giant clusters of identical pages make a hot block key; AQE skew-join
    splits it. Fingerprints ride through the join (8 bytes) so no
    re-join against the corpus is needed for verification."""
    if portable_hash:
        bits = min(bits, PORTABLE_HASH_BITS)
    sims = simhash_df(df, id_col, text_col, bits, portable_hash)
    return hamming_near_duplicates(
        sims, id_col=id_col, hash_col="simhash",
        max_hamming=max_hamming, bits=bits,
    )


def hamming_near_duplicates(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """All id pairs whose ``hash_col`` 64-bit fingerprints lie within
    ``max_hamming`` — the pigeonhole block join factored out of
    :func:`simhash_near_duplicates` so ANY fingerprint (SimHash, image
    dHash, audio chromaprint-style hashes) gets the same exact-in-ball,
    never-all-pairs candidate generation. Returns (id_a, id_b, hamming)."""
    nblocks = max_hamming + 1
    width = bits // nblocks
    blocks = []
    for b in range(nblocks):
        start = b * width
        w = bits - start if b == nblocks - 1 else width
        # w == 64 (max_hamming=0 at 64 bits): (1<<64)-1 overflows LongType;
        # all-ones as a signed long is -1
        mask = F.lit(-1 if w == 64 else (1 << w) - 1).cast("long")
        val = F.shiftright(F.col(hash_col), start).bitwiseAND(mask)
        blocks.append(F.struct(F.lit(b).alias("b"), val.alias("v")))
    banded = df.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("__fp"),
        F.explode(F.array(*blocks)).alias("blk"),
    ).select("id", "__fp", F.col("blk.b").alias("b"), F.col("blk.v").alias("v"))
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.__fp").alias("fp_a"),
            F.col("b.__fp").alias("fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long")
    return (
        pairs.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Exact all-pairs n-gram Jaccard (inverted-index join) + decontamination
# ---------------------------------------------------------------------------


class _DefaultCap(int):
    """Sentinel for the implicit posting-list cap: behaves as the int cap
    but marks that the caller did not choose it, so the cap is announced
    (once) instead of silently lowering Jaccard values."""


_DEFAULT_MAX_DOC_FREQ = _DefaultCap(1000)
_default_cap_warned = False


def _shingle_hash(hash_shingles: str | None):
    """The shingle-key hash a ``hash_shingles`` option names: ``None``
    (exact shingle strings), :func:`F.xxhash64` or
    :func:`portable_token_hash`."""
    if hash_shingles is None:
        return None
    if hash_shingles == "xxhash64":
        return F.xxhash64
    if hash_shingles == "portable":
        return portable_token_hash
    raise ValueError(
        f"hash_shingles must be None, 'xxhash64' or 'portable', got "
        f"{hash_shingles!r}"
    )


def _shared_shingle_counts(
    base: DataFrame, max_doc_freq: int | None, hash_shingles: str | None
) -> DataFrame:
    """``(id_a, id_b, n_shared, n_a, n_b)`` for every pair id_a < id_b of
    a :func:`shingle_frame` that shares at least one shingle: the
    inverted-index self-join. A pair has any overlap iff it shares a
    shingle, so joining the exploded (id, shingle) relation to itself
    enumerates exactly the nonzero pairs — never the quadratic space.
    ``n_a`` / ``n_b`` are the two set sizes.

    ``max_doc_freq`` drops shingles in more than that many documents
    before the self-join (posting-list cap: a shingle in f docs creates
    f² join rows); ``hash_shingles`` joins on 64/60-bit shingle hashes
    instead of the 20-40-byte strings (:func:`_shingle_hash`).

    A capped call on a small input (:func:`_small_input_width`) runs in
    one stage: the ``(id, s)`` postings take ONE explicit hash exchange
    on ``s`` at the core count, and the stage reading it applies the cap
    as ``count(1) OVER (PARTITION BY s)``, runs the self-join (both sides
    read that exchange, once through reuse) and the partial pair count,
    on every core instead of the one task AQE coalesced the join into
    (500 docs, local[4]: a 2.6M-row join as one 0.23-0.27 s task). The
    ``groupBy("s")`` aggregate joined back, with its own exchange and its
    own rebuild of the shingle arrays, is gone there (8 → 6 jobs per
    500-doc call). Its costs, and why it stays on small inputs:

    * the partial pair count now runs in every posting partition, so
      more partial rows cross the pair exchange (500 docs, local[4]:
      216,808 rows / 2.0 MB instead of 54,423 / 0.5 MB out of one task);
    * AQE's skew-join rule does not split an explicit exchange, and the
      window buffers a hot shingle's whole posting list in one task
      before the cap drops it. Larger inputs therefore keep the planner's
      exchanges and the aggregate cap, which streams a hot shingle
      through a join against its one frequency row; uncapped calls
      (``max_doc_freq=None``, where a shingle in f documents is f² join
      rows) keep the planner's exchange at every size;
    * Spark drops a user repartition when its child already has that
      partitioning: placed after the frequency join (already hashed on
      ``s``), the exchange vanished and the stage fell back to one task.
      Check the FINAL adaptive plan, not the initial one
      (``tests/test_plan_shape.py`` does).

    r6 plan shape, A/B-measured on the sf1.0 bench corpus (127M
    co-occurrence rows through the pair aggregate):

    * the pair aggregate carries ONLY the count — the Σf²-row partial
      aggregation is the dominant cost, and keeping its rows/buffers
      to (id_a, id_b, count) instead of also dragging both sizes
      through ``max()`` buffers measured 8.9 s vs 14.6 s; the 50k-row
      size table re-attaches by two explicitly-broadcast joins on the
      million-fold-smaller aggregate OUTPUT (the explicit broadcast is
      right up to ~10^8 docs — 16 B/doc of (id, n_sh); past that drop
      the hint and the planner shuffle-joins the size table, still on
      the post-aggregate pair counts);
    * the self-join carries a SHUFFLE_HASH hint (8.9 s vs 23.7 s
      against the planner's broadcast pick): the probe side must
      anyway stream Σf² matches into the partial aggregate, and the
      shuffle gives that aggregate full partition parallelism, while
      the per-partition hash build side is |exploded|/partitions rows
      — bounded; AQE skew-join still splits oversized partitions;
    * each scan tokenizes once (:func:`shingle_frame`)."""
    key = _shingle_hash(hash_shingles)
    ex = base.selectExpr("id", "explode_outer(shl) AS s")
    if key is not None:
        ex = ex.select("id", key(F.col("s")).alias("s"))
    width = None if max_doc_freq is None else _small_input_width(base)
    if width is not None:
        ex = (
            ex.repartition(width, "s")
            .selectExpr("id", "s", "count(1) OVER (PARTITION BY s) AS df_")
            .where(F.col("df_") <= max_doc_freq)
            .select("id", "s")
        )
    elif max_doc_freq is not None:
        freq = ex.groupBy("s").agg(F.expr("count(1) AS df_"))
        ex = ex.join(freq, "s").where(F.col("df_") <= max_doc_freq).drop("df_")
    a, b = ex.alias("a"), ex.hint("SHUFFLE_HASH").alias("b")
    inter = (
        a.join(b, F.expr("a.s = b.s AND a.id < b.id"))
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .groupBy("id_a", "id_b")
        .agg(F.expr("CAST(count(1) AS BIGINT) AS n_shared"))
    )
    na = base.selectExpr("id AS id_a", "CAST(size(shl) AS BIGINT) AS n_a")
    nb = base.selectExpr("id AS id_b", "CAST(size(shl) AS BIGINT) AS n_b")
    return inter.join(F.broadcast(na), "id_a").join(F.broadcast(nb), "id_b")


def ngram_jaccard_all_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = _DEFAULT_MAX_DOC_FREQ,
    hash_shingles: str | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via an inverted-index self-join on
    shingles (:func:`_shared_shingle_counts`, which holds the plan
    shape). No blocking key is needed: a pair has Jaccard > 0 iff it
    shares at least one shingle. Two shuffles: the postings hashed on
    the shingle (the self-join and partial pair count read it), then
    the pair counts on the pair; a capped call on a large input adds
    the cap's frequency aggregate. Sizes are broadcast-joined back.
    Returns
    ``(id_a, id_b, n_shared, jaccard)``, jaccard at 6 dp.

    ``max_doc_freq``: shingles occurring in more than this many documents
    are dropped before the self-join (standard posting-list cap — a
    shingle in f docs creates f² join rows, so stop-word/boilerplate
    shingles dominate cost while contributing almost nothing to
    high-Jaccard pairs). The cap is ON by default (1000: ≤1M join rows
    per capped shingle) because a single boilerplate shingle across 10^8
    pages is a 10^16-row join — pass ``max_doc_freq=None`` EXPLICITLY for
    exact/oracle-parity runs on bounded corpora. Capping lowers the
    computed intersection (and so Jaccard) of pairs sharing capped
    shingles; pairs whose common shingles all fall below the cap are
    unaffected.

    ``hash_shingles``: join on 64-bit shingle HASHES instead of the
    shingle strings — an n-word shingle string is 20-40 bytes where the
    hash is 8, so the self-join's shuffle (the dominant cost) shrinks
    3-5×. ``"xxhash64"`` is the production hot path;
    ``"portable"`` uses the md5-derived 60-bit hash any engine can
    reproduce (:func:`portable_token_hash`), so a cross-engine oracle
    mirrors the hashing and stays value-identical INCLUDING any
    collisions. ``None`` (default) keeps exact string keys. A collision
    merges two shingles' posting lists (inflating n_shared for pairs
    that span them) with probability ~d²/2^{64|60} per corpus of d
    distinct shingles — immaterial below ~10^8 distinct shingles;
    above that, prefer the capped string form.

    Reference parity: soda-core only counts duplicates
    (duplicate_check.py:58-343); pairwise similarity is the
    training-pipeline extension.
    """
    if isinstance(max_doc_freq, _DefaultCap):
        global _default_cap_warned
        if not _default_cap_warned:
            _default_cap_warned = True
            import warnings

            warnings.warn(
                "ngram_jaccard_all_pairs: shingles occurring in more than "
                f"{int(max_doc_freq)} documents are dropped by default "
                "(scale guard against the f² self-join blowup), which "
                "lowers Jaccard for pairs sharing hot shingles. Pass "
                "max_doc_freq=None for exact results, or an int to choose "
                "the cap explicitly.",
                stacklevel=2,
            )
    base = shingle_frame(df, id_col, text_col, n)
    jac = "n_shared / (n_a + n_b - n_shared)"
    return (
        _shared_shingle_counts(base, max_doc_freq, hash_shingles)
        .where(F.expr(jac) >= threshold)
        .selectExpr("id_a", "id_b", "n_shared", f"round({jac}, 6) AS jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = _DEFAULT_MAX_DOC_FREQ,
    hash_shingles: str | None = None,
) -> DataFrame:
    """Asymmetric CONTAINMENT pairs — the excerpt/syndication detector
    Jaccard misses: a 200-word quote inside a 5000-word article has
    Jaccard ≈ 0.04 but containment ≈ 1.0 on the quote's side
    (``|A∩B| / |A|``, Broder's containment coefficient). News
    syndication, quoted posts, and wrapper pages around a shared body
    are exactly this shape.

    Same inverted-index self-join, posting-cap scale guard and plan
    shape as :func:`ngram_jaccard_all_pairs` (:func:`_shared_shingle_counts`;
    a pair appears iff it shares a shingle — never the quadratic
    space); output keeps BOTH directions plus ``contained_id``, the
    side with the higher containment (ties → the smaller document; the
    id a trim-or-drop policy acts on). Pairs kept when
    max(containment_a, containment_b) ≥ ``threshold``."""
    base = shingle_frame(df, id_col, text_col, n)
    inter = _shared_shingle_counts(base, max_doc_freq, hash_shingles)
    ca = F.col("n_shared") / F.col("n_a")
    cb = F.col("n_shared") / F.col("n_b")
    contained = F.when(ca > cb, F.col("id_a")).when(cb > ca, F.col("id_b")).otherwise(
        F.when(F.col("n_a") <= F.col("n_b"), F.col("id_a")).otherwise(F.col("id_b"))
    )
    return (
        inter.where(F.greatest(ca, cb) >= threshold)
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.round(ca, 6).alias("containment_a"),
            F.round(cb, 6).alias("containment_b"),
            contained.alias("contained_id"),
        )
    )


def decontaminate(
    df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    overlap_threshold: float = 0.8,
    broadcast_bench: bool = True,
    hash_shingles: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: per training document, the fraction of
    its distinct n-gram shingles that occur anywhere in the benchmark
    (eval) corpus; documents at/above ``overlap_threshold`` are flagged
    for removal so eval data never leaks into training data.

    Two scale regimes, same exact result:

    * ``broadcast_bench=True`` (default): eval suites are small, so the
      distinct benchmark shingle set broadcasts and the per-document hit
      count is a broadcast left-semi join + groupBy — the training
      corpus is never shuffled on a wide key.
    * ``broadcast_bench=False``: the "benchmark" side is itself a large
      corpus (cross-corpus contamination, held-out-split leakage at
      web scale) and cannot broadcast. The semi-join becomes a shuffle
      join keyed on the shingle; pair it with
      ``hash_shingles`` so the shuffle moves 8-byte keys instead of
      20-40-byte shingle strings (3-5× less shuffle I/O — the join is
      the dominant cost). Spark's AQE plans the shuffle join and can
      still demote it to broadcast if the bench side turns out small.

    ``hash_shingles``: ``None`` joins on exact shingle strings;
    ``"xxhash64"`` is the production 64-bit path; ``"portable"`` the
    md5-derived 60-bit hash a cross-engine oracle can replay
    collision-for-collision (:func:`portable_token_hash`). A collision
    can only over-count a doc's overlap (false positive toward
    ``contaminated`` — the safe direction for decontamination) with
    probability ~d²/2^{60} over d distinct shingles.

    r6 plan shape: ONE scan of the training corpus. The former plan
    scanned it twice (hit counting + a separate size table) and joined
    the two back on id; since a doc's exploded distinct-shingle count
    IS ``size(shl)`` and every kept doc has ≥ 1 shingle, one LEFT join
    against the benchmark set with a hit marker gives ``n_sh`` (count
    of all rows) and ``n_overlap`` (count of marked rows) in a single
    groupBy — value-identical, 3 scans → 2, the id join deleted.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    bench_sh = (
        benchmark_df.where(_has_tokens(t))
        .select(_words_of(t).alias("__w"))
        .select(
            F.explode_outer(_shingles_of_words(n)).alias("s")
        )
        .distinct()
    )
    base = shingle_frame(df, id_col, text_col, n)
    ex = base.select("id", F.explode_outer("shl").alias("s"))
    key = _shingle_hash(hash_shingles)
    if key is not None:
        ex = ex.select("id", key(F.col("s")).alias("s"))
        bench_sh = bench_sh.select(key(F.col("s")).alias("s")).distinct()
    marked = bench_sh.select("s", F.lit(1).alias("__hit"))
    per_doc = (
        ex.join(
            F.broadcast(marked) if broadcast_bench else marked,
            "s",
            "left",
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sh"),
            F.count("__hit").cast("long").alias("n_overlap"),
        )
    )
    overlap = F.col("n_overlap") / F.col("n_sh")
    return per_doc.select(
        F.col("id").alias("doc_id"),
        F.col("n_sh"),
        F.col("n_overlap"),
        F.round(overlap, 6).alias("overlap"),
        (overlap >= overlap_threshold).alias("contaminated"),
    )


def duplicated_ngram_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document repeated-substring signal (the Spark-shaped analogue
    of suffix-array substring dedup, Lee et al. 2021 "Deduplicating
    Training Data Makes Language Models Better"): slide an ``n``-token
    window over every document; a window position is *duplicated* when
    its n-gram occurs in at least ``min_docs`` distinct documents.
    Returns (id, n_windows, n_dup_windows, dup_fraction) — the standard
    drop/trim signal for cross-document boilerplate and mirrored content.

    Scale shape: token windows are linear in corpus token count
    (posexplode — no quadratic blowup); the duplicated-gram set is
    one distinct + one groupBy over (gram) with full partial aggregation;
    flagging is an equi-join on the gram. A boilerplate gram shared by
    millions of docs is ONE row in the dup-gram set (the join fans out
    only to its actual occurrences, which must be touched anyway).
    Windows are non-distinct per doc — a document repeating its own
    n-gram twice counts both positions (suffix-array semantics), but
    self-repeats only count as duplicated when the gram clears
    ``min_docs`` distinct documents.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    # tokenize ONCE per row (shingle_frame rationale): the former inline
    # form embedded the split inside the transform lambda, re-tokenizing
    # per WINDOW (O(k) splits per doc) and again for the totals pass
    step = _spread(df).select(
        F.col(id_col).alias("id"), _words_of(t).alias("__w")
    )
    w = F.col("__w")
    k = F.size(w)
    # all n-gram windows, positions kept implicit (we only need counts)
    grams = F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(1), k - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = step.select("id", grams.alias("g"))
    # outer explode: no InferFiltersFromGenerate re-inlining; the NULL
    # gram a window-less doc emits never equi-joins and the flagged
    # counts ignore it
    ex = base.select("id", F.explode_outer("g").alias("gram"))
    dup_grams = (
        ex.select("id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .where(F.col("ndocs") >= min_docs)
        .select("gram")
    )
    flagged = ex.join(dup_grams, "gram", "left_semi")
    dup_counts = flagged.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_windows")
    )
    # n_windows = max(k - n + 1, 0) in closed form — no second gram
    # construction and the row grain of the input is preserved
    totals = step.select(
        "id",
        F.greatest(k - (n - 1), F.lit(0)).cast("long").alias("n_windows"),
    )
    nd = F.coalesce(F.col("n_dup_windows"), F.lit(0).cast("long"))
    frac = F.when(F.col("n_windows") > 0, nd / F.col("n_windows")).otherwise(0.0)
    return totals.join(dup_counts, "id", "left").select(
        F.col("id").alias(id_col),
        "n_windows",
        nd.alias("n_dup_windows"),
        F.round(frac, 6).alias("dup_fraction"),
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """WHERE the duplication is: word-offset spans of corpus-duplicated
    ``n``-gram runs per document — the trim-don't-drop refinement of
    :func:`duplicated_ngram_stats` (which only scores HOW MUCH). A window
    position is duplicated when its n-gram occurs in ≥ ``min_docs``
    distinct documents; runs of overlapping/adjacent duplicated windows
    (start-gap ≤ n) merge into one span. Returns
    ``(doc_id, span_start, span_end, n_positions)`` with 0-based word
    offsets, ``span_end`` exclusive — feed to a slicer to cut mirrored
    boilerplate out of otherwise-unique documents instead of dropping
    them (Lee et al. 2021 trim semantics).

    Scale shape: identical to duplicated_ngram_stats up to the flagging
    join (linear posexplode, one distinct+groupBy for the dup-gram set,
    semi-join to flag); the added interval merge is one window over
    (doc, pos) — partitioned by doc id, so its shuffle key is uniform
    and per-group size is bounded by document length, never corpus size.
    """
    from pyspark.sql import Window

    t = F.coalesce(F.col(text_col), F.lit(""))
    # one tokenization per row + outer posexplode (shingle_frame
    # rationale; the semi-join below ignores the NULL row an empty
    # window array emits)
    step = _spread(df).select(
        F.col(id_col).alias("id"), _words_of(t).alias("__w")
    )
    wq = F.col("__w")
    k = F.size(wq)
    grams = F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(1), k - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(wq, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = step.select("id", grams.alias("g"))
    ex = base.select("id", F.posexplode_outer("g").alias("pos", "gram"))
    dup_grams = (
        ex.select("id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .where(F.col("ndocs") >= min_docs)
        .select("gram")
    )
    hot = ex.join(dup_grams, "gram", "left_semi").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    new_span = F.when(gap <= n, F.lit(0)).otherwise(F.lit(1))
    spans = hot.withColumn(
        "span_id",
        F.sum(new_span).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        spans.groupBy("id", "span_id")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + n).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_positions"),
        )
        .select(
            F.col("id").alias(id_col), "span_start", "span_end", "n_positions"
        )
        .orderBy(id_col, "span_start")
    )


def trim_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply :func:`duplicated_spans` output to the corpus: drop every
    word whose 0-based position falls inside any ``[span_start,
    span_end)`` of its document; surviving words re-join with single
    spaces into ``text_trimmed`` (whitespace-normalized — the engine's
    tokenization contract). Documents with no spans pass through with
    normalized whitespace only. This is trim-don't-drop: mirrored
    boilerplate is cut while the unique remainder of the document stays
    in the training mix.

    Scale shape: spans aggregate per doc (tiny arrays — spans are merged
    intervals, bounded by doc length / n), ONE left join back to the
    corpus on the id, then pure per-row column algebra (zip positions,
    nested-HOF membership test) — no second shuffle, no UDF.
    """
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    out = df.join(sp, id_col, "left")
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = words_col(t)
    empty_spans = F.coalesce(
        F.col("__spans"),
        F.array().cast("array<struct<span_start:bigint,span_end:bigint>>"),
    )
    # materialize the token array and the kept-subset ONCE each (both
    # are multi-referenced non-cheap expressions; inline they were
    # re-evaluated ~5x/2x per row — the shingle_frame rationale)
    out = out.withColumn("__tw", words)
    tw = F.col("__tw")
    wp = F.zip_with(
        tw,
        F.sequence(F.lit(0), F.size(tw) - 1).cast("array<bigint>"),
        lambda w, i: F.struct(w.alias("w"), i.alias("i")),
    )
    kept = F.filter(
        F.when(F.size(tw) > 0, wp).otherwise(
            F.array().cast("array<struct<w:string,i:bigint>>")
        ),
        lambda x: ~F.exists(
            empty_spans,
            lambda s: (x["i"] >= s["span_start"]) & (x["i"] < s["span_end"]),
        ),
    )
    out = out.withColumn("__kept", kept)
    trimmed = F.concat_ws(
        " ", F.transform(F.col("__kept"), lambda x: x["w"])
    )
    n_dropped = F.size(tw) - F.size(F.col("__kept"))
    return out.withColumns(
        {"text_trimmed": trimmed, "n_words_trimmed": n_dropped.cast("long")}
    ).drop("__spans", "__tw", "__kept")


# ---------------------------------------------------------------------------
# Corpus-level repeated-line (boilerplate) removal
# ---------------------------------------------------------------------------


def remove_repeated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_freq: int = 2,
) -> DataFrame:
    """C4-style boilerplate removal: delete every line whose normalized
    form (trimmed, lowercased) occurs more than ``max_freq`` times across
    the WHOLE corpus — navigation bars, cookie banners, and footers repeat
    across pages; real prose does not. Empty lines are never counted or
    removed (they are document structure, not content).

    Shape for scale:
    1. ``posexplode`` lines (position kept for faithful reassembly),
    2. the over-frequent "hot" line set is a groupBy + HAVING — in real
       corpora it is tiny relative to the corpus (boilerplate is by
       definition a small set of distinct strings), so AQE typically
       broadcasts it for the flagging join,
    3. reassembly is one shuffle on the document id; ``collect_list``
       of (pos, line) structs is sorted per doc — grouping carries only
       the document's own lines, never corpus state.

    Returns (id, text_cleaned, n_lines, n_removed); the input text column
    is replaced, other columns are not carried (join back on id if
    needed — cheaper than shuffling wide rows through the groupBy).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(t, "\n", -1)).alias("pos", "line"),
    ).withColumn(
        # btrim over the ASCII whitespace set, NOT F.trim (spaces only):
        # CRLF corpora leave a trailing \r on every split line and the
        # same banner would never match across LF and CRLF documents
        "key",
        F.btrim(F.lower(F.col("line")), F.lit(" \t\r\x0b\x0c")),
    )
    hot = (
        lines.where(F.col("key") != "")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") > max_freq)
        .select("key")
        .withColumn("is_hot", F.lit(True))
    )
    flagged = lines.join(hot, "key", "left").withColumn(
        "is_hot", F.coalesce(F.col("is_hot"), F.lit(False))
    )
    # collect_list skips NULLs, so hot lines vanish from the rebuilt text
    kept_struct = F.when(
        ~F.col("is_hot"), F.struct(F.col("pos"), F.col("line"))
    )
    return flagged.groupBy("id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
            ),
        ).alias("text_cleaned"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("is_hot").cast("long")).alias("n_removed"),
    ).withColumnRenamed("id", id_col)


def per_group_cap(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    cap: int = 10,
    skew_guard: bool = True,
) -> DataFrame:
    """Corpus balancing: keep at most ``cap`` documents per group (host,
    domain, source), chosen deterministically by md5 of the id — so the
    SAME documents survive regardless of partitioning, restarts, or
    engine (md5 is portable; a random() sample is not). The web-scale
    standard for stopping a handful of giant hosts from dominating a
    training mix.

    The plain form is one window over the group key — fine when no group
    dominates, but a pathologically hot host (50 % of a 10^12-doc corpus)
    lands on ONE reducer. ``skew_guard=True`` (the DEFAULT — the plain
    window is the opt-out, not the other way round) switches to exact
    two-stage
    top-k: stage 1 ranks within (group, input-partition) — a balanced
    shuffle, the hot group spread over every input partition — keeping at
    most ``cap`` rows per (group, partition); stage 2 ranks the survivors
    (≤ cap × n_partitions rows per group, data-independent) with the
    exact window. The global top-cap of per-partition top-caps IS the
    global top-cap, so the survivors are IDENTICAL to the plain form —
    no sketch, no probabilistic margin.
    """
    from pyspark.sql import Window

    order = F.md5(F.col(id_col).cast("string"))
    work = df
    if skew_guard:
        w1 = Window.partitionBy(group_col, "__pid").orderBy(order, F.col(id_col))
        work = (
            df.withColumn("__pid", F.spark_partition_id())
            .withColumn("__rn1", F.row_number().over(w1))
            .where(F.col("__rn1") <= cap)
            .drop("__pid", "__rn1")
        )
    w = Window.partitionBy(group_col).orderBy(order, F.col(id_col))
    return (
        work.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= cap)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Connected components over near-duplicate pair tables → dedup clusters
# ---------------------------------------------------------------------------


def _reliable_checkpoint(df: DataFrame) -> DataFrame:
    """Iteration-safe lineage + STATISTICS truncation (jstack-diagnosed
    at sf0.1, see tests/test_cc_iteration_cost.py):

    ``Dataset.checkpoint`` cuts the plan but deliberately PRESERVES the
    origin plan's statistics on the resulting LogicalRDD. Catalyst's
    size-only estimator computes a join's sizeInBytes as the PRODUCT of
    its children's, and an un-materialized leaf defaults to
    Long.MaxValue — so in a loop whose round holds ~4 self/edge joins,
    the inherited stat is raised to the ~4th power EVERY round. The
    BigInt's bit length grows geometrically, and from ~round 16 the
    driver burns its time in BigInteger.multiply inside stats
    estimation (0.6 s → 385 s/round, then OOM allocating the next
    stat). Plain localCheckpoint inherits stats the same way.

    The fix: materialize a cache FIRST — a materialized
    InMemoryRelation carries REAL sizeInBytes — then checkpoint, so the
    LogicalRDD inherits the real (small, constant) stats; unpersist the
    scaffold cache. Costs one extra pass over a label-table-sized frame
    per round, and keeps every round O(1) forever."""
    import tempfile

    from pyspark import StorageLevel

    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        sc.setCheckpointDir(tempfile.mkdtemp(prefix="soda_spark_ckpt_"))
    cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()
    out = cached.checkpoint(eager=True)
    cached.unpersist()
    return out


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Transitive closure of a pair table: (node, component) where
    ``component`` is the MINIMUM node id reachable through the undirected
    edge set. This is the step a real dedup pipeline needs between
    pairwise near-dup detection (MinHash/SimHash/Jaccard emit PAIRS) and
    survivor selection — A~B and B~C must collapse into ONE cluster even
    though (A, C) was never emitted.

    Algorithm: min-label propagation with POINTER JUMPING — each round
    (a) every node takes the min of its own and its neighbors\' labels
    (one shuffle over the edge list), then (b) labels shortcut through
    their own labels (``label ← label(label)``, one self-join), which
    halves remaining path lengths, so a diameter-D graph converges in
    O(log D) rounds instead of O(D) — a 10^6-long pathological chain is
    ~20 rounds, and real near-dup clusters (dense clumps) finish in 2-4.

    Each round ends in a RELIABLE ``checkpoint(eager=True)``: iterative
    self-joins must have their lineage actually CUT each round, and on
    Spark 4.x ``localCheckpoint`` is not enough — it truncates the
    LOGICAL plan but keeps the physical dependency chain as the
    recompute fallback, and once the ContextCleaner evicts an older
    generation's blocks, every later round silently recomputes through
    the whole retained chain: measured ~3× slower PER ROUND from
    ~round 16 at sf0.1 (0.6 s → 385 s by round 22, then driver OOM
    inside plan-stats estimation) while the logical plan stayed a
    constant-size LogicalRDD. Reliable ``checkpoint()`` writes the
    round's label table to the checkpoint dir and severs the chain for
    real — constant work per round at any round count. A checkpoint
    dir is auto-assigned under the JVM's temp dir when the session has
    none (set ``spark.sparkContext.setCheckpointDir`` to durable
    storage on a real cluster — that also buys executor-loss recovery).
    The driver loop holds one changed-count per round (1-row aggregate;
    the data never leaves the executors).

    soda-core has no graph machinery (SURVEY §1.1: no graphs); this is a
    training-pipeline extension like the pair generators above.
    """
    a, b = F.col(src_col), F.col(dst_col)
    sym = (
        edges.select(a.alias("s"), b.alias("d"))
        .union(edges.select(b.alias("s"), a.alias("d")))
        .where(F.col("s") != F.col("d"))
        .distinct()
    )
    sym = _reliable_checkpoint(sym)
    labels = (
        sym.groupBy("s")
        .agg(F.least(F.min("d"), F.first("s")).alias("label"))
        .select(F.col("s").alias("node"), "label")
    )
    labels = _reliable_checkpoint(labels)
    for _ in range(max_iterations):
        # (a) neighbor-min: candidate label from the edge list
        nbr = (
            sym.join(labels, sym["d"] == labels["node"])
            .groupBy("s")
            .agg(F.min("label").alias("nbr_label"))
            .select(F.col("s").alias("node"), "nbr_label")
        )
        stage1 = (
            labels.withColumnRenamed("label", "old")
            .join(nbr, "node", "left")
            .select(
                "node",
                F.col("old"),
                F.least(
                    F.col("old"), F.coalesce(F.col("nbr_label"), F.col("old"))
                ).alias("mid"),
            )
        )
        # (b) pointer jump: label ← label(label). Every label VALUE is a
        # node id (mins of node ids), so it resolves in the label table.
        hop = stage1.select(
            F.col("node").alias("pnode"), F.col("mid").alias("plabel")
        )
        nxt = (
            stage1.join(hop, stage1["mid"] == hop["pnode"], "left")
            .select(
                "node",
                "old",
                F.least(
                    F.col("mid"), F.coalesce(F.col("plabel"), F.col("mid"))
                ).alias("label"),
            )
        )
        nxt = _reliable_checkpoint(nxt)
        changed = nxt.where(F.col("label") < F.col("old")).limit(1).count()
        # previous generations' checkpoint files are reclaimed by the
        # ContextCleaner once unreferenced (spark.cleaner.referenceTracking
        # .cleanCheckpoints) or by checkpoint-dir housekeeping; peak live
        # state is ~2 label generations
        del labels
        labels = nxt.drop("old")
        if not changed:
            break
    return labels.select("node", F.col("label").alias("component"))


def dedup_by_components(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivor selection: keep the MINIMUM-id document of every
    near-dup cluster (plus every document that appears in no cluster).
    ``components`` is the (node, component) output of
    :func:`connected_components`; the survivor of a cluster is the node
    whose id equals the component label — no window, no extra shuffle
    beyond the membership join (left-anti on the non-survivor set)."""
    non_survivors = components.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(non_survivors, id_col, "left_anti")


def best_of_cluster(
    df: DataFrame,
    components: DataFrame,
    score: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-ranked survivor selection: keep, per near-dup cluster,
    the member with the HIGHEST ``score`` (ties → lowest id), plus every
    document that appears in no cluster. The production upgrade over
    :func:`dedup_by_components`' min-id rule — pipelines keep the
    longest / highest-quality duplicate, not an arbitrary one.

    Shape: cluster membership joins only (id, score) pairs — text never
    moves; per-component max then min-id-among-maxima are two
    partial-agg groupBys over the (small) membership table; survivors
    come back as a left-anti on the loser id set. NULL scores rank
    below every real score (all-NULL cluster → min id, the
    dedup_by_components behavior)."""
    scored = df.select(
        F.col(id_col).alias("__id"),
        F.coalesce(score.cast("double"), F.lit(float("-inf"))).alias("__s"),
    )
    m = components.join(scored, components["node"] == F.col("__id")).select(
        "component", "__id", "__s"
    )
    mx = m.groupBy("component").agg(F.max("__s").alias("__smax"))
    surv = (
        m.join(mx, "component")
        .where(F.col("__s") == F.col("__smax"))
        .groupBy("component")
        .agg(F.min("__id").alias(id_col))
        .select(id_col)
    )
    losers = components.select(F.col("node").alias(id_col)).join(
        surv, id_col, "left_anti"
    )
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Incremental (cross-snapshot) dedup
# ---------------------------------------------------------------------------


def corpus_fingerprints(
    df: DataFrame, text_col: str = "text", fp_col: str = "fp"
) -> DataFrame:
    """Distinct exact-dedup fingerprints of a corpus snapshot — the
    state a pipeline persists between crawl increments (reference
    analogue: none; soda-core has no cross-run state beyond metric
    history). Write this to a table bucketed by ``fp``
    (sources/bucketing.py) so successive increments anti-join
    shuffle-free."""
    return df.select(
        F.md5(normalized_text(F.col(text_col))).alias(fp_col)
    ).distinct()


def incremental_exact_dedup(
    new_df: DataFrame,
    seen_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fp",
) -> DataFrame:
    """Exact dedup of a NEW batch against an already-ingested corpus:
    drop every new document whose normalized-text fingerprint exists in
    ``seen_fps`` (the :func:`corpus_fingerprints` of prior snapshots),
    then keep the min-id survivor per fingerprint within the batch.
    This is the monthly-crawl shape: the seen set only grows, and the
    batch never re-reads the historical corpus — only its fingerprints.

    Scale shape: one anti-join on fp (broadcast when the seen set is
    small; bucketed-by-fp storage makes it shuffle-free when it is
    not), then the same min_by groupBy as :func:`exact_dedup` within
    the batch. The historical TEXT never moves — 16-byte keys do."""
    tagged = new_df.withColumn("__fp", F.md5(normalized_text(F.col(text_col))))
    fresh = tagged.join(
        seen_fps.select(F.col(fp_col).alias("__fp")), "__fp", "left_anti"
    )
    surviv = fresh.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return (
        fresh.join(surviv.select(id_col), on=id_col, how="left_semi")
        .drop("__fp")
    )


def corpus_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    portable_hash: bool = False,
) -> DataFrame:
    """Distinct MinHash LSH band keys of a corpus snapshot — the
    near-dup twin of :func:`corpus_fingerprints`. Persist bucketed by
    ``band`` so successive crawl increments probe it shuffle-free; the
    state is ``bands`` keys per document regardless of document size
    (text and shingles never persist)."""
    return (
        _banded_frame(
            shingle_frame(df, id_col, text_col, shingle_n),
            num_hashes, bands, portable_hash,
        )
        .select("band")
        .distinct()
    )


def incremental_minhash_dedup(
    new_df: DataFrame,
    seen_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    portable_hash: bool = False,
) -> DataFrame:
    """Near-dup gate for a NEW crawl batch against prior snapshots'
    :func:`corpus_band_keys`: any new document sharing ≥1 LSH band
    bucket with the historical corpus is dropped. Band-hit is LSH
    CANDIDATE semantics — with r rows/band the hit probability is
    jaccard^r per band, so false positives exist (tune num_hashes/bands
    exactly as for :func:`minhash_near_duplicates`; persist signatures
    or shingles instead if exact Jaccard gating is required — this
    state-minimal form is the common blocking practice for monthly
    crawl increments, where a rare false drop is cheaper than keeping
    the historical shingle sets online).

    Scale shape: new docs' band keys (bands × 16 bytes each) semi-probe
    the seen set — broadcast when it fits, bucketed join when it does
    not; the historical corpus itself is never read. In-batch near-dups
    among the survivors are a separate, existing concern
    (minhash_near_duplicates → connected_components →
    dedup_by_components)."""
    hits = (
        _banded_frame(
            shingle_frame(new_df, id_col, text_col, shingle_n),
            num_hashes, bands, portable_hash,
        )
        .join(seen_bands.select("band"), "band", "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return new_df.join(hits, id_col, "left_anti")


def corpus_paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document paragraph dedup — every distinct paragraph survives
    ONLY at its first global occurrence (order = (document id, position));
    later repeats — syndicated blurbs, licence blocks, quoted headers —
    are dropped from the rebuilt text. This is Dolma's paragraph-dedup
    mode and RefinedWeb's exact-substring pass at paragraph granularity.

    vs the siblings: ``functions/rulepacks.dedup_paragraphs_from`` is
    intra-document only (zero shuffle); :func:`remove_repeated_lines`
    drops hot lines EVERYWHERE including the first copy (frequency
    semantics); this keeps exactly one canonical copy corpus-wide
    (identity semantics).

    Shape for scale: first-owner resolution is ``groupBy(paragraph
    key).agg(min(struct(id, pos)))`` — a PARTIAL aggregation, so a
    paragraph repeated in millions of documents combines map-side
    instead of flooding one reducer (the ``Window.partitionBy(key)``
    row_number form melts on exactly the hot keys this operator exists
    to kill). The flag join shuffles paragraphs once on their 16-byte
    md5 key (AQE skew-join splits any residual hot key); the rebuild is
    one id shuffle carrying only the document's own paragraphs. At the
    10^12-document regime where even the owner table is expensive,
    ``operators/bloom.py`` gives the approximate variant (drop probable
    repeats, no owner table) — use it when "exactly one copy" may relax.

    Returns (id, text_deduped, n_paras, n_kept); documents with no
    paragraphs come back with empty text and zero counts.
    """
    from soda_core_spark.functions.rulepacks import paragraphs_col

    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(paragraphs_col(F.col(text_col))).alias("pos", "para"),
    ).withColumn("key", F.md5(F.col("para")))
    owner = paras.groupBy("key").agg(
        F.min(F.struct(F.col("id"), F.col("pos"))).alias("first")
    )
    flagged = paras.join(owner, "key").withColumn(
        "is_first",
        (F.col("id") == F.col("first.id")) & (F.col("pos") == F.col("first.pos")),
    )
    kept_struct = F.when(
        F.col("is_first"), F.struct(F.col("pos"), F.col("para"))
    )
    rebuilt = flagged.groupBy("id").agg(
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["para"]
            ),
        ).alias("text_deduped"),
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum(F.col("is_first").cast("long")).alias("n_kept"),
    )
    # paragraph-less documents never reach posexplode; restore them with
    # empty text so the operator is total over its input
    ids = df.select(F.col(id_col).alias("id"))
    out = ids.join(rebuilt, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("text_deduped"), F.lit("")).alias("text_deduped"),
        F.coalesce(F.col("n_paras"), F.lit(0)).cast("long").alias("n_paras"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
    )
    return out


def cluster_size_histogram(
    components: DataFrame,
    all_ids: Optional[DataFrame] = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup-yield report over a (node, component) table — the number
    every dedup run gets asked for first: how big are the duplicate
    clusters, how many documents does each size class hold, and how many
    will the keep-one-survivor policy drop. With ``all_ids`` (the full
    corpus id column) the report also counts singletons — documents in
    no cluster — as the ``cluster_size = 1`` row, so ``sum(n_docs)``
    equals the corpus and ``sum(n_dropped)`` is the exact dedup yield.

    Shape for scale: two partial aggregations (component sizes, then the
    size histogram — second input is |clusters| rows, third is trivial)
    plus one anti-join for singletons; nothing touches document text.
    """
    sizes = components.groupBy("component").agg(
        F.count(F.lit(1)).alias("sz")
    )
    hist = sizes.groupBy("sz").agg(
        F.count(F.lit(1)).alias("n_clusters")
    ).select(
        F.col("sz").cast("long").alias("cluster_size"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
        (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs"),
        ((F.col("sz") - 1) * F.col("n_clusters")).cast("long").alias(
            "n_dropped"
        ),
    )
    if all_ids is None:
        return hist
    singles = (
        all_ids.select(F.col(id_col).alias("node"))
        .join(components.select("node"), "node", "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            F.col("n").cast("long").alias("n_clusters"),
            F.col("n").cast("long").alias("n_docs"),
            F.lit(0).cast("long").alias("n_dropped"),
        )
    )
    return hist.unionByName(singles)


def mirror_hosts(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    host_col: Optional[str] = None,
    min_shared: int = 2,
    min_containment: float = 0.5,
    host_cap: int = 64,
) -> DataFrame:
    """Site-mirror detection: host pairs whose content overlaps so much
    that one is (partly) a copy of the other — CDN mirrors, scraper
    sites, parked duplicates. Exact URL/content dedup misses these when
    each host's *pages* are individually unique URLs; the host-level
    containment |fps(a) ∩ fps(b)| / min(|fps(a)|, |fps(b)|) is the
    standard mirror score (Bharat & Broder, WWW 1999 use the same
    host-pair evidence-counting shape).

    Pipeline: (host, md5(normalized_text)) distinct pairs → per-host
    fingerprint totals (partial agg) → fingerprints shared by 2..
    ``host_cap`` hosts self-join within the fingerprint key → host-pair
    shared counts (partial agg) → containment vs per-host totals.

    Shape for scale: only (host, 16-byte fp) rows ever shuffle — text
    never moves. The self-join is keyed on the fingerprint, so the only
    quadratic hazard is a fingerprint present on MANY hosts (site-chrome
    boilerplate that survived extraction); ``host_cap`` bounds that at
    cap² pairs per fingerprint and drops the unbounded tail, which is
    the correct call: a string on hundreds of hosts is boilerplate, not
    mirror evidence. Results containment is rounded to 6dp so the
    DuckDB oracle compares exactly.

    ``host_col`` names a pre-extracted host column; otherwise the host
    comes from ``url_col`` via ``operators/urls.url_host_col``. NULL
    hosts (unparseable URLs) contribute nothing.
    """
    from soda_core_spark.operators.urls import url_host_col

    host = (
        F.col(host_col) if host_col is not None
        else url_host_col(F.col(url_col))
    )
    hf = (
        df.select(
            host.alias("__host"),
            F.md5(normalized_text(F.col(text_col))).alias("__fp"),
        )
        .where(F.col("__host").isNotNull() & F.col("__fp").isNotNull())
        .distinct()
    )
    totals = hf.groupBy("__host").agg(F.count(F.lit(1)).alias("n_fps"))
    eligible = (
        hf.groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__nh"))
        .where((F.col("__nh") >= 2) & (F.col("__nh") <= host_cap))
        .select("__fp")
    )
    shared = hf.join(eligible, "__fp")
    pairs = (
        shared.alias("a")
        .join(shared.alias("b"), "__fp")
        .where(F.col("a.__host") < F.col("b.__host"))
        .groupBy(
            F.col("a.__host").alias("host_a"),
            F.col("b.__host").alias("host_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
    )
    out = (
        pairs.join(
            totals.select(
                F.col("__host").alias("host_a"),
                F.col("n_fps").alias("n_a"),
            ),
            "host_a",
        )
        .join(
            totals.select(
                F.col("__host").alias("host_b"),
                F.col("n_fps").alias("n_b"),
            ),
            "host_b",
        )
        .withColumn(
            "containment",
            F.round(
                F.col("shared_fps")
                / F.least(F.col("n_a"), F.col("n_b")).cast("double"),
                6,
            ),
        )
        .where(
            (F.col("shared_fps") >= min_shared)
            & (F.col("containment") >= min_containment)
        )
        .select(
            "host_a", "host_b", "shared_fps",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "containment",
        )
    )
    return out


def lsh_recall_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    portable_hash: bool = False,
) -> DataFrame:
    """Dedup-quality audit: the recall of MinHash+LSH banding against
    EXACT shingle-Jaccard ground truth on the same corpus (or a
    deterministic hash sample of it — compose with
    ``sampling.deterministic_hash_sample`` upstream for the 100 TB run).

    Banded MinHash is probabilistic: a true near-dup pair whose
    signatures never collide in any band is silently missed, and the
    miss rate moves with (num_hashes, bands, threshold) in ways the
    S-curve formula only approximates. Production dedup needs the
    measured number ("are we missing 0.1 % or 8 % of dups at these
    parameters?") BEFORE committing a full-corpus pass — this audit is
    that measurement, runnable per-batch as upgrade CI for parameter
    changes.

    Precision needs no audit: both pipelines verify candidates against
    exact Jaccard, so every reported pair is a true pair by
    construction — the only free error mode is recall.

    Returns ONE row: ``n_exact_pairs`` (inverted-index exact pairs ≥
    threshold, posting cap OFF — ground truth must be complete),
    ``n_lsh_pairs``, ``n_missed`` (exact pairs the banding never
    surfaced), ``recall`` (6 dp; 1.0 on a dup-free corpus).

    Shape for scale: both pair sets reuse the library operators
    (inverted-index self-join; hash-once signatures + band join), each
    evaluated ONCE; the audit adds ONE full-outer join on (id_a, id_b)
    with a match marker per side and a 1-row aggregate that counts both
    sets and the exact-only pairs together. The exact side is the
    expensive leg — hence the sample-upstream prescription, which
    preserves an unbiased recall estimate because sampling docs
    uniformly subsamples true pairs."""
    exact = ngram_jaccard_all_pairs(
        df,
        id_col=id_col,
        text_col=text_col,
        n=3,
        threshold=jaccard_threshold,
        max_doc_freq=None,  # ground truth: no posting cap
        hash_shingles=None,  # raw shingle strings join fine at audit scale
    ).selectExpr("id_a", "id_b", "true AS __e")
    lsh = minhash_near_duplicates(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=3,
        jaccard_threshold=jaccard_threshold,
        portable_hash=portable_hash,
    ).selectExpr("id_a", "id_b", "true AS __l")
    # both pair sets are distinct, so the full-outer join is 1:1
    counts = exact.join(lsh, ["id_a", "id_b"], "full_outer").selectExpr(
        "CAST(count(__e) AS BIGINT) AS n_exact_pairs",
        "CAST(count(__l) AS BIGINT) AS n_lsh_pairs",
        "CAST(count_if(__e AND __l IS NULL) AS BIGINT) AS n_missed",
    )
    return counts.selectExpr(
        "n_exact_pairs",
        "n_lsh_pairs",
        "n_missed",
        "CASE WHEN n_exact_pairs > 0 THEN round(1.0D - CAST(n_missed AS "
        "DOUBLE) / CAST(n_exact_pairs AS DOUBLE), 6) ELSE 1.0D END AS recall",
    )


def minhash_calibration(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    portable_hash: bool = False,
) -> DataFrame:
    """MinHash estimator calibration over the banding's own candidate
    pairs: per exact-Jaccard decile bin, the mean signature ESTIMATE
    (matching-component fraction) beside the mean EXACT Jaccard. The
    q116 audit measures which pairs banding *surfaces*; this measures
    whether the signature *statistic* is trustworthy at a given
    ``num_hashes`` — a 16-hash signature estimates J with sd
    ≈ sqrt(J(1−J)/16) ≈ 0.12, and THIS table is the measured version of
    that error bar, the number that justifies (or rejects) using the
    estimate in place of exact verification at scale.

    Returns ``(jaccard_bin, n_pairs, avg_estimate, avg_exact)``, bin =
    min(floor(10·J_exact), 9), both averages at 6 dp.

    Determinism contract (cross-engine exact): the estimate per pair is
    the INTEGER match count k (summed exactly; divided once by
    n·num_hashes at the end), and exact Jaccard aggregates as
    ``round(J·10⁶)`` integers — the q114 integer-sum discipline, so no
    mean ever depends on float summation order. Scale shape: ONE
    ``(id, shl, m0..m{num_hashes-1})`` signature frame
    (:func:`_minhash_mins`) feeds everything — the band keys are built
    over its ``m*`` columns (:func:`_band_candidate_pairs`), and each
    pair side re-attaches its signature vector and shingle array from
    it by one id-join (num_hashes values per side, once per pair).
    Raises ``ValueError`` unless ``1 <= bands <= num_hashes``."""
    base = shingle_frame(df, id_col, text_col, shingle_n)
    mins = _minhash_mins(num_hashes, portable_hash)
    m = [f"m{i}" for i in range(num_hashes)]
    sig = base.selectExpr(
        "id", "shl", *[f"{e} AS {c}" for e, c in zip(mins, m)]
    )
    pairs = _band_candidate_pairs(sig, num_hashes, bands, portable_hash, m)
    sig_a = sig.selectExpr(
        "id AS id_a", "shl AS sh_a", *[f"m{i} AS a{i}" for i in range(num_hashes)]
    )
    sig_b = sig.selectExpr(
        "id AS id_b", "shl AS sh_b", *[f"m{i} AS b{i}" for i in range(num_hashes)]
    )
    j = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    est_k = " + ".join(
        f"CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    jac = _jaccard("sh_a", "sh_b")
    binned = j.select(
        F.least(F.floor(jac * 10), F.lit(9)).cast("long").alias("jaccard_bin"),
        F.expr(f"CAST({est_k} AS BIGINT)").alias("__k"),
        F.round(jac * F.lit(1000000.0)).cast("long").alias("__j6"),
    )
    agg = binned.groupBy("jaccard_bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("__k").alias("__sk"),
        F.sum("__j6").alias("__sj"),
    )
    return agg.select(
        "jaccard_bin",
        "n_pairs",
        F.round(
            F.col("__sk").cast("double")
            / (F.col("n_pairs") * num_hashes).cast("double"),
            6,
        ).alias("avg_estimate"),
        F.round(
            F.col("__sj").cast("double")
            / F.col("n_pairs").cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("avg_exact"),
    )


def boilerplate_ngrams(
    df: DataFrame,
    n: int = 8,
    min_doc_frequency: int = 3,
    top: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide exact n-token shingle census: the shingles that recur
    across the MOST documents — cookie banners, nav bars, license
    blurbs, chain letters — i.e. the boilerplate that motivates exact
    substring deduplication (Lee et al. 2022, arXiv:2107.06499: memorized
    duplicated spans dominate LM regurgitation). The census is the
    DISCOVERY step: it tells you what to feed the span-removal pass
    (``trim_repeated_spans``) and how much mass each boilerplate string
    holds.

    Returns up to ``top`` rows ``(ngram, doc_frequency)`` with
    ``doc_frequency >= min_doc_frequency``, ordered (doc_frequency desc,
    ngram) — a deterministic bounded report, not a corpus-sized frame.

    Shape for scale: shingles are built per row with pure array algebra
    (tokenize once, ``transform`` over start positions, ``slice`` +
    ``concat_ws``), deduplicated WITHIN the document (``array_distinct``
    — doc frequency counts each document once) BEFORE the explode, so
    the shuffle carries distinct (gram, doc) pairs only; the groupBy is
    partial-aggregated and the final report is a bounded TakeOrdered.
    At extreme scale, pre-hash grams to 64-bit for the count pass and
    re-join the top hashes for display — same two-pass trade as the
    paragraph-dedup key path."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")

    toks = words_col(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    t = F.col("__toks")
    # guard: sequence(1, 0) DESCENDS in Spark (step defaults to -1 when
    # start > stop), so a doc shorter than n tokens must yield [] here,
    # not [1, 0] (which would slice from index 0 and throw)
    starts = F.when(
        F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.array_distinct(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(t, i, n)))
    )
    pairs = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(F.explode(grams).alias("ngram"))
    )
    return (
        pairs.groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_frequency"))
        .where(F.col("doc_frequency") >= int(min_doc_frequency))
        .orderBy(F.col("doc_frequency").desc(), F.col("ngram"))
        .limit(int(top))
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 1,
    max_doc_freq: int | None = 1000,
    hash: str = "xxhash64",
) -> DataFrame:
    """Winnowing local fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): per document, hash every
    ``k``-token gram, slide a ``w``-hash window over the gram-hash
    stream, keep each window's MINIMUM, and join documents on shared
    selected fingerprints. The property MinHash/SimHash can't offer:
    a GUARANTEE — any common token run of length ≥ ``w + k - 1`` shares
    at least one selected fingerprint (every length-w window inside the
    run selects from the same hash stream), while only ~``2/(w+1)`` of
    positions are ever stored. MinHash answers "are these documents
    similar overall?"; winnowing answers "do they share any passage
    longer than t?" — the plagiarism / license-text / quote-detection
    primitive, positional and whole-doc-size-independent.

    Documents shorter than ``w + k - 1`` tokens still emit one
    fingerprint (the minimum over their full hash stream) so short
    exact duplicates remain joinable; token-less documents emit none.

    ``max_doc_freq`` is the standard posting cap (see
    :func:`ngram_jaccard_all_pairs`): a fingerprint in f documents
    creates f² join rows, and a boilerplate fingerprint across 10^8
    pages is a join bomb — capped postings drop out of the pair join
    (lowering shared counts for pairs that relied on them), pass
    ``None`` for exact/oracle runs on bounded corpora. ``hash``:
    ``"xxhash64"`` (production) or ``"portable"`` (md5-derived 60-bit,
    engine-reproducible — oracle parity INCLUDING collisions).

    Shape for scale: gram hashing is a linear posexplode (no per-doc
    arrays on the heap — a 10^6-token page is 10^6 rows, not one 8 MB
    array element); window minima via ONE window function partitioned
    by doc id (shuffle key uniform, per-group size bounded by document
    length, never corpus size); the pair stage is the inverted-index
    self-join on selected fingerprints with the cap. Returns
    ``(doc_a, doc_b, shared_fps, fp_a, fp_b, containment)`` where
    ``containment = shared / min(fp_a, fp_b)``, ordered by the pair.
    """
    if k < 1 or w < 1:
        raise ValueError("winnow_fingerprints: k and w must be >= 1")
    from pyspark.sql import Window

    t = F.coalesce(F.col(text_col), F.lit(""))
    # one tokenization per row (shingle_frame rationale — the inline
    # form re-split the text per k-gram window inside the transform
    # lambda); outer posexplode keeps InferFiltersFromGenerate from
    # inlining the gram pipeline into a scan filter; the NULL row an
    # empty array emits is removed by the explicit isnotnull below
    # (a filter on the GENERATOR OUTPUT stays above the Generate)
    step = _spread(df).select(
        F.col(id_col).alias("id"), _words_of(t).alias("__w")
    )
    wq = F.col("__w")
    m = F.size(wq)
    grams = F.when(
        m >= k,
        F.transform(
            F.sequence(F.lit(1), m - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(wq, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hx = (
        step.select("id", grams.alias("g"))
        .select("id", F.posexplode_outer("g").alias("pos", "gram"))
        .where(F.col("gram").isNotNull())
    )
    if hash == "portable":
        hx = hx.select("id", "pos", portable_token_hash(F.col("gram")).alias("h"))
    elif hash == "xxhash64":
        hx = hx.select("id", "pos", F.xxhash64("gram").alias("h"))
    else:
        raise ValueError(f"winnow_fingerprints: unknown hash {hash!r}")
    frame = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    per_doc = Window.partitionBy("id")
    sel = (
        hx.withColumn("wmin", F.min("h").over(frame))
        .withColumn("mg", F.count(F.lit(1)).over(per_doc))
        .where(
            (F.col("pos") <= F.col("mg") - w)
            | ((F.col("mg") < w) & (F.col("pos") == 0))
        )
    )
    fps = sel.select("id", F.col("wmin").alias("fp")).distinct()
    # per-doc totals ride along as a window count (already partitioned by
    # the distinct's shuffle) instead of a separate aggregate branch +
    # two joins back; the posting filter mirrors ngram_jaccard's freq join
    fps = fps.withColumn(
        "nfp", F.count(F.lit(1)).over(Window.partitionBy("id")).cast("long")
    )
    freq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("nd"))
    cand = fps.join(freq, "fp").where(F.col("nd") >= 2)
    if max_doc_freq is not None:
        cand = cand.where(F.col("nd") <= int(max_doc_freq))
    cand = cand.drop("nd")
    a, b = cand.alias("a"), cand.alias("b")
    shared = F.col("shared_fps")
    return (
        a.join(b, "fp")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared_fps"),
            F.max(F.col("a.nfp")).alias("fp_a"),
            F.max(F.col("b.nfp")).alias("fp_b"),
        )
        .where(shared >= int(min_shared))
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            "fp_a",
            "fp_b",
            F.round(
                shared.cast("double")
                / F.least(F.col("fp_a"), F.col("fp_b")).cast("double"),
                6,
            ).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


def levenshtein_verify_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = "lang",
    prefix_len: int = 16,
    trunc: int = 200,
    max_block: int = 50,
    min_similarity: float = 0.8,
) -> DataFrame:
    """Edit-distance VERIFICATION of blocked near-duplicate candidates —
    the exact pass every LSH pipeline needs after candidate generation
    (MinHash/SimHash answer "probably similar"; shipping a dedup decision
    wants "provably within edit budget"). Candidates are generated by
    deterministic blocking, never all-pairs: block key =
    (``group_col``, first ``prefix_len`` chars of the whitespace-normalized
    lowered text); blocks are capped at ``max_block`` members (lowest ids
    kept — a bounded window per block, not a global sort), so per-block
    work is at most C(max_block, 2) pairs regardless of corpus size.

    Per pair, Levenshtein distance is computed over the UTF-8 BYTES of the
    first ``trunc`` code points (byte-level matches DuckDB/RE2 semantics,
    making the oracle exact for non-ASCII too) in an Arrow-batched pandas
    UDF using the vectorized two-row DP (``np.minimum.accumulate`` resolves
    the in-row dependency), O(len_a) vector ops per row — no per-cell
    Python. A length prefilter runs JVM-side BEFORE the UDF:
    ``|len_a - len_b| <= (1 - min_similarity) * max(len_a, len_b)`` is a
    lower bound on distance, so pairs it rejects never reach Python.

    Similarity = 1 - lev / max(byte_len_a, byte_len_b, 1), rounded 6 dp;
    pairs below ``min_similarity`` are dropped. Returns
    ``(doc_a, doc_b, lev, similarity)``.

    Scale shape: one bounded window (block cap), one equi-join on block
    key (AQE-skewable), Arrow batch UDF over the surviving pairs only.
    Reference parity: soda-core has no row-pair operator at all — its
    duplicate machinery is count-only (duplicate_check.py:58-343); this is
    the training-pipeline extension stage.
    """
    import numpy as np  # noqa: F401  (used in the UDF closure)
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    if not 0.0 < min_similarity <= 1.0:
        raise ValueError(f"min_similarity must be in (0,1]: {min_similarity}")
    norm = normalized_text(F.coalesce(F.col(text_col), F.lit("")))
    key_cols = [F.col(group_col)] if group_col else []
    blocked = df.select(
        F.col(id_col).alias("__id"),
        *([F.col(group_col)] if group_col else []),
        F.substring(norm, 1, int(prefix_len)).alias("__blk"),
        F.substring(norm, 1, int(trunc)).alias("__body"),
    )
    w = Window.partitionBy(*key_cols, "__blk").orderBy("__id")
    capped = (
        blocked.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= int(max_block))
        .drop("__rn")
        .withColumn("__blen", F.octet_length(F.col("__body")))
    )
    a = capped.select(
        *[F.col(c).alias(f"a_{c}") for c in ([group_col] if group_col else [])],
        F.col("__blk").alias("a_blk"),
        F.col("__id").alias("doc_a"),
        F.col("__body").alias("body_a"),
        F.col("__blen").alias("len_a"),
    )
    b = capped.select(
        *[F.col(c).alias(f"b_{c}") for c in ([group_col] if group_col else [])],
        F.col("__blk").alias("b_blk"),
        F.col("__id").alias("doc_b"),
        F.col("__body").alias("body_b"),
        F.col("__blen").alias("len_b"),
    )
    join_cond = F.col("a_blk") == F.col("b_blk")
    if group_col:
        join_cond = join_cond & (F.col(f"a_{group_col}") == F.col(f"b_{group_col}"))
    pairs = a.join(b, join_cond).where(F.col("doc_a") < F.col("doc_b"))
    # exact prefilter: |len_a - len_b| <= lev, so any pair failing the
    # length budget can never reach min_similarity — rejected JVM-side
    budget = (F.lit(1.0) - F.lit(float(min_similarity))) * F.greatest(
        F.col("len_a"), F.col("len_b")
    ).cast("double")
    pairs = pairs.where(
        F.abs(F.col("len_a") - F.col("len_b")).cast("double") <= budget
    )

    @pandas_udf("long")
    def _lev(sa, sb):
        import numpy as np

        out = np.empty(len(sa), dtype=np.int64)
        for i, (x, y) in enumerate(zip(sa, sb)):
            xb = x.encode("utf-8")
            yb = y.encode("utf-8")
            if xb == yb:
                out[i] = 0
                continue
            if not xb or not yb:
                out[i] = len(xb) or len(yb)
                continue
            if len(xb) > len(yb):  # iterate over the longer, vector = shorter
                xb, yb = yb, xb
            bv = np.frombuffer(yb, dtype=np.uint8)
            n = len(bv)
            idx = np.arange(n + 1, dtype=np.int64)
            prev = idx.copy()
            wbuf = np.empty(n + 1, dtype=np.int64)
            for r, ca in enumerate(xb, 1):
                # wbuf[j] = min(prev[j] + 1, prev[j-1] + (ca != b[j-1]))
                np.add(prev, 1, out=wbuf)
                sub = prev[:-1] + (bv != ca)
                np.minimum(wbuf[1:], sub, out=wbuf[1:])
                wbuf[0] = r
                # resolve cur[j] = min(cur[j-1] + 1, wbuf[j]) via the
                # accumulate trick: min_k<=j (wbuf[k] + j - k)
                prev = np.minimum.accumulate(wbuf - idx) + idx
                wbuf = np.empty(n + 1, dtype=np.int64)
            out[i] = prev[n]
        return pd.Series(out)

    # asNondeterministic stops Catalyst inlining the UDF into BOTH the
    # similarity filter and the output projection (two ArrowEvalPython
    # nodes = every surviving pair pays the DP twice); the function is
    # pure, the marker is purely an anti-duplication fence, and the
    # filter was already fully applied above the UDF either way.
    lev = _lev.asNondeterministic()(F.col("body_a"), F.col("body_b"))
    sim = F.round(
        F.lit(1.0)
        - F.col("lev").cast("double")
        / F.greatest(F.col("len_a"), F.col("len_b"), F.lit(1)).cast("double"),
        6,
    )
    return (
        pairs.withColumn("lev", lev)
        .withColumn("similarity", sim)
        .where(F.col("similarity") >= F.lit(float(min_similarity)))
        .select("doc_a", "doc_b", "lev", "similarity")
    )


def cross_source_duplication(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    max_sources_per_fp: int = 64,
) -> DataFrame:
    """Cross-source duplicate-share matrix: for every pair of sources,
    how many distinct exact-duplicate fingerprints they SHARE, plus each
    side's share of its own fingerprint inventory. The provenance
    question mixture planners ask before weighting sources: if source B
    is 80 % contained in source A, upweighting both double-counts A.
    Whole-corpus exact dedup (:func:`exact_dedup`) answers "which rows
    survive"; this answers "which sources are copies of each other".

    Plan: distinct (source, fp) — ONE shuffle carrying at most
    |sources x distinct fps| rows (md5 fingerprints of normalized text,
    oracle-portable) -> self-join on fp -> count per ordered pair.
    Fingerprints present in more than ``max_sources_per_fp`` sources are
    dropped before the self-join (a boilerplate string shared by every
    source would otherwise fan out |sources|^2 per fp — the cap bounds
    the quadratic term exactly like :func:`mirror_hosts`' host_cap, and
    universal boilerplate carries no pairing signal anyway).

    Returns ``(source_a, source_b, shared_fps, fps_a, fps_b,
    overlap_a, overlap_b)`` for source_a < source_b with shared_fps >= 1;
    overlap_x = shared/fps_x rounded 6 dp.
    """
    fp = F.md5(normalized_text(F.coalesce(F.col(text_col), F.lit(""))))
    sfp = (
        df.select(F.col(source_col).alias("src"), fp.alias("fp"))
        .distinct()
    )
    hot = sfp.groupBy("fp").agg(F.count(F.lit(1)).alias("nsrc"))
    sfp = (
        sfp.join(F.broadcast(hot.where(F.col("nsrc") > int(max_sources_per_fp))
                             .select("fp").withColumn("__hot", F.lit(True))),
                 "fp", "left")
        .where(F.col("__hot").isNull())
        .drop("__hot")
    )
    tot = sfp.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("nfp"))
    a = sfp.select(F.col("src").alias("source_a"), "fp")
    b = sfp.select(F.col("src").alias("source_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
    )
    ta = tot.select(F.col("src").alias("source_a"), F.col("nfp").alias("fps_a"))
    tb = tot.select(F.col("src").alias("source_b"), F.col("nfp").alias("fps_b"))
    return (
        pairs.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_fps",
            "fps_a",
            "fps_b",
            F.round(
                F.col("shared_fps").cast("double") / F.col("fps_a").cast("double"), 6
            ).alias("overlap_a"),
            F.round(
                F.col("shared_fps").cast("double") / F.col("fps_b").cast("double"), 6
            ).alias("overlap_b"),
        )
    )


def bag_fingerprint_classes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_class_size: int = 2,
    max_ids: int = 20,
) -> DataFrame:
    """Order-insensitive duplicate classes: documents whose token
    MULTISETS are identical (same words, same counts, any order) share
    a bag fingerprint — md5 over the space-joined SORTED token array.
    Catches the reorder family exact dedup misses by construction:
    shuffled paragraphs, alphabetized link farms, template fields
    rendered in different orders. Sorting the full token array (not the
    distinct set) keeps repetition counts in the identity, so
    "buy buy now" != "buy now now".

    Pure expression pipeline — split/sort_array/array_join/md5, zero
    Python — then the narrow (fingerprint, id) frame is repartitioned
    by fingerprint ONCE and BOTH consumers aggregate in place on that
    shared exchange (AQE ReuseExchange; hashpartitioning(bag_fp)
    satisfies each clustering): class size + survivor from one
    groupBy, the id sample from a rank-``max_ids`` window, and their
    join inherits the partitioning with no further exchange. One
    corpus scan, one compact shuffle — md5 over the sorted token
    array (the expensive bit) is computed exactly once, and the
    windowed rank caps the sample so a pathological million-member
    class never materializes a giant collect_list buffer.

    Returns ``(bag_fp, n_docs, survivor_id, sample_ids)`` for classes
    of ``min_class_size``+ members, ordered by bag_fp; sample_ids is
    sorted ascending and capped at ``max_ids``.
    """
    from pyspark.sql import Window

    toks = _words_of(F.coalesce(F.col(text_col), F.lit("")))
    fp = F.md5(F.array_join(F.sort_array(toks), " "))
    keyed = df.select(fp.alias("bag_fp"), F.col(id_col).alias("__id")).repartition(
        F.col("bag_fp")
    )
    classes = (
        keyed.groupBy("bag_fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("__id").alias("survivor_id"),
        )
        .where(F.col("n_docs") >= int(min_class_size))
    )
    w = Window.partitionBy("bag_fp").orderBy("__id")
    sample = (
        keyed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= int(max_ids))
        .groupBy("bag_fp")
        .agg(F.sort_array(F.collect_list("__id")).alias("sample_ids"))
    )
    return classes.join(sample, "bag_fp").orderBy("bag_fp")


def soft_dedup_weights(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SoftDedup-style training weights: keep EVERY document, but weight
    each by the inverse size of its exact-duplicate class, so a text
    duplicated a million times contributes one epoch-equivalent to
    training instead of a million (Xue et al., ACL 2024 "SoftDedup" —
    reweighting beats dropping when duplicates carry sampling signal;
    this is the exact-duplicate special case of their commonness score).

    Per document::

        doc_id
        n_copies: bigint          -- exact-class size (>= 1)
        weight: double            -- 1 / n_copies, 6 dp
        n_tokens: bigint          -- BPE-ish token count (q32 convention)
        effective_tokens: double  -- n_tokens * weight, 6 dp: what this
                                     doc adds to the dedup-adjusted
                                     token budget

    NULL text folds to '' so every row gets a weight (NULL fingerprints
    would silently drop rows at the join on both engines).

    Plan: class sizes come from a map-side-combined groupBy on the
    16-byte fingerprint — immune to a giant duplicate class, the
    combiner collapses it per partition — then ONE shuffle join back on
    the fingerprint. Deliberately NOT a count-over-window: an unbounded
    window over the class key materializes the whole hot class in one
    task, while the join's hot key is AQE-skew-splittable. Only
    (fingerprint, id, token-count) columns ever shuffle; text is pruned
    at both scans. soda-core analogue: duplicate_count check
    (soda-core/src/soda_core/contracts/impl/check_types/duplicate_check.py),
    inverted from drop-audit to keep-and-reweight."""
    from soda_core_spark.functions.text import token_count_bpe_ish

    text = F.coalesce(F.col(text_col), F.lit(""))
    fp = F.md5(normalized_text(text))
    base = df.select(
        F.col(id_col),
        fp.alias("__fp"),
        token_count_bpe_ish(text).cast("long").alias("n_tokens"),
    )
    counts = (
        df.select(fp.alias("__fp"))
        .groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("n_copies"))
    )
    return base.join(counts, "__fp").select(
        id_col,
        "n_copies",
        F.round(F.lit(1.0) / F.col("n_copies"), 6).alias("weight"),
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.col("n_copies"), 6
        ).alias("effective_tokens"),
    )


def clustering_agreement(
    df: DataFrame, label_a: str, label_b: str
) -> DataFrame:
    """Agreement between two corpus partitionings — adjusted Rand index
    (Hubert & Arabie 1985) and normalized mutual information — the
    dedup-policy comparison tool: run two labelings (exact-text classes
    vs bag-of-tokens classes, LSH clusters at two thresholds, old vs
    new canonicalization) and measure how much they actually disagree
    before shipping the cheaper/stricter one.

    One row::

        n: bigint                     -- co-labeled rows compared
        clusters_a, clusters_b: bigint
        ari: double (6 dp)            -- 1 = identical partitions,
                                         ~0 = chance agreement; 1.0 by
                                         convention when both
                                         partitions are trivial
                                         (denominator 0 forces
                                         numerator 0)
        nmi: double (6 dp)            -- MI / sqrt(H_a·H_b); NULL when
                                         either clustering has zero
                                         entropy

    Exactness: pair counts never enumerate pairs — everything reduces
    to the CONTINGENCY grain (label_a, label_b, count), and all Rand
    terms are the integer sums Σx(x-1) (the doubled pair counts; the
    scaling cancels in the ratio), so both engines agree exactly with
    doubles only in the final divisions (exact to class sizes ~3·10⁹
    before x(x-1) leaves int64). NMI's p·ln p sums are the one
    order-sensitive float reduction — 6 dp rounding absorbs ulp drift
    (the q112/q159 precedent).

    Scale shape: one corpus groupBy to the contingency grain
    (map-side combined), marginals re-aggregated FROM that grain (no
    second corpus scan), two grain-level joins for the MI terms. Rows
    where either label is NULL are excluded. soda-core analogue: none —
    the dedup-policy governance layer."""
    base = df.select(
        F.col(label_a).alias("__a"), F.col(label_b).alias("__b")
    ).where(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    cont = base.groupBy("__a", "__b").agg(
        F.count(F.lit(1)).cast("long").alias("__nij")
    )
    ma = cont.groupBy("__a").agg(F.sum("__nij").alias("__ai"))
    mb = cont.groupBy("__b").agg(F.sum("__nij").alias("__bj"))
    x = F.col("__nij")
    cell_sums = cont.agg(
        F.coalesce(F.sum(x), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.sum(x * (x - 1)), F.lit(0)).cast("long").alias("__sij"),
    )
    a_sums = ma.agg(
        F.count(F.lit(1)).cast("long").alias("clusters_a"),
        F.sum(F.col("__ai") * (F.col("__ai") - 1)).cast("long").alias("__sa"),
    )
    b_sums = mb.agg(
        F.count(F.lit(1)).cast("long").alias("clusters_b"),
        F.sum(F.col("__bj") * (F.col("__bj") - 1)).cast("long").alias("__sb"),
    )
    nd = F.col("n").cast("double")
    mi_cell = (
        x.cast("double")
        / nd
        * F.log(
            nd
            * x.cast("double")
            / (F.col("__ai").cast("double") * F.col("__bj").cast("double"))
        )
    )
    # grain-level joins only; n arrives via a 1-row broadcast
    mi = (
        cont.join(ma, "__a")
        .join(mb, "__b")
        .crossJoin(F.broadcast(cell_sums.select("n")))
        .agg(F.sum(mi_cell).alias("__mi"))
    )
    ha = ma.crossJoin(F.broadcast(cell_sums.select("n"))).agg(
        F.sum(
            -(F.col("__ai").cast("double") / nd)
            * F.log(F.col("__ai").cast("double") / nd)
        ).alias("__ha")
    )
    hb = mb.crossJoin(F.broadcast(cell_sums.select("n"))).agg(
        F.sum(
            -(F.col("__bj").cast("double") / nd)
            * F.log(F.col("__bj").cast("double") / nd)
        ).alias("__hb")
    )
    j = (
        cell_sums.crossJoin(a_sums)
        .crossJoin(b_sums)
        .crossJoin(mi)
        .crossJoin(ha)
        .crossJoin(hb)
    )
    exp = (
        F.col("__sa").cast("double")
        * F.col("__sb").cast("double")
        / (nd * (F.col("n") - 1).cast("double"))
    )
    denom = (
        (F.col("__sa") + F.col("__sb")).cast("double") / 2.0 - exp
    )
    ari = F.when(denom != 0.0, (F.col("__sij").cast("double") - exp) / denom)
    ari = F.when(F.col("n") >= 2, F.coalesce(ari, F.lit(1.0)))
    nmi = F.when(
        (F.col("__ha") > 0) & (F.col("__hb") > 0),
        F.col("__mi") / F.sqrt(F.col("__ha") * F.col("__hb")),
    )
    return j.select(
        "n",
        "clusters_a",
        "clusters_b",
        F.round(ari, 6).alias("ari"),
        F.round(nmi, 6).alias("nmi"),
    )


def dedup_design_effect(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    scale: int = 10**6,
) -> DataFrame:
    """Effective sample size and design effect per source under
    SoftDedup weights (Kish 1965: ESS = (Σw)²/Σw², deff = n/ESS) — the
    statistical honesty check on corpus size: a source whose pages are
    massively duplicated (within itself OR mirrored elsewhere — class
    sizes are CORPUS-global) contributes far fewer effective documents
    than its row count claims, and every per-source metric's real
    precision scales with ESS, not n.

    One row per source::

        group, n_docs: bigint
        n_classes: bigint      -- distinct duplicate classes touched
        ess: double (6 dp)     -- Kish effective sample size
        deff: double (6 dp)    -- n / ESS, 1 = no duplication penalty
        eff_fraction: double   -- ESS / n, 6 dp

    Determinism: weights are the INTEGER floor(scale/k) per doc (k =
    global exact-duplicate class size) — floor of the same IEEE
    division on both engines — so Σw and Σw² are exact integer
    aggregates; doubles appear only in the final ratios. ``scale`` =
    10⁶ bounds Σw² within int64 to ~10⁶-deep classes and ~10⁶ docs per
    (source, class) cell; classes duplicated beyond ``scale`` floor to
    weight 0 (they contribute ~nothing to ESS anyway — documented
    trade).

    Scale shape: one groupBy to (source, fp, m) grain and one groupBy
    to global class sizes (both map-side combined, built from the SAME
    fingerprint projection), a grain-level join, then a per-source
    reduce. The hot class is AQE-skew-splittable at the join; no
    window. soda-core analogue: duplicate_percent check
    (duplicate_check.py), upgraded from a rate to the precision
    penalty it implies."""
    fp = F.md5(normalized_text(F.coalesce(F.col(text_col), F.lit(""))))
    keyed = df.select(F.col(group_col).alias("group"), fp.alias("__fp"))
    grain = keyed.groupBy("group", "__fp").agg(
        F.count(F.lit(1)).cast("long").alias("__m")
    )
    classes = keyed.groupBy("__fp").agg(
        F.count(F.lit(1)).cast("long").alias("__k")
    )
    w = F.floor(F.lit(float(scale)) / F.col("__k").cast("double"))
    j = grain.join(classes, "__fp").select(
        "group",
        "__m",
        w.alias("__w"),
    )
    agg = j.groupBy("group").agg(
        F.sum("__m").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum(F.col("__m") * F.col("__w")).cast("long").alias("__sw"),
        F.sum(F.col("__m") * F.col("__w") * F.col("__w"))
        .cast("long")
        .alias("__sw2"),
    )
    sw = F.col("__sw").cast("double")
    sw2 = F.col("__sw2").cast("double")
    ess = F.when(F.col("__sw2") > 0, sw * sw / sw2)
    return agg.select(
        "group",
        "n_docs",
        "n_classes",
        F.round(ess, 6).alias("ess"),
        F.round(F.col("n_docs").cast("double") / ess, 6).alias("deff"),
        F.round(ess / F.col("n_docs").cast("double"), 6)
        .alias("eff_fraction"),
    ).orderBy("group")


def prefix_filter_jaccard(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """EXACT all-pairs shingle-Jaccard join via prefix filtering
    (Chaudhuri/Ganti/Kaushik ICDE'06; Xiao et al. PPJoin, WWW'08) —
    the lossless scalable alternative to q33's crude blocking and the
    exact ground truth MinHash banding approximates: two sets with
    Jaccard ≥ t MUST share a shingle inside each other's first
    ``s − ⌈t·s⌉ + 1`` rarest shingles, so only prefix collisions are
    ever verified — no all-pairs step anywhere.

    Output: ``id_a < id_b`` with exact ``jaccard`` (6 dp) ≥ threshold,
    plus both set sizes.

    Pipeline (all DataFrame ops):
      1. distinct n-shingles per doc, document frequency per shingle;
      2. each doc's shingles re-sorted rarest-first (join on shingle +
         per-doc array rebuild — no global rank window);
      3. prefix explode → self-join on shingle + size filter
         (t·s_a ≤ s_b ≤ s_a/t), distinct candidate pairs;
      4. exact verify on the full arrays (:func:`_attach_shingles`,
         :func:`_jaccard` — the verify step of the MinHash path).
    The ⌈t·s⌉ terms subtract 1e-9 before ceil so float representation
    of t can only ENLARGE a prefix/window (more candidates, never a
    missed pair — losslessness survives floating point).

    Scale shape: shuffles on shingle (df counts + candidate join) and
    on doc id (array rebuild + verify) only; candidate volume is
    Σ_prefix-shingle df², the quantity prefix filtering exists to
    minimize — rarest-first ordering puts the smallest df in every
    prefix. Skewed hot shingles are the residual risk: AQE skew-join
    plus (at 100 TB) a df cap that shunts ubiquitous shingles out of
    prefixes entirely (they cannot be discriminative)."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold in (0, 1], got {threshold}")
    # shingle_frame: one tokenization per row, and its text pre-filter
    # (trimmed length > 0) is exactly the former size(sh) > 0 guard —
    # a doc has ≥ 1 shingle iff it has ≥ 1 word iff its trimmed text
    # is non-empty
    docs = shingle_frame(df, id_col, text_col, n)
    # duplicate-id policy: a document's shingle set is the distinct
    # UNION over all rows sharing the id (byte-identical replica rows
    # collapse to one set; without this, replicas double df counts and
    # fan out the verify join)
    tok = docs.select("id", F.explode_outer("shl").alias("s")).distinct()
    dfreq = tok.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    # rarest-first per-doc order, deterministic tiebreak on shingle
    ordered = (
        tok.join(dfreq, "s")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("df", "s"))
                ),
                lambda x: x["s"],
            ).alias("sh"),
            F.count(F.lit(1)).cast("long").alias("sz"),
        )
    )
    t = float(threshold)
    prefix_len = (
        F.col("sz")
        - F.ceil(F.col("sz").cast("double") * t - 1e-9).cast("long")
        + 1
    )
    pre = ordered.select(
        "id", "sz",
        F.explode(F.slice("sh", 1, prefix_len)).alias("s"),
    )
    a = pre.select(
        F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), "s"
    )
    b = pre.select(
        F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "s"
    )
    cand = (
        a.join(b, "s")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_b")
               >= F.ceil(F.col("sz_a").cast("double") * t - 1e-9))
            & (F.col("sz_b").cast("double")
               <= F.col("sz_a").cast("double") / t + 1e-9)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # the rebuilt rarest-first arrays ARE the full distinct sets —
    # set-intersection/union don't care about order, and reusing them
    # avoids a second scan of the raw docs
    return (
        _attach_shingles(cand, ordered, "sh")
        .select(
            "id_a", "id_b",
            F.size("sh_a").cast("long").alias("size_a"),
            F.size("sh_b").cast("long").alias("size_b"),
            F.round(_jaccard("sh_a", "sh_b"), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= t)
        .orderBy("id_a", "id_b")
    )
