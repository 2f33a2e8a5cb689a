"""Document chunking for context-window training: split each document
into overlapping token windows (chunk_size tokens, advancing by stride).

The standard pre-tokenization step of an LLM data pipeline — long pages
become multiple training sequences, short pages one. Pure column algebra:
tokenize once, compute the start-position sequence arithmetically, explode
(one row per chunk), slice+join per chunk. Linear in corpus token count;
no shuffle at all (explode is per-row), so it composes with the filter
pipeline's shuffle-free row stage.

soda-core has no notion of chunking; this is a training-pipeline extension
(north rule: operations a large-scale training-data pipeline needs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from soda_core_spark.functions.text import words_col


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 512,
    stride: int = 384,
) -> DataFrame:
    """(id, chunk_idx, n_tokens, chunk_text) — word-token windows.

    ``stride`` < ``chunk_size`` gives overlapping windows (the overlap is
    ``chunk_size - stride``); the final window covers the document tail
    and may be shorter. Token-less documents yield no chunks. Chunk
    count: 1 if k ≤ chunk_size else 1 + ceil((k − chunk_size)/stride) —
    all integer arithmetic, reproducible in any engine.
    """
    if not 0 < stride <= chunk_size:
        raise ValueError("need 0 < stride <= chunk_size")
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = words_col(t)
    base = df.select(F.col(id_col).alias("id"), words.alias("__w"))
    k = F.size(F.col("__w"))
    n_chunks = F.when(k <= 0, F.lit(0)).when(k <= chunk_size, F.lit(1)).otherwise(
        (F.lit(1) + F.floor((k - F.lit(chunk_size) + F.lit(stride) - 1) / F.lit(stride)))
        .cast("int")
    )
    starts = F.when(
        n_chunks > 0,
        F.sequence(F.lit(0), (n_chunks - 1) * F.lit(stride), F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    ex = base.select("id", "__w", F.posexplode(starts).alias("chunk_idx", "start"))
    chunk_words = F.slice(F.col("__w"), F.col("start") + 1, chunk_size)
    return ex.select(
        F.col("id").alias(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(chunk_words).cast("long").alias("n_tokens"),
        F.concat_ws(" ", chunk_words).alias("chunk_text"),
    )


def chain_fragments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    max_fp_docs: int = 64,
) -> DataFrame:
    """Reconstruct continuation order in a corpus of text FRAGMENTS:
    emit a directed edge (prev_id -> next_id) whenever the LAST ``k``
    tokens of one fragment equal the FIRST ``k`` tokens of another —
    exactly the boundary that overlap-chunking (``chunk_documents``
    with stride < chunk_size) leaves behind. The inverse operator of
    chunking: given a shuffled shard of overlapped context windows,
    the edges recover adjacency (and catch cross-document boilerplate
    splices, which appear as high-fan-out boundary fingerprints).

    Fragments shorter than ``k`` tokens emit neither endpoint (a
    shorter head can never equal a k-token tail). Boundary
    fingerprints occurring in more than ``max_fp_docs`` fragments on
    either side are dropped before the join — a shared k-token
    header/footer would otherwise fan out quadratically, and carries
    no ordering signal (same cap discipline as the LSH band and
    mirror-host joins). Self-loops are excluded.

    Plan: ONE corpus scan computes both endpoint fingerprints (md5
    over the space-joined k-token slice — pure expressions, zero
    Python) and explodes them into a narrow (fp, kind, id) endpoint
    frame repartitioned by fp ONCE. Both later consumers — the
    per-(fp, kind) frequency gate and the pairing aggregate — read
    that single fingerprint-grain exchange (AQE ReuseExchange, pinned
    in test_plan_shape.py), and both aggregate IN PLACE because
    hashpartitioning(fp) already satisfies their clustering. Pairing
    happens inside one groupBy(fp): per-side id lists are collected
    only AFTER the hot gate (so each buffer is bounded by
    ``max_fp_docs``) and the tail x head cross product explodes from
    those bounded arrays — no second corpus-grain join at all. A
    per-side naive form re-scans the text and recomputes md5 4x;
    shuffling ~50-byte fingerprint rows once beats re-reading a
    100 TB text column four times. Returns
    ``(prev_id, next_id, boundary_fp)``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = words_col(F.coalesce(F.col(text_col), F.lit("")))
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__w")).where(
        F.size(F.col("__w")) >= int(k)
    )
    head_fp = F.md5(F.array_join(F.slice(F.col("__w"), 1, int(k)), " "))
    tail_fp = F.md5(F.array_join(F.slice(F.col("__w"), -int(k), int(k)), " "))
    # explicit isNotNull on both columns: the hot-gate left join pushes
    # join-key not-null filters into ITS copy of this subtree only;
    # carrying them here keeps both consumers' canonicalized subtrees
    # identical so the repartition exchange is reused (one scan)
    ep = (
        base.select(
            F.col("__id"),
            F.explode(
                F.array(
                    F.struct(F.lit("h").alias("kind"), head_fp.alias("fp")),
                    F.struct(F.lit("t").alias("kind"), tail_fp.alias("fp")),
                )
            ).alias("__e"),
        )
        .select("__id", F.col("__e.kind").alias("kind"), F.col("__e.fp").alias("fp"))
        .where(F.col("fp").isNotNull() & F.col("kind").isNotNull())
        .repartition(F.col("fp"))
    )
    hot = (
        ep.groupBy("fp", "kind")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > int(max_fp_docs))
        .select("fp", "kind")
        .withColumn("__hot", F.lit(True))
    )
    kept = (
        ep.join(F.broadcast(hot), ["fp", "kind"], "left")
        .where(F.col("__hot").isNull())
        .drop("__hot")
    )
    paired = (
        kept.groupBy("fp")
        .agg(
            F.collect_list(
                F.when(F.col("kind") == "t", F.col("__id"))
            ).alias("__tails"),
            F.collect_list(
                F.when(F.col("kind") == "h", F.col("__id"))
            ).alias("__heads"),
        )
        .where((F.size("__tails") > 0) & (F.size("__heads") > 0))
    )
    return (
        paired.select(
            F.col("fp").alias("boundary_fp"),
            F.explode("__tails").alias("prev_id"),
            F.col("__heads"),
        )
        .select(
            "boundary_fp", "prev_id", F.explode("__heads").alias("next_id")
        )
        .where(F.col("prev_id") != F.col("next_id"))
        .select("prev_id", "next_id", "boundary_fp")
    )
