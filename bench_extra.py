"""Stage-isolated profiling extras (guide §1.4) — NOT the driver bench.

``bench.py`` is frozen for measurement; this file exists so optimization
rounds can attribute time inside the headline queries with noop-sink
isolation. Each probe builds the plan fresh and times best-of-N noop
writes after one warm-up, printing one JSON line per probe.

Usage::

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_extra.py [probe ...]

Probes: pipeline variants (scan, signals, +langid, +ppl, +scrub=full),
dedup stage isolation (q33_base, q33_explode, q33_full, q18_banded,
q18_full, q34_full). No args = all.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def timed(spark, name, df, runs=3):
    spark.sparkContext.setJobDescription(f"bench_extra: {name}")
    df.write.mode("overwrite").format("noop").save()  # warm-up
    best = None
    for _ in range(runs):
        t0 = time.monotonic()
        df.write.mode("overwrite").format("noop").save()
        dt = time.monotonic() - t0
        best = dt if best is None or dt < best else best
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"probe": name, "best_sec": round(best, 3)}))
    return best


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = 0.1
    n_docs = max(20_000, int(2_000_000 * sf_num))
    wanted = set(sys.argv[1:])

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from soda_core_spark.operators.filter_pipeline import QualityFilterPipeline
    from soda_core_spark.sources.webtext_gen import write_web_pages_parquet

    web_path = write_web_pages_parquet(
        f"/tmp/soda_webtext_bench/n{n_docs}", n_docs, rows_per_file=50_000
    )
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench_extra")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "24g"))
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+AlwaysPreTouch -XX:+UseParallelGC",
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    web = spark.read.parquet(web_path)

    def want(name):
        return not wanted or any(w in name for w in wanted)

    # -- pipeline decomposition ------------------------------------------
    if want("pipe_scan"):
        timed(spark, "pipe_scan", web.drop("html"))
    if want("pipe_signals"):
        p = QualityFilterPipeline(scrub=False, langid=False, perplexity=False)
        timed(spark, "pipe_signals", p.annotate(web))
    if want("pipe_signals_langid"):
        p = QualityFilterPipeline(scrub=False, langid=True, perplexity=False)
        timed(spark, "pipe_signals_langid", p.annotate(web))
    if want("pipe_signals_ppl"):
        p = QualityFilterPipeline(scrub=False, langid=False, perplexity=True)
        timed(spark, "pipe_signals_ppl", p.annotate(web))
    if want("pipe_full"):
        p = QualityFilterPipeline()
        timed(spark, "pipe_full", p.annotate(web))

    # -- dedup stage isolation ------------------------------------------
    from soda_core_spark.operators.dedup import (
        _banded_frame,
        shingle_frame,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if want("q33_base"):
        timed(spark, "q33_base", shingle_frame(docs, "doc_id", "text", 3))
    if want("q33_explode"):
        base = shingle_frame(docs, "doc_id", "text", 3)
        timed(
            spark,
            "q33_explode",
            base.select("id", F.explode_outer("shl").alias("s")),
        )
    if want("q33_full"):
        from soda_core_spark.entry_queries import REGISTRY

        timed(spark, "q33_full", REGISTRY["q33_ngram_jaccard_pairs"][0](spark, sf_dir))
    if want("q18_banded"):
        base = shingle_frame(docs, "doc_id", "text", 3)
        timed(spark, "q18_banded", _banded_frame(base, 16, 4, True))
    if want("q18_full"):
        from soda_core_spark.entry_queries import REGISTRY

        timed(spark, "q18_full", REGISTRY["q18_minhash_near_dups"][0](spark, sf_dir))
    if want("q34_full"):
        from soda_core_spark.entry_queries import REGISTRY

        timed(spark, "q34_full", REGISTRY["q34_decontamination"][0](spark, sf_dir))

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
