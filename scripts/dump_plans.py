"""Dump .explain("formatted") for a set of registry queries to
plans/<tag>/<query>_<suffix>.txt — the plan evidence the optimization
round commits (judge checks plan claims against these files).

Usage: python scripts/dump_plans.py <tag> <suffix> [query ...]
Defaults to the bench queries + the perf-weak set at sf0.1
(``SPARK_GRAFT_SF_DIR``), on ``local[SPARK_GRAFT_CPUS]`` (default: all
cores). An absolute <tag> writes to that directory instead of under
plans/ — for uncommitted plan comparisons.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = [
    "q1_pricing_summary",
    "q2_fused_metrics",
    "q3_segment_revenue",
    "q6_duplicate_arithmetic",
    "q7_window_topk",
    "q10_sessionization",
    "q11_doc_stats",
    "q13_dedup_classes",
    "q16_quality_flags",
    "q17_topk_cosine",
    "q18_minhash_near_dups",
    "q33_ngram_jaccard_pairs",
    "q34_decontamination",
    "q36_host_cap_sample",
    "q134_signal_correlation",
    "q248_lorenz_deciles",
    "q249_rfm_segments",
]


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or DEFAULT_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))

    from pyspark.sql import SparkSession

    from soda_core_spark.entry_queries import REGISTRY

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dump_plans")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.driver.memory", "12g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        fn, _sql = REGISTRY[name]
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path} ({len(buf.getvalue())} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
