"""The measured process: one workload, one Spark session, one client in a
closed loop.

Started by ``run.py`` after inputs exist; never run by hand except for
debugging. It builds a ``local[4]`` session, runs the workload's fixed
warm-up, then runs operations back to back for ``--seconds`` and checks
every operation's output against the reference answers ``prep.py`` wrote.
Its last stdout line is a JSON report that ``run.py`` turns into the result.

With ``--trace 1`` every second operation is traced (spans around the
benchmark's calls into public functions, then Spark's own SQL metrics for
the executions it started); the untraced operations in between give the
tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import SparkReader, Tracer  # noqa: E402

HEAP = "1g"


def build_session(scratch: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(scratch, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config("spark.driver.memory", HEAP)
        # a fixed, pre-touched heap: page faults happen once in set-up
        # instead of at random points in the timed window, so neither
        # peak_rss_mb nor the throughput depends on when the heap grows
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:+UseParallelGC -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _quantile(xs, q):
    """Inclusive linear interpolation; with one sample, that sample."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


# --------------------------------------------------------------------------
# A workload has: setup(spark, data, scratch); op(tracer or None) -> output;
# check(output) -> list of mismatches; corrupt(output) -> a falsified copy
# for the self-tests; per_layer(traced operation record) -> {metric: value}.
# --------------------------------------------------------------------------


class FilterWrite:
    """``QualityFilterPipeline().run`` over the seeded table, writing the
    annotated output and the lineage table, overwriting both each pass."""

    # the first pass forks and initialises the Python workers; the second
    # still runs 15-25 % slow while the JVM compiles the row stage
    warmup_ops = 2

    def setup(self, spark, data, scratch):
        from soda_core_spark.operators.filter_pipeline import QualityFilterPipeline

        self.expected = _load(data)
        self.web = spark.read.parquet(os.path.join(data, "web_pages"))
        self.pipeline = QualityFilterPipeline()
        self.out = os.path.join(scratch, "filter_out")
        self.lineage = os.path.join(scratch, "filter_lineage")
        self.docs_per_op = self.expected["n_input"]

    def op(self, tracer):
        if tracer is None:
            return self.pipeline.run(self.web, self.out, self.lineage)
        self.pipeline.annotate = tracer.wrap("filter_pipeline.annotate", self.pipeline.annotate)
        try:
            with tracer.span("filter_pipeline.run"):
                return self.pipeline.run(self.web, self.out, self.lineage)
        finally:
            del self.pipeline.annotate

    def check(self, res):
        exp = self.expected
        bad = []
        if res.n_input != exp["n_input"]:
            bad.append(f"n_input {res.n_input} != {exp['n_input']}")
        if res.n_kept != exp["n_kept"]:
            bad.append(f"n_kept {res.n_kept} != {exp['n_kept']}")
        if res.per_rule_fail != exp["per_rule_fail"]:
            bad.append(f"per_rule_fail {res.per_rule_fail} != {exp['per_rule_fail']}")
        return bad

    def corrupt(self, res):
        res.n_kept += 1
        return res

    def per_layer(self, rec):
        execs, res, n = rec["executions"], rec["output"], self.docs_per_op
        write = [e for e in execs if _writes_to(e, self.out)]
        lineage = [e for e in execs if _writes_to(e, self.lineage)]
        arrow = "ArrowEvalPython"
        in_bytes = sum(e.metric("size of files read", "Scan parquet") for e in write)
        return {
            "sources.scan_task_s": sum(e.metric("scan time", "Scan parquet") for e in execs),
            "sources.write_bytes_per_doc": sum(e.stages["outputBytes"] for e in execs) / n,
            "sources.out_bytes_per_in_byte": sum(e.stages["outputBytes"] for e in execs) / in_bytes if in_bytes else 0.0,
            "sources.commit_s": sum(e.metric("task commit time") + e.metric("job commit time") for e in execs),
            "functions.codegen_task_s": sum(e.metric("duration", "WholeStageCodegen") for e in write),
            "functions.py_run_task_s": sum(e.metric("time to run Python workers", arrow) for e in write),
            "functions.py_init_task_s": sum(
                e.metric("time to start Python workers", arrow) + e.metric("time to initialize Python workers", arrow)
                for e in write
            ),
            "functions.py_bytes_in_per_doc": sum(e.metric("data sent to Python workers", arrow) for e in write) / n,
            "functions.py_bytes_out_per_doc": sum(e.metric("data returned from Python workers", arrow) for e in write) / n,
            "filter_pipeline.plan_s": rec["span_s"]["filter_pipeline.annotate"],
            "filter_pipeline.write_job_s": sum(e.seconds for e in write),
            "filter_pipeline.lineage_job_s": sum(e.seconds for e in lineage),
            "filter_pipeline.kept_ratio": res.n_kept / res.n_input,
        }


def _writes_to(execution, path):
    return any(
        name.startswith("Execute InsertIntoHadoopFsRelationCommand") and path in desc
        for name, desc, _m in execution.nodes
    )


class ContractGate:
    """One gate: parse the raw-table contract, verify it against the seeded
    table on disk."""

    # gate latency keeps falling for dozens of gates as the driver JVM
    # compiles the planner's hot paths; 6 gates take it past the steepest part
    warmup_ops = 6

    def setup(self, spark, data, scratch):
        from prep import GATE_DATA_TIMESTAMP, GATE_LANGUAGES

        from soda_core_spark import verify_contract
        from soda_core_spark.plans.model import contract_from_yaml

        self.verify_contract, self.contract_from_yaml = verify_contract, contract_from_yaml
        self.spark = spark
        self.expected = _load(data)
        with open(os.path.join(HERE, "contract_gate.yml")) as fh:
            self.yaml = fh.read()
        self.table = spark.read.parquet(os.path.join(data, "web_pages"))
        self.languages = spark.createDataFrame([(c,) for c in GATE_LANGUAGES], ["code"])
        self.timestamp = GATE_DATA_TIMESTAMP
        self.docs_per_op = self.expected["row_count"]

    def op(self, tracer):
        with _span(tracer, "plans.parse"):
            contract = self.contract_from_yaml(self.yaml)
        with _span(tracer, "engine.verify_contract"):
            result = self.verify_contract(
                self.spark, contract, self.table,
                datasets={"languages": self.languages}, data_timestamp=self.timestamp,
            )
        return [
            (c.default_name() + (f"[{c.qualifier}]" if c.qualifier else ""), r.outcome.name, r.metric_value)
            for c, r in zip(contract.all_checks(), result.check_results)
        ]

    def check(self, rows):
        bad = []
        if sorted(k for k, _o, _v in rows) != sorted(self.expected):
            bad.append(f"checks {[k for k, _o, _v in rows]} != {sorted(self.expected)}")
        for key, outcome, value in rows:
            if outcome != "PASSED":
                bad.append(f"{key}: {outcome}")
            want = self.expected.get(key)
            if want is None or value is None or abs(float(value) - want) > 1e-9 * max(1.0, abs(want)):
                bad.append(f"{key}: value {value} != {want}")
        return bad

    def corrupt(self, rows):
        key, outcome, value = rows[0]
        return [(key, "FAILED", value)] + rows[1:]

    def per_layer(self, rec):
        execs = rec["executions"]
        verify_s = rec["span_s"]["engine.verify_contract"]
        return {
            "sources.scan_task_s": sum(e.metric("scan time", "Scan parquet") for e in execs),
            "sources.scan_bytes_per_doc": sum(e.metric("size of files read", "Scan parquet") for e in execs)
            / self.docs_per_op,
            "plans.parse_s": rec["span_s"]["plans.parse"],
            "engine.plan_s": verify_s - sum(e.seconds for e in execs),
            "engine.jobs_per_verify": len(execs),
            "engine.fused_agg_s": execs[0].seconds if execs else 0.0,
            "engine.side_query_s": sum(e.seconds for e in execs[1:]),
            "engine.not_evaluated": sum(1 for _k, o, _v in rec["output"] if o == "NOT_EVALUATED"),
        }


class NearDup:
    """One pass: MinHash-LSH near-duplicates plus exact all-pairs n-gram
    Jaccard over the seeded doc set."""

    # as for filter_write, the pass after the cold one is still slow
    warmup_ops = 2
    #: posting-list cap for the all-pairs self-join: the capped shape is the
    #: one that carries the SHUFFLE_HASH hint
    MAX_DOC_FREQ = 200

    def setup(self, spark, data, scratch):
        from soda_core_spark.operators.dedup import minhash_near_duplicates, ngram_jaccard_all_pairs

        self.minhash, self.allpairs = minhash_near_duplicates, ngram_jaccard_all_pairs
        self.data = data
        self.docs = spark.read.parquet(os.path.join(data, "docs.parquet"))
        self.docs_per_op = _load(data)["n_docs"]
        self.first = None

    def op(self, tracer):
        with _span(tracer, "dedup.minhash"):
            lsh = self.minhash(self.docs).collect()
        with _span(tracer, "dedup.allpairs"):
            exact = self.allpairs(
                self.docs, max_doc_freq=self.MAX_DOC_FREQ, hash_shingles="xxhash64"
            ).collect()
        return (
            {(r["id_a"], r["id_b"]): r["jaccard"] for r in lsh},
            {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact},
        )

    def check(self, out):
        # pair sets must repeat exactly across passes; Jaccards are checked
        # against the text once per run, in final_check
        if self.first is None:
            self.first = out
            return []
        bad = []
        for name, got, want in zip(("minhash", "allpairs"), out, self.first):
            if set(got) != set(want):
                bad.append(f"{name}: {len(set(got) ^ set(want))} pairs differ from the first pass")
        return bad

    def corrupt(self, out):
        lsh, exact = out
        lsh = dict(lsh)
        if lsh:
            k = next(iter(lsh))
            lsh[k] = lsh[k] / 2
        else:
            lsh[(0, 1)] = 1.0
        return lsh, exact

    def final_check(self, outputs):
        """Recompute every returned pair's Jaccard from the text; returns one
        list of mismatches per output."""
        import pyarrow.parquet as pq

        texts = pq.read_table(os.path.join(self.data, "docs.parquet")).column("text").to_pylist()
        shingles = [_shingles(t) for t in texts]
        freq: dict[str, int] = {}
        for sh in shingles:
            for s in sh:
                freq[s] = freq.get(s, 0) + 1
        capped = [{s for s in sh if freq[s] <= self.MAX_DOC_FREQ} for sh in shingles]
        reports = []
        for lsh, exact in outputs:
            bad = []
            for (a, b), j in lsh.items():
                want = len(shingles[a] & shingles[b]) / len(shingles[a] | shingles[b])
                if abs(j - want) > 1e-12 or want < 0.7:
                    bad.append(f"minhash ({a},{b}) jaccard {j} != {want}")
            for (a, b), j in exact.items():
                shared = len(capped[a] & capped[b])
                want = _round_half_up(shared / (len(shingles[a]) + len(shingles[b]) - shared))
                if abs(j - want) > 1e-9 or want < 0.5:
                    bad.append(f"allpairs ({a},{b}) jaccard {j} != {want}")
            reports.append(bad[:5])
        return reports

    def per_layer(self, rec):
        execs, (lsh, _exact) = rec["executions"], rec["output"]
        n = self.docs_per_op
        # executions are listed in start order from the operation's mark; the
        # minhash ones are those that started inside the minhash span
        first, second = (rec["span_mark"][name] for name in ("dedup.minhash", "dedup.allpairs"))
        lsh_execs = execs[first - rec["mark"] : second - rec["mark"]]
        candidates = sum(
            m.get("number of output rows", 0.0)
            for e in lsh_execs
            for name, desc, m in e.nodes
            if "Join" in name and "band" in desc
        )
        return {
            "sources.scan_task_s": sum(e.metric("scan time", "Scan parquet") for e in execs),
            "dedup.minhash_s": rec["span_s"]["dedup.minhash"],
            "dedup.allpairs_s": rec["span_s"]["dedup.allpairs"],
            "dedup.shuffle_bytes_per_doc": sum(e.stages["shuffleWriteBytes"] for e in execs) / n,
            "dedup.spill_bytes": sum(e.stages["memoryBytesSpilled"] for e in execs),
            "dedup.candidate_pairs": candidates,
            "dedup.verified_pairs": len(lsh),
            "dedup.verify_yield": len(lsh) / candidates if candidates else 0.0,
            "dedup.pairs_per_doc": (len(lsh) + len(_exact)) / n,
        }


def _round_half_up(x: float, places: int = 6) -> float:
    """Spark's ``round`` on a double: the shortest decimal form of ``x``,
    rounded half up (Python's ``round`` rounds half to even)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def _shingles(text: str, n: int = 3) -> set:
    """Word 3-shingles exactly as the dedup operators tokenize: lowercase,
    split on ASCII whitespace, one whole-text shingle below n words."""
    words = [w for w in text.lower().replace("\t", " ").replace("\n", " ").replace("\r", " ").split(" ") if w]
    if len(words) >= n:
        return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}
    return {" ".join(words)} if words else set()


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext()


def _load(data):
    with open(os.path.join(data, "expected.json")) as fh:
        return json.load(fh)


WORKLOADS = {"filter_write": FilterWrite, "contract_gate": ContractGate, "near_dup": NearDup}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spawned-at", type=float, required=True, help="CLOCK_MONOTONIC at spawn")
    ap.add_argument("--corrupt", action="store_true", help="self-test: falsify every output before its check")
    args = ap.parse_args()

    session_s = time.monotonic()
    spark = build_session(args.scratch)
    session_s = time.monotonic() - session_s
    try:
        return _run(spark, args, session_s)
    finally:
        spark.stop()


def _run(spark, args, session_s) -> int:
    wl = WORKLOADS[args.workload]()
    wl.setup(spark, args.data, args.scratch)
    warmup_s = time.monotonic()
    for _ in range(wl.warmup_ops):
        wl.op(None)
    warmup_s = time.monotonic() - warmup_s

    reader = SparkReader(spark) if args.trace else None
    tracer = Tracer(reader.mark) if args.trace else None
    ops, errors = [], []
    start = time.monotonic()
    setup_s = start - args.spawned_at
    while True:
        traced = bool(args.trace) and len(ops) % 2 == 1
        rec = {"traced": traced, "ok": True}
        if traced:
            tracer.op = len(ops)
            mark, gc0 = reader.mark(), reader.gc_seconds()
        t0 = time.monotonic()
        try:
            out = wl.op(tracer if traced else None)
        except Exception as e:  # a failed operation is counted, not fatal
            out = None
            rec["ok"] = False
            errors.append(f"op {len(ops)}: {type(e).__name__}: {str(e)[:300]}")
        rec["seconds"] = time.monotonic() - t0
        if traced and out is not None:
            rec["executions"] = reader.executions_since(mark)
            rec["gc_s"] = reader.gc_seconds() - gc0
            rec["mark"] = mark
            # per span name: summed seconds, and the SQL-execution mark at
            # the first span's start
            rec["span_s"], rec["span_mark"] = {}, {}
            for sp in (sp for sp in tracer.spans if sp["op"] == tracer.op):
                rec["span_s"][sp["name"]] = rec["span_s"].get(sp["name"], 0.0) + sp["end"] - sp["start"]
                rec["span_mark"].setdefault(sp["name"], sp["mark"])
        rec["output"] = wl.corrupt(out) if (args.corrupt and out is not None) else out
        ops.append(rec)
        # a traced run needs at least one untraced and one traced operation
        if time.monotonic() - start >= args.seconds and len(ops) >= 1 + args.trace:
            break
    window = time.monotonic() - start

    for i, rec in enumerate(ops):
        if rec["output"] is not None:
            bad = wl.check(rec["output"])
            if bad:
                rec["ok"] = False
                errors.append(f"op {i}: " + "; ".join(bad)[:500])
    if hasattr(wl, "final_check"):
        done = [i for i, r in enumerate(ops) if r["output"] is not None]
        for i, bad in zip(done, wl.final_check([ops[i]["output"] for i in done])):
            if bad:
                ops[i]["ok"] = False
                errors.append(f"op {i}: " + "; ".join(bad)[:500])

    report = {
        "attempted": len(ops),
        "failed": sum(1 for r in ops if not r["ok"]),
        "errors": errors[:20],
        "docs_per_op": wl.docs_per_op,
        "op_seconds": [r["seconds"] for r in ops],
        "window_s": window,
        "setup_s": setup_s,
        "setup_session_s": session_s,
        "setup_warmup_s": warmup_s,
    }
    untraced = [r["seconds"] for r in ops if not r["traced"]]
    if args.trace:
        traced_recs = [r for r in ops if r["traced"] and "executions" in r]
        layers: dict[str, list[float]] = {}
        for rec in traced_recs:
            values = wl.per_layer(rec)
            values["jvm.gc_s"] = rec["gc_s"]
            for k, v in values.items():
                layers.setdefault(k, []).append(float(v))
        report["per_layer"] = {k: _median(v) for k, v in layers.items()}
        traced_s = [r["seconds"] for r in traced_recs]
        report["trace_overhead_pct"] = (
            100.0 * (_median(traced_s) / _median(untraced) - 1.0) if traced_s and untraced else 0.0
        )
        tracer.dump(os.path.join(args.scratch, "spans.json"))
    else:
        secs = [r["seconds"] for r in ops]
        report["docs_per_s"] = wl.docs_per_op * len(ops) / window
        report["op_s_p50"] = _median(secs)
        report["op_s_p90"] = _quantile(secs, 90)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
