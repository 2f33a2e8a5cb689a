"""The partition-parallel keep/drop quality-filter pipeline.

One full scan over the input does everything row-level:

    one Arrow node, text crossing once:
      __counts (ONE vectorized counting pass:      functions/text.py
        tokens, token chars, alnum, distinct
        bigrams/lines, per-language hits)
      log_ppl (JVM normalization feeds a scalar    functions/perplexity.py
        pandas UDF that gathers trigram log-probs)
      __scrub_delta (delta pandas UDF: only        functions/scrub.py
        CHANGED rows' bytes cross back)
    + signals (JVM arithmetic over __counts:       functions/text.py
      hits/n ratios, n_chars, doc_fingerprint)
    + langid_pred/langid_conf (JVM argmax over     functions/langid.py
      the per-language hit fractions)
    + fail_<rule> flags (F.expr per rule)           operators/filter_rules.py
    + keep = AND(NOT fail_i)  (NULL-safe)           operators/compiler.py
    + text_scrubbed for KEPT rows (coalesce(delta, text), keep masks the
      output — dropped rows are NULL)
    → observe(global metrics)  — zero-cost aggregates attached to the write
    → write annotated output partitioned by keep    (kept corpus = keep=true/)

Lineage is then aggregated FROM the written output with column pruning —
the second job reads only (host, keep, fail flags), a few % of the bytes;
this is the scale-correct alternative to persisting a 100 TB intermediate.

Scale design notes (SURVEY §7):
* the whole row-level stage is shuffle-free — it pipelines scan → codegen
  exprs → one Arrow node → codegen exprs → write within each task,
* ``html`` is never referenced, so Catalyst prunes it at the parquet/Iceberg
  scan (check ``.explain`` ReadSchema),
* ``salt=True`` inserts ``repartition(n, xxhash64(url))`` for inputs whose
  files are host-clustered (Common-Crawl dumps often are) — uniform keys,
  no hot partitions; lineage groupBy(host) skew is absorbed by partial
  aggregation (map-side combine),
* resumability: process bucket-by-bucket via sources/checkpoint.py.

soda-core never materializes row-level outcomes (its failed-rows machinery
only counts/streams them, failed_rows_check.py:314-372); the keep/drop
output is the quality-filter extension the north rule mandates.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from soda_core_spark.functions.langid import langid_columns
from soda_core_spark.functions.perplexity import (
    normalized_for_ppl,
    perplexity_prenorm_udf,
)
from soda_core_spark.functions.scrub import scrub_delta_udf
from soda_core_spark.functions.text import signal_columns, text_counts
from soda_core_spark.operators.compiler import keep_predicate
from soda_core_spark.operators.filter_rules import (
    DEFAULT_WEBTEXT_RULES,
    FilterRule,
    InvalidFilterRuleError,
)

HOST_RE = "^https?://([^/]+)"

#: columns the lineage job reads back — keep this list small; it bounds the
#: second job's I/O via parquet column pruning
LINEAGE_KEY = "host"


def host_col(url: str = "url") -> Column:
    return F.regexp_extract(F.col(url), HOST_RE, 1)


@dataclass
class PipelineRunResult:
    metrics: dict[str, Any]
    output_path: Optional[str] = None
    lineage_path: Optional[str] = None
    n_input: int = 0
    n_kept: int = 0
    wall_seconds: float = 0.0
    per_rule_fail: dict[str, int] = field(default_factory=dict)

    @property
    def docs_per_second(self) -> float:
        return self.n_input / self.wall_seconds if self.wall_seconds > 0 else 0.0


class QualityFilterPipeline:
    def __init__(
        self,
        rules: tuple[FilterRule, ...] = DEFAULT_WEBTEXT_RULES,
        scrub: bool = True,
        langid: bool = True,
        perplexity: bool = True,
        text_column: str = "text",
        drop_columns: tuple[str, ...] = ("html",),
        html_fallback: bool = False,
    ):
        # html_fallback: rows whose text column is NULL take their text
        # from the pure-JVM HTML extraction chain (functions/html.py)
        # over the html binary column instead of failing the missing-
        # text rule. Default OFF: it forces the html column to be READ
        # (normally pruned at the scan — the single biggest I/O saving
        # on a real WARC-shaped table), so it is an explicit opt-in for
        # inputs with incomplete upstream extraction.
        self.html_fallback = html_fallback
        # raw html is dead weight for the filter (never referenced by any
        # rule) — excluded from the annotated output so the scan prunes it
        # entirely (SURVEY §4: column pruning is the point of the binary
        # column). Pass drop_columns=() to keep it.
        self.drop_columns = drop_columns
        # scrub: "kept" (default) — dropped rows get NULL text_scrubbed:
        # their scrubbed bytes are never written or carried (dead output
        # at 100 TB). NOTE this masks the OUTPUT; the regex chain itself
        # still evaluates in the fused Arrow node for every prefilter
        # candidate (keep isn't known until after the scorer UDFs run —
        # a measured second Arrow node for input-masking cost more than
        # the ~5 % regex it saved, see BENCH/JOURNAL round 3).
        # "all" — scrub every row, for consumers of the annotated
        # dropped partition. False — no scrubbing.
        if scrub is True:
            scrub = "kept"
        if scrub not in (False, "kept", "all"):
            raise ValueError(
                f"scrub must be True/'kept', 'all', or False — got {scrub!r}"
            )
        self.scrub = scrub
        # langid: the function-word model's argmax over the counter's
        # per-language hits, or off
        if not isinstance(langid, bool):
            raise ValueError(f"langid must be True or False — got {langid!r}")
        self.langid = langid
        self.perplexity = perplexity
        self.text_column = text_column
        # rules referencing a disabled scorer's columns are dropped
        self.rules = tuple(
            r
            for r in rules
            if (langid or "langid_" not in r.condition)
            and (perplexity or "log_ppl" not in r.condition)
        )

    # -- row-level plan ------------------------------------------------------

    def annotate(self, df: DataFrame) -> DataFrame:
        """Attach signals, model scores, per-rule fail flags, keep, and
        text_scrubbed. Pure plan construction — no action."""
        text = F.col(self.text_column)
        if self.html_fallback and "html" in df.columns:
            from soda_core_spark.functions.html import html_text_col

            # only NULL-text rows pay the extraction chain (when() short-
            # circuits per row); html is then dropped as usual below
            df = df.withColumn(
                self.text_column,
                F.when(text.isNotNull(), text).otherwise(
                    html_text_col(F.col("html"))
                ),
            )
        df = df.drop(*[c for c in self.drop_columns if c in df.columns])
        reserved = {"__counts", "__log_ppl", "__scrub_delta"} & set(df.columns)
        if reserved:
            raise ValueError(
                f"input already has internal column(s) {sorted(reserved)} — "
                "annotate would silently clobber and drop them; rename them "
                "first"
            )
        # all scorer UDFs in ONE projection level and one eval type → the
        # ExtractPythonUDFs rule fuses them into a single ArrowEvalPython
        # node (one Arrow round-trip per batch; text crosses once for the
        # counter and the scrub). Their outputs take internal names so the
        # public columns below keep the output column order.
        udf_cols = {"__counts": text_counts(text)}
        if self.perplexity:
            # normalization runs JVM-side (codegen regexp chain, verified
            # byte-identical to the pandas form); only the trigram-table
            # gather crosses into Python — ~70 % of the UDF's CPU moves
            # out of the Arrow node
            udf_cols["__log_ppl"] = perplexity_prenorm_udf(normalized_for_ppl(text))
        if self.scrub:
            # delta form: the UDF returns NULL for rows the scrub leaves
            # unchanged, so the Arrow batch back to the JVM carries only
            # the few % of rows that actually contain PII/toxicity —
            # coalesce(delta, text) reconstructs the full column
            # byte-identically. (A JVM input-mask that sent NULL for rows
            # with no digit, '@' or lexicon word was A/B-measured 6 %
            # SLOWER here: two extra Java-regex passes over full text cost
            # more than the Arrow-in savings on this corpus; see
            # BENCH/JOURNAL.md.)
            udf_cols["__scrub_delta"] = scrub_delta_udf(text)
        out = df.withColumns(udf_cols)
        # signals and language ID: cheap JVM arithmetic over the counts
        counts = F.col("__counts")
        model_cols = signal_columns(counts, text)
        if self.langid:
            model_cols.update(langid_columns(counts))
        if self.perplexity:
            model_cols["log_ppl"] = F.col("__log_ppl")
        out = out.withColumns(model_cols)
        # rule conditions analysed in ONE batch against the real schema;
        # only a failing batch re-analyses rule by rule to name the bad one
        try:
            fail_flags = {f"fail_{r.name}": F.expr(r.condition) for r in self.rules}
            out.select(*fail_flags.values())
        except Exception:
            for r in self.rules:
                try:
                    out.select(F.expr(r.condition))
                except Exception as e:
                    raise InvalidFilterRuleError(
                        f"rule '{r.name}': condition {r.condition!r} is invalid "
                        f"against columns {out.columns}: {e}"
                    ) from None
            raise
        out = out.withColumns(fail_flags)
        out = out.withColumn(
            "keep", keep_predicate([F.col(f"fail_{r.name}") for r in self.rules])
        )
        if self.scrub:
            scrubbed = F.coalesce(F.col("__scrub_delta"), text)
            if self.scrub == "kept":
                # dropped rows' scrubbed text is dead bytes at 100 TB —
                # NULL it JVM-side (the regex already ran in the fused
                # node; this masks the OUTPUT, costing nothing)
                scrubbed = F.when(F.col("keep"), scrubbed)
            out = out.withColumn("text_scrubbed", scrubbed)
        out = out.withColumn(LINEAGE_KEY, host_col())
        return out.drop(*udf_cols)

    # -- metrics -------------------------------------------------------------

    #: quantiles recorded per score column (north rule: the check-metrics
    #: table carries score DISTRIBUTIONS, not just counts/averages)
    QUANTILES = (0.25, 0.5, 0.75, 0.95)

    def _quantile_expr(self, col: str):
        qs = F.array(*[F.lit(q) for q in self.QUANTILES])
        return F.percentile_approx(col, qs, 10_000).alias(f"{col}_q")

    def _observation_exprs(self) -> list:
        exprs = [
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.avg("n_chars").alias("avg_chars"),
            F.avg("n_words").alias("avg_words"),
            self._quantile_expr("n_chars"),
        ]
        for r in self.rules:
            exprs.append(
                F.sum(F.col(f"fail_{r.name}").cast("long")).alias(f"fail_{r.name}")
            )
        if self.perplexity:
            exprs.append(F.avg("log_ppl").alias("avg_log_ppl"))
            exprs.append(self._quantile_expr("log_ppl"))
        if self.langid:
            exprs.append(F.avg("langid_conf").alias("avg_langid_conf"))
            exprs.append(self._quantile_expr("langid_conf"))
        return exprs

    def _flatten_metrics(self, metrics: dict[str, Any]) -> dict[str, Any]:
        """Quantile arrays → scalar keys (col_p25, col_p50, ...) so the
        metrics sink stays a flat (name, value) table."""
        out: dict[str, Any] = {}
        for k, v in metrics.items():
            if k.endswith("_q"):
                # empty input → percentile_approx yields NULL, not []:
                # still emit every pXX key (as None) so consumers never
                # see the internal array key or a missing quantile key
                vals = v if isinstance(v, (list, tuple)) else [None] * len(
                    self.QUANTILES
                )
                for q, x in zip(self.QUANTILES, vals):
                    out[f"{k[:-2]}_p{int(q * 100)}"] = x
            else:
                out[k] = v
        return out

    # -- full run -------------------------------------------------------------

    def run(
        self,
        df: DataFrame,
        output_path: Optional[str] = None,
        lineage_path: Optional[str] = None,
        salt: bool = False,
        salt_partitions: Optional[int] = None,
    ) -> PipelineRunResult:
        """Execute: annotate → observe → write(partitionBy keep) → lineage.

        Without ``output_path`` the metrics are computed via a count-style
        action on the annotated frame (bench mode)."""
        spark = df.sparkSession
        t0 = time.monotonic()
        if salt:
            n = salt_partitions or int(
                spark.conf.get("spark.sql.shuffle.partitions", "200")
            )
            # uniform re-key: breaks host-clustered input files; xxhash64 of
            # the unique url has no hot keys by construction
            df = df.repartition(n, F.xxhash64("url"))
        annotated = self.annotate(df)
        obs = Observation("quality_filter")
        observed = annotated.observe(obs, *self._observation_exprs())

        if output_path is not None:
            (
                observed.write.mode("overwrite")
                .partitionBy("keep")
                .parquet(output_path)
            )
        else:
            # bench mode: noop sink consumes FULL rows — nothing gets
            # pruned (a select(lit(1)) here would let Catalyst skip the
            # UDFs entirely and fake the numbers)
            observed.write.mode("overwrite").format("noop").save()

        metrics = self._flatten_metrics(dict(obs.get))
        wall = time.monotonic() - t0

        lineage = None
        if output_path is not None and lineage_path is not None:
            # read back ONLY the tiny lineage columns (column pruning);
            # partial aggregation absorbs host skew
            back = spark.read.parquet(output_path)
            # partitionBy writes `keep` as a string partition value; restore
            # the boolean before aggregating
            back = back.withColumn("keep", F.col("keep").cast("boolean"))
            flag_cols = [f"fail_{r.name}" for r in self.rules]
            aggs = [
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("keep").cast("long")).alias("n_kept"),
            ] + [F.sum(F.col(c).cast("long")).alias(c) for c in flag_cols]
            lineage = back.groupBy(LINEAGE_KEY).agg(*aggs)
            lineage.write.mode("overwrite").parquet(lineage_path)

        return PipelineRunResult(
            metrics=metrics,
            output_path=output_path,
            lineage_path=lineage_path,
            n_input=int(metrics.get("n_docs") or 0),
            n_kept=int(metrics.get("n_kept") or 0),
            wall_seconds=wall,
            per_rule_fail={
                r.name: int(metrics.get(f"fail_{r.name}") or 0) for r in self.rules
            },
        )
