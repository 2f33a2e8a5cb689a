"""Seeded input preparation for the benchmark.

Builds one workload's inputs and the reference answers the benchmark checks
each operation against, once per (workload, size, seed), into
``perfbench/data/<workload>-n<size>-s<seed>/`` with a ``_READY`` marker.
It runs in its own process before the measured process starts, so neither
generation nor oracle labelling is ever inside a timed region.

    python3 perfbench/prep.py --workload filter_write --size 6000 --seed 7

Inputs come only from ``soda_core_spark.sources.webtext_gen`` seeded with
``--seed``; reference answers come from plain-Python code that shares no
Spark expressions with the system under test:

* ``filter_write``: ``webtext_oracle.label_frame`` keep/drop labels, reduced
  to the kept count and per-rule fail counts;
* ``contract_gate``: every check metric of ``contract_gate.yml`` recomputed
  with pandas;
* ``near_dup``: the doc set only (pair Jaccards are recomputed from the text
  after each run).
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import sys
from datetime import datetime, timezone

#: data timestamp every contract_gate verification runs at; freshness is
#: measured against it, so it must not be the wall clock
GATE_DATA_TIMESTAMP = datetime(2026, 7, 15, tzinfo=timezone.utc)
#: reference data for the contract's valid_reference_data check; the
#: generator also emits "it" and "nl" for mislabelled pages, so the side
#: query finds real invalid rows
GATE_LANGUAGES = ("de", "en", "es", "fr")

RULES = (
    "min_chars", "max_chars", "min_words", "alnum_ratio", "stopword_density",
    "repetition", "mean_word_length", "langid_disagree", "perplexity",
)


def data_dir(root: str, workload: str, size: int, seed: int) -> str:
    return os.path.join(root, "perfbench", "data", f"{workload}-n{size}-s{seed}")


def _label_chunk(records: list[tuple[str, str, str]]) -> dict[str, int]:
    import pandas as pd

    from soda_core_spark.sources.webtext_oracle import label_frame

    labels = label_frame(pd.DataFrame(records, columns=["url", "text", "lang"]))
    counts = {"n_kept": int(labels["keep"].sum())}
    for rule in RULES:
        counts[rule] = int(labels[f"fail_{rule}"].sum())
    return counts


def _oracle_filter(pdf, workers: int) -> dict:
    records = list(zip(pdf["url"], pdf["text"], pdf["lang"]))
    step = max(1, -(-len(records) // (workers * 4)))
    chunks = [records[i : i + step] for i in range(0, len(records), step)]
    # labelling is pure Python at ~1 ms a document: spread it over the cores
    with multiprocessing.get_context("spawn").Pool(workers) as pool:
        parts = pool.map(_label_chunk, chunks)
    total = {k: sum(p[k] for p in parts) for k in parts[0]}
    return {
        "n_input": len(records),
        "n_kept": total.pop("n_kept"),
        "per_rule_fail": total,
    }


def _oracle_gate(pdf) -> dict:
    """Expected metric value of every check in contract_gate.yml, keyed by
    the check's name as the engine reports it."""
    n = len(pdf)
    text = pdf["text"].astype(object)
    lang = pdf["lang"].astype(object)
    url = pdf["url"].astype(object)
    text_missing = text.isna() | (text == "")
    lengths = text[~text_missing].map(len)
    lang_present = lang[lang.notna()]
    max_ts = pdf["warc_ts"].max().to_pydatetime().replace(tzinfo=timezone.utc)
    age_days = (GATE_DATA_TIMESTAMP - max_ts).total_seconds() // 86400
    return {
        "schema": 0,
        "row_count": n,
        "short_text": 100.0 * int((text.fillna("").map(len) < 200).sum()) / n,
        "missing(url)": int(url.isna().sum()),
        "duplicate(url)": int(url.notna().sum() - url.dropna().nunique()),
        "freshness(warc_ts)": int(age_days),
        "missing(text)": 100.0 * int(text_missing.sum()) / n,
        "aggregate(text)": float(lengths.mean()),
        "invalid(lang)": int((~lang_present.str.fullmatch(r"[a-z]{2}")).sum()),
        "invalid(lang)[reference]": 100.0
        * int((~lang_present.isin(GATE_LANGUAGES)).sum())
        / n,
    }


def prepare(root: str, workload: str, size: int, seed: int, workers: int = 4) -> str:
    """Build the inputs and reference answers unless the marker says they
    already exist; returns the data directory."""
    out = data_dir(root, workload, size, seed)
    marker = os.path.join(out, "_READY")
    if os.path.exists(marker):
        return out
    sys.path.insert(0, root)
    import pyarrow as pa
    import pyarrow.parquet as pq

    from soda_core_spark.sources.webtext_gen import generate_web_pages

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    pdf = generate_web_pages(size, seed=seed)
    if workload == "near_dup":
        docs = pa.table({"doc_id": pa.array(range(size), pa.int64()), "text": pdf["text"]})
        pq.write_table(docs, os.path.join(out, "docs.parquet"), row_group_size=max(1, size // 4))
        expected = {"n_docs": size}
    else:
        # small row groups so local[4] gets several input splits
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        os.makedirs(os.path.join(out, "web_pages"))
        pq.write_table(
            table, os.path.join(out, "web_pages", "part-00000.parquet"), row_group_size=2048
        )
        if workload == "filter_write":
            expected = _oracle_filter(pdf, workers)
        else:
            expected = _oracle_gate(pdf)
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
    with open(marker, "w") as fh:
        fh.write(f"{workload} {size} {seed}\n")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("filter_write", "contract_gate", "near_dup"))
    ap.add_argument("--size", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    print(prepare(os.getcwd(), args.workload, args.size, args.seed))
    return 0


if __name__ == "__main__":
    sys.exit(main())
