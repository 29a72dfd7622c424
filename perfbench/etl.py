"""The reference DAG as one benchmark operation, through the public
stage functions (the same sequence as examples/run_reference_pipeline.py):

mesh.process_mesh → pubtator.process_pubtator → pubmed.process_pubmed
→ merge_filter.merge_and_filter → llm.classify_documents(stub)
→ finalize.build_release(stub fetcher, minichem)
→ sinks.overwrite_release ×2 → sinks.write_provenance ×2
"""

from __future__ import annotations

import csv
import glob
import os
import sys

from pyspark import cloudpickle

from perfbench.data import (
    ANTI_FILTER,
    BIGUANIDE_REFS,
    BLACKLIST,
    KNOWN_RAW,
    PANEL_SMILES,
    TYPO_PAIRS,
    Corpus,
)

# The counting wrappers below run inside Python workers, which cannot
# import this package: ship their code with the closure instead.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

RELEASE_DATE = "2026-01-01"


def counting_classifier_factory(factory, calls, items):
    """Wrap a classifier factory so every call adds to the `calls` and
    `items` accumulators."""

    def make():
        classify = factory()

        def counted(batch):
            calls.add(1)
            items.add(len(batch))
            return classify(batch)

        return counted

    return make


def counting_fetcher_factory(factory, fetches):
    """Wrap a REST fetcher factory so every fetch adds to `fetches`."""

    def make():
        fetch = factory()

        def counted(key):
            fetches.add(1)
            return fetch(key)

        return counted

    return make


class Counters:
    """Accumulators for one SparkContext."""

    def __init__(self, sc):
        self.llm_calls = sc.accumulator(0)
        self.llm_items = sc.accumulator(0)
        self.rest_fetches = sc.accumulator(0)

    def snapshot(self) -> tuple[int, int, int]:
        return self.llm_calls.value, self.llm_items.value, self.rest_fetches.value


def run_pipeline(spark, corpus: Corpus, out_dir: str, tracer, counters: Counters | None):
    """One DAG run, input → release written. Returns the release paths."""
    from aurora_mito_etl_spark.operators import chem, llm, rest
    from aurora_mito_etl_spark.pipeline import finalize, merge_filter, mesh, pubmed, pubtator
    from aurora_mito_etl_spark.sources import sinks

    classifier = llm.stub_classifier
    fetcher = rest.stub_fetcher_factory(corpus.fetch_table)
    if counters is not None:
        classifier = counting_classifier_factory(classifier, counters.llm_calls, counters.llm_items)
        fetcher = counting_fetcher_factory(fetcher, counters.rest_fetches)

    with tracer.span("pipeline.mesh"):
        _bio, tags = mesh.process_mesh(spark, corpus.desc_path, corpus.supp_path)
    with tracer.span("pipeline.pubtator"):
        pmids = pubtator.process_pubtator(spark, corpus.pubtator_path, tags)
    with tracer.span("pipeline.pubmed"):
        abstracts = pubmed.process_pubmed(spark, corpus.pubmed_dir, year_min=2000)
    with tracer.span("pipeline.merge_filter"):
        filtered = merge_filter.merge_and_filter(
            abstracts, inhibitor_names=ANTI_FILTER, pubtator_pmids=pmids
        )
    with tracer.span("pipeline.classify"):
        classified = llm.classify_documents(filtered, classifier)
    with tracer.span("pipeline.finalize"):
        refs = finalize.ReferenceData(
            known_inhibitors=KNOWN_RAW,
            blacklist_raw=BLACKLIST,
            typo_pairs=TYPO_PAIRS,
            smiles_db=corpus.smiles_db,
            panel_smiles=PANEL_SMILES,
            biguanide_refs=BIGUANIDE_REFS,
        )
        new_rows, all_rows = finalize.build_release(
            classified, refs, spark,
            fetcher_factory=fetcher,
            backend_factory=chem.minichem_backend,
        )
    with tracer.span("sources.sinks.write"):
        p_new = sinks.overwrite_release(new_rows, out_dir, "new_inhibitors.tsv", RELEASE_DATE)
        p_all = sinks.overwrite_release(all_rows, out_dir, "all_inhibitors.tsv", RELEASE_DATE)
    prov = os.path.join(out_dir, "release_info.jsonl")
    with tracer.span("sources.sinks.provenance", job_group=False):
        for path, step in ((p_new, "finalize:new"), (p_all, "finalize:all")):
            sinks.write_provenance(
                prov, path, step, sources=["pubmed", "mesh", "pubtator"], date=RELEASE_DATE
            )
    return p_new, p_all, prov


def read_tsv(path: str) -> list[dict]:
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, newline="", encoding="utf-8") as f:
            rows.extend(csv.DictReader(f, delimiter="\t"))
    return rows


def check_release(corpus: Corpus, p_new: str, p_all: str, prov: str) -> list[str]:
    """Differences between the written release and the planted truth
    (empty when the release is right)."""
    from aurora_mito_etl_spark.pipeline.finalize import RELEASE_COLUMNS

    errors = []
    got_new = sorted(
        (r["pmid"], r["confidence"], r["compound"]) for r in read_tsv(p_new)
    )
    if got_new != corpus.new_rows:
        errors.append(f"new_inhibitors: {len(got_new)} rows, expected {len(corpus.new_rows)}")
    all_rows = read_tsv(p_all)
    if all_rows and list(all_rows[0]) != RELEASE_COLUMNS:
        errors.append(f"all_inhibitors columns {list(all_rows[0])}")
    got_all = [
        (
            r["compound"],
            int(r["pubmed_references"]),
            r["known_status"],
            r["confidence_pubmed"],
            r["pubmed_ids"] or "",
            r["SMILES"] or "",
        )
        for r in all_rows
    ]
    if got_all != corpus.all_rows:
        diff = next(
            (f"row {i}: {a} != {b}" for i, (a, b) in enumerate(zip(got_all, corpus.all_rows)) if a != b),
            f"{len(got_all)} rows, expected {len(corpus.all_rows)}",
        )
        errors.append(f"all_inhibitors: {diff}")
    with open(prov, encoding="utf-8") as f:
        n_prov = sum(1 for _ in f)
    if n_prov != 2:
        errors.append(f"provenance: {n_prov} records, expected 2")
    return errors


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, fn))
        for root, _dirs, files in os.walk(path)
        for fn in files
    )
