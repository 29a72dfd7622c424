"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the repository root. The last test starts Spark.
"""

from __future__ import annotations

import os

import pytest

from perfbench import data as gen
from perfbench.trace import Tracer, parse_event_log

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.json")


def test_event_log_fixture_aggregates_per_job_group():
    groups = parse_event_log(FIXTURE)
    assert set(groups) == {"run.1", "run.2"}  # stage 99 has no job group
    g = groups["run.1"]
    assert g["tasks"] == 2
    assert g["task_run_s"] == pytest.approx(0.3)
    assert g["task_cpu_s"] == pytest.approx(0.2)
    assert g["gc_s"] == pytest.approx(0.01)
    assert g["deser_s"] == pytest.approx(0.005)
    assert g["shuffle_read_bytes"] == 100
    assert g["shuffle_write_bytes"] == 300
    assert g["spill_bytes"] == 20
    assert g["python_sent_bytes"] == 400
    assert g["python_returned_bytes"] == 250
    # scan sizes from the initial plan and from an adaptive re-plan;
    # accumulator 5 belongs to no scan and is ignored
    assert g["scans"] == {
        "InMemoryFileIndex(1 paths)[file:/corpus/pubmed]": 1000,
        "InMemoryFileIndex(1 paths)[file:/corpus/desc.xml]": 500,
    }
    assert groups["run.2"]["tasks"] == 1
    assert groups["run.2"]["task_cpu_s"] == pytest.approx(0.9)


def test_tracer_self_time_subtracts_children():
    tr = Tracer("t", enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    selfs = tr.self_seconds()
    assert inner.parent == outer.id
    assert selfs[outer.id] == pytest.approx(outer.seconds - inner.seconds)
    assert selfs[inner.id] == pytest.approx(inner.seconds)
    assert [s.name for s in tr.subtree(outer)] == ["outer", "inner"]


def test_disabled_tracer_records_nothing():
    tr = Tracer("t", enabled=False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


def test_corpus_is_a_function_of_the_seed(tmp_path):
    a = gen.write_corpus(str(tmp_path / "a"), seed=5, n_articles=300)
    b = gen.write_corpus(str(tmp_path / "b"), seed=5, n_articles=300)
    c = gen.write_corpus(str(tmp_path / "c"), seed=6, n_articles=300)
    assert a.all_rows == b.all_rows and a.new_rows == b.new_rows
    for name in ("pubtator.gz", "desc.xml", "supp.xml", "pubmed/pubmed26n0001.xml.gz"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    assert a.all_rows != c.all_rows
    # knowns are always released; every release row is unique
    assert {r[0] for r in a.all_rows} >= set(gen.KNOWN_CURATED)
    assert len({r[0].lower() for r in a.all_rows}) == len(a.all_rows)


def test_tables_are_a_function_of_the_seed(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 0.001)
    gen.write_tables(str(tmp_path / "b"), 0.001)
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


def test_counting_wrappers_leave_the_release_unchanged(tmp_path):
    """The LLM/REST counting wrappers only observe: the release written
    with them equals the one written without, and both equal the
    corpus's planted truth."""
    from perfbench import etl
    from perfbench.harness import session_conf

    from aurora_mito_etl_spark.session import get_spark

    corpus = gen.write_corpus(str(tmp_path / "corpus"), seed=7, n_articles=600)
    spark = get_spark(app_name="perfbench-test", extra_conf=session_conf(str(tmp_path)))
    try:
        tracer = Tracer("t", enabled=False)
        plain = etl.run_pipeline(spark, corpus, str(tmp_path / "plain"), tracer, None)
        counters = etl.Counters(spark.sparkContext)
        counted = etl.run_pipeline(spark, corpus, str(tmp_path / "counted"), tracer, counters)
        calls, items, fetches = counters.snapshot()
    finally:
        spark.stop()
    for paths in (plain, counted):
        assert etl.check_release(corpus, *paths) == []
    for a, b in zip(plain[:2], counted[:2]):
        assert etl.read_tsv(a) == etl.read_tsv(b)
    # the counts are recorded, not gated: each classify lineage
    # evaluation sees every PMID, each fetch pass every missing key
    assert calls > 0
    assert items >= corpus.classified_pmids
    assert fetches >= corpus.fetch_keys


def test_ops_per_s_uses_each_operations_median():
    from perfbench.harness import end_to_end

    lat = [("a", 1.0), ("b", 3.0), ("a", 9.0), ("b", 3.0), ("a", 1.0), ("b", 3.0)]
    m = end_to_end((2.0, 0.5), lat)
    assert m["setup_s"] == (2.5, "s")
    # a pass is a + b; the stalled 9 s run of a does not count
    assert m["ops_per_s"] == (pytest.approx(2 / 4.0), "1/s")


def test_metric_names_match_benchmark_json():
    import json
    from types import SimpleNamespace

    from perfbench.harness import end_to_end, per_layer

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = end_to_end((1.0, 1.0), [("q", 1.0)])
    assert list(e2e) == [m["name"] for m in spec["end_to_end"]]
    run = SimpleNamespace(tracer=Tracer("t", enabled=True), corpus=None, counters=None, written=[])
    layers = per_layer(run, (1.0, 1.0), 1.0, [("q", 1.0)], 1.0, [("q", 1.0)], {})
    layers["session.peak_rss_mib"] = (0.0, "MiB")
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: u for k, (_v, u) in layers.items()} == declared
