"""Tests of the benchmark itself, at a tiny scale.

    python -m pytest perfbench -q

They check that each workload runs and passes its own output checks, that
the checks catch a damaged commit, that the traced run reports every
per-layer metric, and that inputs depend on the seed and on nothing else.
"""

from __future__ import annotations

import glob
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, harness, traced, workloads  # noqa: E402

TINY_KG = {"n_docs": 400, "populations": 2, "neurons_per_pop": 50}
TINY_NEARDUP = 300


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = harness.start(str(tmp_path_factory.mktemp("spark")))
    yield s
    harness.stop(s)


def _kg(tmp_path, seed: int = 3) -> workloads.KgCommit:
    return workloads.KgCommit(str(tmp_path), seed, **TINY_KG)


def test_kg_commit_smoke(spark, tmp_path):
    wl = _kg(tmp_path)
    wl.generate(spark)
    state = wl.main(spark, 0)
    wl.check_main(spark, state)
    state = wl.refresh(spark, 0, state)
    assert wl.check_refresh(spark, state) == 1.0
    # the drop only adds synapses: their partitions are rewritten, and the
    # node and attribute tables are left alone
    assert state["refresh"]["synapse_triples"].partitions_written
    assert wl.stored_bytes(state) > 0


def test_removed_data_file_fails_the_commit_check(spark, tmp_path):
    wl = _kg(tmp_path)
    wl.generate(spark)
    state = wl.main(spark, 0)
    wl.verify_root(spark, state["root"])
    victim = sorted(glob.glob(f"{state['root']}/synapse_triples/part=*/*.parquet"))[0]
    os.remove(victim)
    with pytest.raises(workloads.CheckFailed, match="synapse_triples"):
        wl.verify_root(spark, state["root"])


def test_wrong_gate_report_fails_the_check(spark, tmp_path):
    wl = _kg(tmp_path)
    wl.generate(spark)
    state = wl.main(spark, 0)
    state["report"] = {**wl.corpus.expected_report(False), "synapse_triples": 0}
    with pytest.raises(workloads.CheckFailed, match="gate reported"):
        wl.check_main(spark, state)


def test_neardup_smoke(spark, tmp_path):
    wl = workloads.NearDup(str(tmp_path), 5, n_docs=TINY_NEARDUP)
    wl.generate(spark)
    state = wl.main(spark, 0)
    assert 0.9 <= wl.check_main(spark, state) <= 1.0
    state = wl.refresh(spark, 0, state)
    wl.check_refresh(spark, state)


def test_neardup_check_rejects_a_false_pair(spark, tmp_path):
    wl = workloads.NearDup(str(tmp_path), 5, n_docs=TINY_NEARDUP)
    wl.generate(spark)
    a, b = 0, 1
    assert gen.jaccard(wl.text[a], wl.text[b]) < wl.THRESHOLD
    out = str(tmp_path / "bad-pairs")
    spark.createDataFrame([(a, b, 0.9)], "id_a long, id_b long, jaccard double").write.parquet(out)
    with pytest.raises(workloads.CheckFailed, match="Jaccard"):
        wl.check_main(spark, {"out": out})


def test_untraced_loop_scales_each_call_by_the_speed_probe(spark, tmp_path):
    wl = workloads.NearDup(str(tmp_path), 5, n_docs=TINY_NEARDUP)
    wl.generate(spark)
    with harness.SpeedProbe(str(tmp_path / "speed.txt")) as probe:
        res = workloads.run_untraced(wl, spark, 0, harness.PeakRss(), probe)
        now = time.monotonic()
        assert probe.mean(now - 600, now) > 0
        # a window too short to hold a sample takes the nearest one
        assert probe.mean(now, now) > 0
    assert probe.proc.poll() is not None
    assert (res["attempted"], res["failed"]) == (2, 0)
    assert len(res["main"]) == len(res["refresh"]) == 1
    assert res["main"][0] > 0 and res["refresh"][0] > 0


@pytest.mark.parametrize("name", ["kg_commit", "neardup"])
def test_traced_run_reports_every_layer_metric(spark, tmp_path, name):
    if name == "kg_commit":
        wl = _kg(tmp_path)
    else:
        wl = workloads.NearDup(str(tmp_path), 5, n_docs=TINY_NEARDUP)
    wl.generate(spark)
    spans = str(tmp_path / "spans.jsonl")
    metrics, attempted = traced.run(wl, spark, spans)
    assert attempted == (4 if name == "kg_commit" else 3)
    assert set(metrics) == set(traced.metric_names())
    assert os.path.getsize(spans) > 0
    if name == "kg_commit":
        exp = wl.corpus.expected_report(False)
        assert metrics["materialize.rows_written"] == sum(exp[t] for t in traced.KG_TABLES)
        assert metrics["pipeline.gate.spark_jobs"] > 0
        assert all(metrics[f"{layer}.rows_out"] > 0 for layer in traced.KG_LAYERS)
        assert metrics["materialize.partitions_skipped"] > 0
    else:
        assert metrics["dedup.verified_pairs"] <= metrics["dedup.candidate_pairs"]
        assert metrics["dedup.verified_pairs"] > 0


def test_inputs_depend_on_the_seed_only():
    a, b = gen.KgCorpus(7, 400, populations=2, neurons_per_pop=50), gen.KgCorpus(
        7, 400, populations=2, neurons_per_pop=50
    )
    assert a.base_docs == b.base_docs and a.drop_docs == b.drop_docs
    assert a.expected_triples(True) == b.expected_triples(True)
    c = gen.KgCorpus(8, 400, populations=2, neurons_per_pop=50)
    assert c.base_docs != a.base_docs
    assert c.expected_triples(True) != a.expected_triples(True)
    # the closed form of the default circuit
    full = gen.KgCorpus(1, 20_000).expected_report(False)
    assert full == {
        "nodes": 16_050,
        "attribute_triples": 40_000,
        "synapse_triples": 10_000,
        "aggregate_triples": 2_052,
        "invariant_violations": 0,
    }

    rows, planted = gen.neardup_corpus(7, 300, 15)
    assert (rows, planted) == gen.neardup_corpus(7, 300, 15)
    assert gen.neardup_corpus(8, 300, 15)[0] != rows
    text = dict(rows)
    assert len(planted) == 15
    assert all(gen.jaccard(text[x], text[y]) >= gen.PLANT_MIN_JACCARD for x, y in planted)


def test_same_seed_commits_the_same_triples(spark, tmp_path):
    roots = []
    for i in range(2):
        wl = _kg(tmp_path / str(i))
        wl.generate(spark)
        state = wl.main(spark, 0)
        roots.append((wl, state))
    (wa, sa), (wb, sb) = roots
    assert wa.committed_triples(spark, sa["root"]) == wb.committed_triples(spark, sb["root"])
    assert {t: r.rows_written for t, r in sa["commit"].items()} == {
        t: r.rows_written for t, r in sb["commit"].items()
    }
