"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pytest

import gen
import run
import stats
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


def test_percentile_interpolates_and_reports_sample_count():
    xs = [float(v) for v in range(10, 0, -1)]  # order must not matter
    assert stats.percentile(xs, 50) == (5.5, 10)
    p90, n = stats.percentile(xs, 90)
    assert p90 == pytest.approx(9.1) and n == 10
    assert stats.percentile([7.0], 90) == (7.0, 1)
    assert stats.percentile([1.0, 3.0], 100) == (3.0, 2)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_self_time_subtracts_the_union_of_children_inside_the_span():
    # children overlap each other (1-3, 2-5) and one runs past the end (8-12)
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]) == 4.0
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 10.0, [(-5.0, 20.0)]) == 0.0
    assert stats.union_length([(0, 1), (1, 2), (5, 6)]) == 3


def test_recall_counts_any_member_of_a_tie_at_the_kth_place():
    corpus = np.array([[0.0], [1.0], [-1.0], [2.0], [3.0]], dtype=np.float32)
    q = np.array([[0.0]], dtype=np.float32)
    ids, dists = gen.exact_topk(corpus, q, 2)
    assert list(ids[0]) == [0, 1]  # 1 and 2 tie at distance 1: lower id wins
    kth = float(dists[0][-1])
    tied = [0, 2]  # the other member of the tie is just as correct
    assert stats.recall_at_k(tied, gen.sq_dists(corpus[tied], q[0]), kth, 2) == 1.0
    wrong = [0, 3]
    assert stats.recall_at_k(wrong, gen.sq_dists(corpus[wrong], q[0]), kth, 2) == 0.5


def test_layer_values_flag_unmeasured_spans_of_the_running_workload_only():
    by_span = {"a.x": [{"wall_ms": 2.0}, {"wall_ms": 4.0}], "a.y": [{"jobs": 1}, {}]}
    names = ["a.x.wall_ms", "a.y.jobs", "b.z.wall_ms"]
    values, missing = stats.layer_values(by_span, names, own={"a.x", "a.y"})
    assert values == {"a.x.wall_ms": 3.0, "a.y.jobs": 1, "b.z.wall_ms": 0}
    assert missing == ["a.y.jobs"]  # one of its two spans lacks the counter
    assert stats.layer_values(by_span, names, own={"b.z"})[1] == ["b.z.wall_ms"]


def _bytes(tmp, seed):
    v = gen.vector_corpus(seed, 200, 16, dim=8)
    gen.write_vectors(v, f"{tmp}/c{seed}.parquet", f"{tmp}/q{seed}.parquet")
    gen.write_docs(gen.doc_corpus(seed, 60), f"{tmp}/d{seed}.parquet")
    return [open(f"{tmp}/{p}{seed}.parquet", "rb").read() for p in "cqd"]


def test_generators_are_deterministic_per_seed(tmp_path):
    a = _bytes(tmp_path / "a", 7)
    b = _bytes(tmp_path / "b", 7)
    c = _bytes(tmp_path / "c", 8)
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_planted_copies_straddle_the_threshold_and_junk_is_flagged():
    d = gen.doc_corpus(3, 700)
    js = [gen.jaccard(d.text[a], d.text[b]) for a, b in d.planted if not d.junk[a]]
    assert min(js) < workloads.NEARDUP <= max(js)
    assert len(d.text) == 700 + len(d.planted) and len(d.planted) == 234
    assert all(d.junk[a] == d.junk[b] for a, b in d.planted)


def test_union_find_gives_min_id_components():
    comp = workloads.DocTruth.components({(5, 9), (9, 2), (7, 8)})
    assert comp == {2: 2, 5: 2, 9: 2, 7: 7, 8: 7}


def test_benchmark_json_names_every_metric_the_code_reports():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == workloads.E2E
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == (
        workloads.per_layer_catalogue()
    )
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_end_processes_ends_the_whole_tree_and_waits():
    # a child that ignores stdin EOF and starts a grandchild of its own, as
    # the driver JVM starts the PySpark daemon
    code = (
        "import subprocess, sys, time\n"
        "subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)'])\n"
        "time.sleep(60)\n"
    )
    child = subprocess.Popen([sys.executable, "-c", code])
    deadline = time.monotonic() + 20
    while len(run.descendants()) < 2 and time.monotonic() < deadline:
        time.sleep(0.05)
    tree = run.descendants()
    assert len(tree) == 2
    run.end_processes(grace_s=0.2)
    # gone, or a zombie its adopter has yet to reap: nothing left running
    assert all((st := run.proc_stat(p)) is None or st[0] == "Z" for p in tree)
    assert child.wait(timeout=5) is not None
