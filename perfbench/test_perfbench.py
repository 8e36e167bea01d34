"""Tests of the benchmark's own generator, oracle and tracer helpers.

Run from the root of the repository (no Spark session is started)::

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from tracing import Span, Tracer, _covered  # noqa: E402

FILES = ("embeddings.parquet", "documents.parquet", "queries.parquet", "appends.parquet")


def _digests(path: str) -> dict[str, str]:
    out = {}
    for name in FILES:
        with open(os.path.join(path, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    gen.generate(7, str(tmp_path / "a"))
    gen.generate(7, str(tmp_path / "b"))
    gen.generate(8, str(tmp_path / "c"))
    a, b, c = (_digests(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert all(a[name] != c[name] for name in FILES)


def test_generated_ids_are_disjoint_and_docs_cover_the_corpus(tmp_path):
    inputs = gen.generate(3, str(tmp_path))
    appended = np.concatenate([inputs.append_ids(b) for b in range(gen.APPEND_BATCHES)])
    ids = np.concatenate([inputs.corpus_ids, inputs.query_ids, appended])
    assert len(np.unique(ids)) == len(ids)
    lengths = [len(t) for t in inputs.texts]
    assert len(lengths) == gen.CORPUS_ROWS
    assert gen.DOC_CHARS[0] <= min(lengths) and max(lengths) <= gen.DOC_CHARS[1]


def _small_index(seed=0, n=400, dim=16, clusters=8):
    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((clusters, dim))
    labels = rng.integers(0, clusters, n)
    vecs = (cents[labels] + 0.3 * rng.standard_normal((n, dim))).astype(np.float32)
    return oracle.ProbeIndex(np.arange(clusters), cents, np.arange(n), vecs, labels), rng


def test_seq_dot_matches_a_left_to_right_loop():
    rng = np.random.default_rng(1)
    rows, q = rng.standard_normal((5, 33)), rng.standard_normal(33)
    for r, got in zip(rows, oracle.seq_dot(rows, q)):
        acc = 0.0
        for x, y in zip(r, q):
            acc = acc + x * y
        assert got == acc


def test_round_half_up_uses_the_shortest_decimal_form():
    assert oracle.round_half_up([0.0000005, -0.0000005, 2.5e-7], 6).tolist() == [1e-6, -1e-6, 0.0]
    assert oracle.round_half_up([0.1234565], 6)[0] == 0.123457


def test_probe_replay_matches_the_engine_rule():
    from gpu_accelerated_vector_indexing_spark.operators.ivf import probe_labels

    index, rng = _small_index()
    rows = [(int(c), [float(x) for x in v]) for c, v in zip(index.cluster_ids, index.centroids)]
    for _ in range(20):
        q = rng.standard_normal(index.centroids.shape[1])
        assert index.probes(q, 3).tolist() == probe_labels(rows, q.tolist(), 3)


def _answer(index, q, k=5, n_probe=3):
    expected = index.expected(q, n_probe, k)
    return expected, list(zip(expected[2].tolist(), expected[3].tolist()))


def test_oracle_accepts_the_exact_answer():
    index, rng = _small_index()
    q = rng.standard_normal(16)
    expected, rows = _answer(index, q)
    assert oracle.check_topk(rows, expected, 5) is None
    assert oracle.check_topk(list(reversed(rows)), expected, 5) is None  # order-free


def test_oracle_flags_a_swapped_id():
    index, rng = _small_index()
    q = rng.standard_normal(16)
    expected, rows = _answer(index, q)
    outside = next(int(i) for i in expected[0] if int(i) not in dict(rows))
    swapped = [(outside, rows[0][1])] + rows[1:]
    assert "scored" in oracle.check_topk(swapped, expected, 5)


def test_oracle_flags_a_score_off_by_1e_4():
    index, rng = _small_index()
    q = rng.standard_normal(16)
    expected, rows = _answer(index, q)
    off = rows[:2] + [(rows[2][0], rows[2][1] + 1e-4)] + rows[3:]
    assert oracle.check_topk(off, expected, 5) is not None


def test_oracle_flags_missing_and_duplicate_rows():
    index, rng = _small_index()
    q = rng.standard_normal(16)
    expected, rows = _answer(index, q)
    assert "rows" in oracle.check_topk(rows[:4], expected, 5)
    assert "duplicate" in oracle.check_topk(rows[:4] + rows[:1], expected, 5)


def test_recall_counts_shared_ids():
    assert oracle.recall([1, 2, 3, 4, 5], [5, 4, 3, 9, 8]) == pytest.approx(0.6)


def test_covered_merges_overlapping_job_intervals():
    assert _covered([(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)], 0.0, 10.0) == pytest.approx(4.0)
    assert _covered([(1.0, 3.0)], 2.0, 10.0) == pytest.approx(1.0)


def test_self_time_subtracts_child_spans():
    t = Tracer(spark=None, enabled=True)
    t.spans = [Span("op", 0.0, 1.0, None, 0), Span("a", 0.1, 0.4, 0, 0), Span("b", 0.5, 0.9, 0, 0)]
    ms = t.self_times()
    assert ms["op"] == pytest.approx(300.0)
    assert ms["a"] == pytest.approx(300.0)


def test_disabled_tracer_records_nothing():
    t = Tracer(spark=None, enabled=False)
    with t.op("search"):
        with t.span("engine.search"):
            pass
    assert t.spans == [] and t.ops == []


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
