"""Tests of the benchmark's own pure parts (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os

import check
import gen
import run
import spans

TINY = gen.Sizes(sf=0.0005, base_docs=12, base_vecs=8, copies=3)


def _bytes(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_generator_is_deterministic(tmp_path):
    a = gen.generate(5, str(tmp_path / "a"), TINY)
    b = gen.generate(5, str(tmp_path / "b"), TINY)
    c = gen.generate(6, str(tmp_path / "c"), TINY)
    assert _bytes(a) == _bytes(b)
    assert _bytes(a) != _bytes(c)
    assert sorted(_bytes(a)) == sorted(f"{t}.parquet" for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"))


def test_corpus_copies_are_offset_near_duplicates(tmp_path):
    import pyarrow.parquet as pq

    d = gen.generate(3, str(tmp_path / "g"), TINY)
    docs = pq.read_table(f"{d}/documents.parquet").to_pylist()
    vecs = pq.read_table(f"{d}/embeddings.parquet").to_pylist()
    assert [r["doc_id"] for r in docs] == list(range(TINY.n_docs))
    assert len(vecs) == TINY.base_vecs * TINY.copies
    for i in range(TINY.base_docs):
        base = docs[i]["text"].split()
        for c in range(1, TINY.copies):
            copy = docs[c * TINY.base_docs + i]["text"].split()
            assert len(copy) == len(base)
            assert sum(x != y for x, y in zip(base, copy)) <= 1


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_tampered_result_counts_as_failed():
    want = (["k", "v"], [(1, 0.5), (2, None)])
    assert check.matches((["v", "k"], [(None, 2), (0.5, 1)]), want)
    tampered = (["k", "v"], [(1, 0.5), (2, 0.0)])
    assert not check.matches(tampered, want)
    assert not check.matches((["k", "v"], [(1, 0.5)]), want)
    ok = {"q_a": True, "q_b": check.matches(tampered, want)}
    none = {"q_a": 0, "q_b": 0}
    assert check.failed_executions({"q_a": 3, "q_b": 3}, ok, none) == 3
    assert check.failed_executions({"q_a": 3, "q_b": 3}, {"q_a": True, "q_b": True}, none) == 0


def test_failures_are_counted_once_per_execution():
    executions = {"q_a": 4, "q_b": 4, "q_c": 4}
    # q_a raised once and its check failed: 4 failed executions, not 5;
    # q_b raised twice and its check passed: 2; q_c has no checked output
    ok = {"q_a": False, "q_b": True}
    raised = {"q_a": 1, "q_b": 2, "q_c": 0}
    failed = check.failed_executions(executions, ok, raised)
    assert failed == 4 + 2 + 4
    assert failed <= sum(executions.values())


def test_decimal_or_list_output_never_matches():
    import decimal

    assert not check.matches((["x"], [(decimal.Decimal("1"),)]), (["x"], [(1.0,)]))
    assert not check.matches((["x"], [([1],)]), (["x"], [([1],)]))


def test_parse_metric():
    assert spans.parse_metric("1,024") == 1024
    assert spans.parse_metric("2.0 KiB") == 2048
    assert spans.parse_metric("total (min, med, max (stageId: taskId))\n1.5 MiB (0.5 MiB, ...)") == 1.5 * (1 << 20)
    assert spans.parse_metric("avg (min, med, max (stageId: taskId))\n1.0 (1.0, 1.0, 1.0 (stage 2.0: task 7))") == 1.0
    assert spans.parse_metric("250 ms") == 0.25
    assert spans.parse_metric(None) == 0.0


def test_self_time_and_window_attribution():
    sp = [
        {"id": 0, "name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "plans.build", "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "name": "exec", "parent": 0, "start": 3.0, "end": 9.0},
    ]
    assert spans.self_times(sp) == {"op": 2.0, "plans.build": 2.0, "exec": 6.0}
    got = spans.attribute(sp, [{"t": 0.5}, {"t": 2.0}, {"t": 5.0}, {"t": 11.0}])
    assert {k: len(v) for k, v in got.items()} == {0: 1, 1: 1, 2: 1}
