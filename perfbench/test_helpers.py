"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json

import numpy as np
import pytest

from corpus import CorpusSpec, generate
from helpers import min_samples, rows_digest, tail_percentile, tree_rss, union_find_components
from tracing import fold_event_log

SPEC = CorpusSpec(
    docs=40, entities=30, statements=(2, 5), text_spans=(1, 3),
    literal_share=0.4, dup_share=0.3, media_share=0.3,
)


def test_generator_same_seed_is_byte_identical():
    a, b = generate(SPEC, 7), generate(SPEC, 7)
    assert repr(a).encode() == repr(b).encode()


def test_generator_other_seed_differs():
    assert repr(generate(SPEC, 7)) != repr(generate(SPEC, 8))


def test_generator_varies_the_workload_properties():
    rows = generate(SPEC, 3)
    kinds = [k for _d, spans in rows for k, *_ in spans]
    assert "media" in kinds and "text" in kinds
    dense = generate(CorpusSpec(**{**SPEC.__dict__, "media_share": 0.0}), 3)
    assert all(k == "text" for _d, spans in dense for k, *_ in spans)
    for _d, spans in rows:
        offsets = [o for *_x, o in spans]
        assert offsets == sorted(set(offsets))  # strictly increasing per doc


def test_percentile_needs_ten_samples_beyond():
    with pytest.raises(ValueError):
        tail_percentile(list(range(99)), 90)
    p = tail_percentile(list(range(1, 101)), 90)
    assert p == {"value": 90, "q": 90, "n": 100, "beyond": 10}
    p50 = tail_percentile([float(x) for x in range(20, 0, -1)], 50)
    assert p50["value"] == 10.0 and p50["n"] == 20 and p50["beyond"] == 10


def test_min_samples_matches_the_rule():
    for q in (50, 75, 90, 99):
        n = min_samples(q)
        tail_percentile(list(range(n)), q)
        with pytest.raises(ValueError):
            tail_percentile(list(range(n - 1)), q)
    assert min_samples(90) == 100 and min_samples(50) == 20


def test_union_find_hand_built_graph():
    # components {1,2,3,7}, {10,11}, {20,30,40} (a chain given out of order)
    src = np.array([3, 2, 7, 11, 40, 30])
    dst = np.array([2, 1, 3, 10, 30, 20])
    nodes, comp = union_find_components(src, dst)
    assert dict(zip(nodes.tolist(), comp.tolist())) == {
        1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10, 20: 20, 30: 20, 40: 20,
    }


def test_union_find_long_chain_converges():
    n = 1000
    order = np.random.default_rng(0).permutation(n)
    nodes, comp = union_find_components(order[:-1], order[1:])
    assert len(nodes) == n and (comp == 0).all()


def test_tree_rss_counts_a_memory_sharing_child_once():
    # pid: (ppid, rss).  2 is a spawned child still sharing 1's memory;
    # 3 and 4 are workers with their own; 9 is outside the tree.
    procs = {1: (0, 100), 2: (1, 100), 3: (1, 50), 4: (3, 40), 9: (0, 7)}
    assert tree_rss(1, procs) == 190
    assert tree_rss(3, procs) == 90


def test_rows_digest_is_order_insensitive():
    assert rows_digest([(1, "a"), (2, "b")]) == rows_digest([(2, "b"), (1, "a")])
    assert rows_digest([(1, "a")]) != rows_digest([(1, "b")])


def test_fold_event_log_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "extract"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "linking"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Accumulables": [
            {"Name": "internal.metrics.executorRunTime", "Value": 1500},
            {"Name": "time to run Python workers", "Value": "700"},
            {"Name": "data sent to Python workers", "Value": "4096"},
        ]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Accumulables": [
            {"Name": "internal.metrics.executorRunTime", "Value": 500},
            {"Name": "internal.metrics.diskBytesSpilled", "Value": 10},
            {"Name": "internal.metrics.memoryBytesSpilled", "Value": 5},
        ]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "Accumulables": [
            {"Name": "internal.metrics.executorCpuTime", "Value": 2_000_000_000},
        ]}},
    ]
    (tmp_path / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = fold_event_log(tmp_path)
    assert out["extract"] == {
        "executor_run_s": 2.0, "python_run_s": 0.7, "arrow_sent_bytes": 4096.0, "spill_bytes": 15.0,
    }
    assert out["linking"] == {"executor_cpu_s": 2.0}
