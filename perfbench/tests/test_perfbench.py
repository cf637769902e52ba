"""Self-tests of the benchmark's own logic; none of them starts Spark.

    python -m pytest perfbench/tests -q
"""

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

from perfbench import inputs, oracle, run, stats
from perfbench.eventlog import EventLog
from perfbench.workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))


# -- tail percentile ------------------------------------------------------------
@pytest.mark.parametrize("n", [1, 2, 9, 14, 20, 21, 22, 30, 100, 1000])
def test_tail_has_ten_samples_beyond_it(n):
    xs = list(np.random.default_rng(n).permutation(n).astype(float))
    value, pct, count = stats.tail(xs)
    s = sorted(xs)
    beyond = sum(x > value for x in s)
    assert count == n
    assert value >= stats.median(xs)
    if n >= 22:
        assert beyond == 10                     # the highest rank with ten beyond
        assert pct == pytest.approx(100.0 * (n - 10) / n)
    else:
        assert value == s[n // 2]               # the upper median below 22 samples


def test_tail_reads_p90_at_one_hundred_samples():
    value, pct, _ = stats.tail([float(i) for i in range(1, 101)])
    assert (value, pct) == (90.0, 90.0)


# -- self time ----------------------------------------------------------------------
def test_self_time_subtracts_union_of_children():
    children = [(1, 3), (2, 4), (6, 7), (9, 12), (-5, -1)]
    # covered inside (0, 10): [1, 4] + [6, 7] + [9, 10] = 5
    assert stats.self_time(0, 10, children) == pytest.approx(5)
    assert stats.self_time(0, 10, []) == 10
    assert stats.self_time(0, 10, [(0, 10), (2, 3)]) == 0


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4)


# -- event log -------------------------------------------------------------------------
def test_event_log_parser_on_recorded_log():
    """A trimmed Spark 4.1 log: op-1 is a top-k, op-2 a k-NN join whose
    kernel runs in Python workers."""
    log = EventLog.read(os.path.join(HERE, "data"))
    topk, join = log.groups["op-1"], log.groups["op-2"]
    assert (topk["spark.jobs"], topk["spark.stages"], topk["spark.tasks"]) == (1, 2, 5)
    assert (join["spark.jobs"], join["spark.stages"], join["spark.tasks"]) == (4, 5, 14)
    assert topk["executor.run_ms"] == 514 and topk["executor.gc_ms"] == 60
    assert topk["executor.cpu_ms"] == pytest.approx(177.674762)
    assert topk["shuffle.write_bytes"] == topk["shuffle.read_bytes"] == 1253
    assert topk["python.run_ms"] == 0
    assert (join["python.run_ms"], join["python.boot_ms"], join["python.init_ms"]) == (10675, 4949, 5658)
    assert (join["python.bytes_sent"], join["python.bytes_received"]) == (137280, 4416)
    assert (topk["catalyst.executions"], join["catalyst.executions"]) == (1, 2)
    assert log.job_intervals("op-1") == [(1792208270.508, 1792208270.806)]
    assert len(log.job_intervals("op-2")) == 4


# -- inputs -------------------------------------------------------------------------------
def _input_digest(seed):
    h = hashlib.sha256()
    h.update(inputs.clustered(seed, "serve-table", 500).tobytes())
    h.update(inputs.queries_near(seed, "q", inputs.clustered(seed, "t", 50), 5, 3).tobytes())
    vocab = inputs.vocabulary(seed, 200)
    doc = inputs.original_doc(seed, vocab, 7)
    h.update(doc.encode())
    h.update(inputs.near_copy(seed, vocab, doc, 8).encode())
    ids, vecs = inputs.t1_grid()
    table = inputs.vectors_table(ids, vecs)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def test_same_seed_gives_identical_bytes():
    assert _input_digest(1) == _input_digest(1)


def test_other_seed_gives_other_bytes():
    assert _input_digest(1) != _input_digest(2)


def _jaccard(a, b, n=3):
    """Word 3-shingle Jaccard, the similarity the store's MinHash estimates."""
    sa, sb = ({tuple(w[i:i + n]) for i in range(len(w) - n + 1)} for w in (a.split(" "), b.split(" ")))
    return len(sa & sb) / len(sa | sb)


def test_near_copy_is_a_near_duplicate():
    vocab = inputs.vocabulary(3, 500)
    doc = inputs.original_doc(3, vocab, 11)
    assert 0.7 < _jaccard(doc, inputs.near_copy(3, vocab, doc, 12)) < 1.0
    assert _jaccard(doc, inputs.original_doc(3, vocab, 13)) < 0.05


# -- oracle ---------------------------------------------------------------------------------
def _grid():
    ids, vecs = inputs.t1_grid()
    return oracle.Table(ids, vecs), ids, vecs


def test_oracle_accepts_any_choice_among_ties():
    t, ids, vecs = _grid()
    pos = {tuple(v): int(i) for i, v in zip(ids, vecs)}
    centre = pos[(5, 5, 5)]
    for a, b in [((4, 5, 5), (6, 5, 5)), ((5, 4, 5), (5, 5, 6))]:
        failed, recall = oracle.check_topk(t, [5, 5, 5], "l2sq", 3, [centre, pos[a], pos[b]], None,
                                           tiebreak=False, exact=True)
        assert failed == [] and recall == 1.0


def test_oracle_rejects_a_wrong_distance_and_a_wrong_order():
    t, ids, vecs = _grid()
    pos = {tuple(v): int(i) for i, v in zip(ids, vecs)}
    far = [pos[(5, 5, 5)], pos[(4, 5, 5)], pos[(4, 4, 5)]]
    failed, _ = oracle.check_topk(t, [5, 5, 5], "l2sq", 3, far, None, tiebreak=False, exact=True)
    assert failed == ["wrong_distance_multiset"]
    want, _ = oracle.exact_order(ids, vecs, [5, 5, 5], "l2sq", 3)
    swapped = [int(want[0]), int(want[2]), int(want[1])]
    failed, _ = oracle.check_topk(t, [5, 5, 5], "l2sq", 3, swapped, None, tiebreak=True, exact=True)
    assert failed == ["wrong_ids_or_order"]


def test_oracle_fails_deleted_ids_and_wrong_scores():
    t, ids, vecs = _grid()
    got, _ = oracle.exact_order(ids, vecs, [1, 2, 3], "cosine", 3)
    good = oracle.scores(np.array([t.vec(i) for i in got]), [1, 2, 3], "cosine")
    assert oracle.check_topk(t, [1, 2, 3], "cosine", 3, got, good, tiebreak=False, exact=False)[0] == []
    assert "wrong_score" in oracle.check_topk(t, [1, 2, 3], "cosine", 3, got, good + 1e-3,
                                              tiebreak=False, exact=False)[0]
    t.delete([int(got[0])])
    assert oracle.check_topk(t, [1, 2, 3], "cosine", 3, got, good, tiebreak=False,
                             exact=False)[0] == ["deleted_or_unknown_id"]


def test_oracle_prefilter_agrees_with_full_ranking():
    x = inputs.clustered(5, "big", oracle.PREFILTER_ROWS + 1000)
    ids = np.arange(len(x), dtype=np.int64)
    q = x[17] + 0.1
    for metric in ("l2sq", "cosine", "ip"):
        _, got_keys = oracle.exact_order(ids, x, q, metric, 10)
        full = oracle.key(oracle.scores(x, q, metric), metric)
        assert np.allclose(got_keys, np.sort(full)[:10])


# -- the benchmark's contract ------------------------------------------------------------------
def test_benchmark_json_matches_the_metrics_the_run_prints():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve_small", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
                       timeout=60)
    assert p.returncode != 0 and p.stdout == ""
