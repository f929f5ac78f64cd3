"""Tests for the benchmark's own logic (no Spark needed).

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import itertools
import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402

SMALL = gen.InputSpec(n_docs=200, n_embedded=80, n_libraries=20, tpch_sf=0.001)


def _files(d) -> dict[str, bytes]:
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_tables_are_byte_identical_for_a_seed_and_differ_across_seeds(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_tables(gen.make_tables(seed, SMALL), str(tmp_path / name))
    a, b, c = (_files(tmp_path / n) for n in "abc")
    assert sorted(a) == [f"{t}.parquet" for t in sorted(
        ["documents", "embeddings", "region", "nation", "customer", "supplier",
         "part", "orders", "lineitem", "events"])]
    assert a == b
    assert all(a[f] != c[f] for f in a if f not in ("region.parquet", "nation.parquet"))


def test_libraries_are_balanced():
    docs = gen.make_tables(3, SMALL)["documents"].to_pydict()
    counts = {s: docs["source"].count(s) for s in set(docs["source"])}
    assert len(counts) == 20 and set(counts.values()) == {10}


def _serve_logs(seed: int, n_reads: int = 30, spec: gen.InputSpec = SMALL):
    docs = gen.make_tables(seed, spec)["documents"].to_pydict()
    texts: dict[str, list[str]] = {}
    for t, s in zip(docs["text"], docs["source"]):
        texts.setdefault(s, []).append(t)
    keys = list(gen.READ_PATHS) + [f"w-{p}" for p in gen.WRITE_PATHS]
    lib_of = gen.assign_paths(seed, sorted(texts), keys)
    served = {p: lib_of[p] for p in gen.READ_PATHS}
    warm = gen.warm_up_requests(seed, texts, served)
    reads = [list(itertools.islice(gen.reader_log(seed, texts, served, i), n_reads)) for i in range(3)]
    models = {
        p: gen.LibraryModel(p, lib_of[f"w-{p}"], {str(i): ("t", np.zeros(2)) for i in range(10)})
        for p in gen.WRITE_PATHS
    }
    writes = gen.write_group(seed, models, 1000)
    return lib_of, warm, reads, writes


def _shape(r):
    return (r.path, r.k, r.lang is None, r.mode, r.ranking, r.fusion)


def test_request_and_write_logs_repeat_for_a_seed_and_differ_across_seeds():
    assert _serve_logs(5) == _serve_logs(5)
    lib_a, warm_a, reads_a, writes_a = _serve_logs(5)
    lib_b, warm_b, reads_b, writes_b = _serve_logs(6)
    assert warm_a != warm_b and reads_a != reads_b and writes_a != writes_b
    assert len(set(lib_a.values())) == len(lib_a)  # one library per path


def test_request_shapes_are_fixed_and_every_run_of_fresh_requests_covers_all():
    _, warm_a, reads_a, _ = _serve_logs(5, n_reads=60)
    _, warm_b, reads_b, _ = _serve_logs(6, n_reads=60)
    assert [_shape(r) for r in warm_a] == [_shape(r) for r in warm_b]
    assert [[_shape(r) for r in log] for log in reads_a] == [[_shape(r) for r in log] for log in reads_b]
    assert sorted(r.path for r in warm_a) == sorted(gen.READ_PATHS)
    n_shapes = len(gen.READ_PATHS) * gen.SLOTS
    for log in reads_a:
        assert len({_shape(r) for r in log[:n_shapes]}) == n_shapes
    # concurrent readers start on different paths with different shapes,
    # and their first three requests between them ask every path
    assert len({_shape(log[0]) for log in reads_a}) == 3
    assert {r.path for log in reads_a for r in log[:3]} == set(gen.READ_PATHS)


def test_the_window_repeats_no_request_and_no_warm_up_request():
    # at the benchmark's size: in tiny libraries two draws can pick the same span
    _, warm, reads, _ = _serve_logs(5, n_reads=60, spec=gen.SERVE_INPUTS)
    sent = [r for log in reads for r in log]
    assert len(set(sent)) == len(sent)
    assert not set(warm) & set(sent)


def test_write_group_makes_every_write_once_on_its_own_library():
    _, _, _, writes = _serve_logs(5)
    assert [(w.op, w.path) for w in writes] == [("ingest", "bm25"), ("update", "lsh"), ("delete", "ivf")]
    ingest, update, delete = writes
    assert 1 <= len(update.ids) <= 3 and len(update.texts) == len(update.ids)
    assert 1 <= len(delete.ids) <= 3 and not delete.texts
    assert len(set(ingest.ids)) == 20 and all(int(i) >= 1000 for i in ingest.ids)  # fresh ids
    texts = update.texts + ingest.texts
    assert len({t.split()[-1] for t in texts}) == len(texts)  # a token no other chunk has


# -- percentiles ---------------------------------------------------------------


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 99) == 99
    assert stats.median([3, 1, 2]) == 2


@pytest.mark.parametrize(
    "n, q, reported",
    [(100, 90, True), (99, 90, False), (109, 90, True), (200, 95, True), (199, 95, False), (19, 50, False), (20, 50, True)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, q, reported):
    v = stats.tail_percentile([float(i) for i in range(n)], q)
    assert (v is not None) == reported


def test_geomean_of_medians_weighs_every_group_the_same():
    assert stats.geomean_of_medians({"a": [1.0, 4.0, 9.0], "b": [16.0]}) == pytest.approx(8.0)
    # more samples of one group do not move it; a factor on one group moves it by its root
    assert stats.geomean_of_medians({"a": [4.0] * 9, "b": [16.0]}) == pytest.approx(8.0)
    assert stats.geomean_of_medians({"a": [4.0], "b": [64.0]}) == pytest.approx(16.0)
    assert stats.geomean_of_medians({"a": [], "b": [5.0]}) == pytest.approx(5.0)


def test_work_in_window_counts_cut_operations_in_part():
    ops = [(0.0, 4.0), (4.0, 12.0), (9.0, 10.0), (10.0, 11.0), (-2.0, 2.0)]
    assert stats.work_in_window(ops, 0.0, 10.0) == pytest.approx(1 + 0.75 + 1 + 0 + 0.5)
    assert stats.work_in_window([], 0.0, 10.0) == 0.0


def test_highest_reportable_picks_the_highest_qualifying_percentile():
    assert stats.highest_reportable(list(range(1000)))[0] == 99.0
    assert stats.highest_reportable(list(range(300)))[0] == 95.0
    assert stats.highest_reportable(list(range(100)))[0] == 90.0
    assert stats.highest_reportable(list(range(50))) is None


# -- spans -----------------------------------------------------------------------


def _span(i, name, parent, start, end):
    return spans.Span(i, name, "r", parent, start, end)


def test_self_time_subtracts_the_union_of_children():
    tree = [
        _span("root", "bench.request", None, 0.0, 10.0),
        _span("a", "service.search.build", "root", 1.0, 4.0),
        _span("b", "operators.exec", "root", 3.0, 6.0),  # overlaps a by 1 s
        _span("c", "spark.stages", "b", 5.0, 8.0),  # runs past its parent
    ]
    self_ms = spans.self_times(tree)
    assert self_ms["root"] == pytest.approx(5000.0)  # 10 - |[1, 6]|
    assert self_ms["a"] == pytest.approx(3000.0)
    assert self_ms["b"] == pytest.approx(2000.0)  # 3 - |[5, 6]|
    assert self_ms["c"] == pytest.approx(3000.0)
    table = spans.layer_table(tree)
    assert table["operators"]["self_ms"] == pytest.approx(2000.0)
    assert table["bench"]["spans"] == 1


def test_union_length_merges_overlaps():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_jobs_are_charged_to_their_group_or_the_one_open_innermost_span():
    open_spans = [
        _span("s1", "service.search.build", None, 0.0, 2.0),
        _span("s2", "service.search.build", None, 1.5, 3.0),
        _span("s3", "operators.exec", None, 4.0, 5.0),
    ]
    jobs = {
        0: spans.JobStats("s1", 0.5),
        1: spans.JobStats(None, 1.0),  # only s1 open
        2: spans.JobStats(None, 1.8),  # s1 and s2 open: ambiguous
        3: spans.JobStats(None, 4.5),
    }
    owned, orphans = spans.attribute_jobs(open_spans, jobs)
    assert owned == {"s1": [0, 1], "s3": [3]}
    assert orphans == [2]


def test_event_log_counts_are_charged_to_spans(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "s1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
         "Stage IDs": [1, 2], "Properties": {}},  # stage 1 reused: skipped here
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 1400}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Submission Time": 1300, "Completion Time": 1800}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "Submission Time": 2500, "Completion Time": 2700}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 30,
         "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 20,
         "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 5}},
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    tr = spans.Tracer(True)
    tr.spans = [
        _span("r", "bench.request", None, 0.5, 3.0),
        _span("s1", "service.search.build", "r", 0.9, 2.0),
        _span("s2", "operators.exec", "r", 2.4, 3.0),
    ]
    summary = spans.attach_spark(tr, [str(log)])
    assert summary == {"jobs": 2, "unattributed_jobs": 0}
    s1 = tr.spans[1].attrs["spark"]
    assert (s1["jobs"], s1["tasks"], s1["executor_run_ms"], s1["shuffle_bytes"]) == (1, 2, 50, 200)
    assert s1["stage_active_ms"] == pytest.approx(800.0)  # [1.0, 1.8]
    total = spans.subtree_spark(tr.spans, "r")
    assert (total["jobs"], total["tasks"], total["executor_run_ms"]) == (2, 3, 55)
    assert total["stage_active_ms"] == pytest.approx(1000.0)
    assert total["sched_gap_ms"] == pytest.approx(1500.0)  # 2.5 s wall - 1.0 s active


def test_tracer_disabled_records_nothing():
    tr = spans.Tracer(False)
    with tr.span("service.search.build") as sp:
        assert sp is None
    assert tr.spans == []


def test_tracer_nests_spans_per_thread():
    tr = spans.Tracer(True)
    with tr.span("bench.request", rid="q1"):
        with tr.span("service.search.build"):
            pass
    inner, outer = tr.spans
    assert inner.parent == outer.id and inner.rid == "q1"


# -- correctness checks ----------------------------------------------------------


def _truth():
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((30, 8))
    ids = [f"d{i}" for i in range(30)]
    q = rng.standard_normal(8)
    return checks.cosine_scores(ids, vecs, q)


def test_exact_topk_passes():
    truth = _truth()
    best = sorted(truth.items(), key=lambda kv: -kv[1])[:5]
    assert checks.check_topk(best, truth, 5) is None


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda got, truth: got[:-1],  # too few hits
        lambda got, truth: got[:-1] + [min(truth.items(), key=lambda kv: kv[1])],  # not top-k
        lambda got, truth: [(got[0][0], got[0][1] + 0.01)] + got[1:],  # wrong score
        lambda got, truth: got[::-1],  # wrong order
        lambda got, truth: got[:-1] + [("nope", got[-1][1])],  # not a candidate
    ],
)
def test_a_forced_wrong_answer_is_counted_as_failed(corrupt):
    truth = _truth()
    best = sorted(truth.items(), key=lambda kv: -kv[1])[:5]
    tally = checks.Tally()
    tally.record("search brute ok", checks.check_topk(best, truth, 5))
    tally.record("search brute bad", checks.check_topk(corrupt(best, truth), truth, 5))
    assert (tally.attempted, tally.failed) == (2, 1)
    assert tally.failures[0].startswith("search brute bad")


def test_a_changed_answer_to_a_repeated_request_fails():
    book = checks.AnswerBook()
    assert book.check("req", (("a", 1.0),)) is None
    assert book.check("req", (("a", 1.0),)) is None
    assert book.check("req", (("a", 0.9),)) is not None


def test_read_after_write_membership():
    assert checks.check_membership(["a", "b"], "a", present=True) is None
    assert checks.check_membership(["a", "b"], "c", present=True) is not None
    assert checks.check_membership(["a", "b"], "a", present=False) is not None
