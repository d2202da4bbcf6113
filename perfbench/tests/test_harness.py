"""Tests for the benchmark harness's own parts (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pytest

from perfbench import eventlog, generators as gen
from perfbench.harness import percentile, tail_percentile
from perfbench.tracing import Recorder, Span, covered, self_time

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "eventlog_small.jsonl")


# -- generators ------------------------------------------------------------
@pytest.mark.parametrize("make", [
    lambda s: gen.upsert_preload(s, 1000),
    lambda s: gen.upsert_batch(s, 3, 500),
    lambda s: gen.corpus(s, n_random=50, n_stars=4, n_chains=3),
])
def test_generators_are_deterministic_per_seed(make):
    a, b, c = make(7), make(7), make(8)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(c)


def test_upsert_batches_differ_by_index_and_stay_in_key_space():
    a, b = gen.upsert_batch(1, 0, 2000), gen.upsert_batch(1, 1, 2000)
    assert not a.equals(b)
    for df in (a, b):
        assert df["k"].between(0, gen.UPSERT_GROUPS - 1).all()
        # Zipf skew: some key repeats
        assert df["k"].nunique() < len(df)


def test_corpus_families_avoid_the_lsh_miss_region():
    df = gen.corpus(3, n_random=40, n_stars=5, n_chains=4)
    assert df["doc_id"].is_unique
    words = {d: t.split(" ") for d, t in zip(df["doc_id"], df["text"])}
    js = [gen.jaccard(words[a], words[b])
          for a in words for b in words if a < b]
    assert any(j >= gen.SAFE_TRUE_PAIR for j in js)       # planted pairs
    assert not any(0.5 <= j < gen.SAFE_TRUE_PAIR for j in js)


def test_chain_is_transitive_only():
    # neighbours pair, two steps apart do not
    base = [f"w{i}" for i in range(gen.FAMILY_DOC_WORDS)]
    step1 = list(base)
    step2 = list(base)
    for j in range(gen.CHAIN_EDITS):
        step1[2 + j * gen.SLOT] = f"x{j}"
        step2[2 + j * gen.SLOT] = f"x{j}"
        step2[2 + (j + gen.CHAIN_EDITS) * gen.SLOT] = f"y{j}"
    assert gen.jaccard(base, step1) >= gen.SAFE_TRUE_PAIR
    assert gen.jaccard(step1, step2) >= gen.SAFE_TRUE_PAIR
    assert gen.jaccard(base, step2) < 0.5


# -- tail rule -------------------------------------------------------------
@pytest.mark.parametrize("n, p", [
    (40, 75.0), (99, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0),
    (9999, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    assert n * (100 - p) / 100 >= 10 - 1e-9


@pytest.mark.parametrize("n", [1, 12, 39])
def test_short_runs_keep_the_lowest_rung(n):
    assert tail_percentile(n) == 75.0


def test_percentile_interpolates():
    assert percentile(list(range(101)), 90.0) == pytest.approx(90.0)
    assert percentile([1.0, 2.0, 3.0, 4.0, 5.0], 75.0) == pytest.approx(4.0)


# -- spans -----------------------------------------------------------------
def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, end, parent)


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5)
    assert covered(0, 10, [(-5, 2), (9, 20)]) == pytest.approx(3)
    assert covered(0, 10, [(11, 12)]) == 0


def test_self_time_counts_parallel_children_once():
    root = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 6.0, 0), _span(2, 2.0, 7.0, 0),
            _span(3, 8.0, 9.0, 0)]
    assert self_time(root, kids) == pytest.approx(10 - 6 - 1)
    assert self_time(kids[0], []) == pytest.approx(5.0)


def test_recorder_builds_one_tree_across_the_dispatch_pool():
    rec = Recorder()

    def view_work(i):
        with rec.span("engine.process_batch", view=f"v{i}"):
            with rec.span("matrel.merge"):
                pass

    def read():
        with rec.span("engine.read_view"):
            pass

    with rec.span("engine.insert") as root:
        with ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(view_work, range(2)))
        # a span on an unrelated thread is not adopted by the open insert
        t = threading.Thread(target=read, name="reader")
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()

    idx = rec.children_index()
    tree = rec.tree(root, idx)
    names = sorted(sp.name for sp in tree)
    assert names == ["engine.insert", "engine.process_batch",
                     "engine.process_batch", "matrel.merge", "matrel.merge"]
    reader = [sp for sp in rec.spans if sp.name == "engine.read_view"]
    assert reader[0].parent is None


def test_disabled_and_paused_recorders_record_nothing():
    rec = Recorder()
    rec.enabled = False
    with rec.span("a"):
        pass
    rec.enabled = True
    with rec.paused():
        with rec.span("b"):
            pass
    assert rec.spans == []


# -- event log -------------------------------------------------------------
def test_eventlog_parser_totals_tasks_per_job():
    with open(FIXTURE) as f:
        jobs = eventlog.parse_lines(f)
    assert [j.job_id for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert j0.app == "local-1000"
    assert (j0.submit, j0.end) == (1000.1, 1000.31)
    assert j0.tasks == 3
    assert j0.executor_run_s == pytest.approx(0.23)
    assert j0.gc_s == pytest.approx(0.005)
    assert j0.shuffle_write_bytes == 1000
    assert j0.shuffle_read_bytes == 1000
    assert j0.input_bytes == 5120
    assert j0.spill_bytes == 1536
    # stage 1 ran under job 0; job 1 only lists it as skipped
    assert j1.tasks == 1 and j1.input_bytes == 2048


def test_eventlog_window_attribution(tmp_path):
    (tmp_path / "app").mkdir()
    with open(FIXTURE) as src, open(tmp_path / "app" / "local-1000",
                                    "w") as dst:
        dst.write(src.read())
    jobs = eventlog.parse_dir(str(tmp_path))
    assert len(jobs) == 2
    assert [j.job_id for j in eventlog.in_window(jobs, 1000.0, 1000.5)] \
        == [0, 1]
    assert eventlog.in_window(jobs, 1000.2, 1000.3) == []


# -- per-layer attribution -------------------------------------------------
def _closed(rec, name, start, end, parent=None):
    sp = Span(len(rec.spans), name, start, end, parent)
    rec.spans.append(sp)
    return sp


def test_per_layer_splits_a_parallel_commit():
    from perfbench.metrics import per_layer
    from perfbench.workloads import Measured, Op

    rec = Recorder()
    root = _closed(rec, "engine.insert", 100.0, 102.0)
    pb1 = _closed(rec, "engine.process_batch", 100.2, 101.2, root.sid)
    pb2 = _closed(rec, "engine.process_batch", 100.4, 101.6, root.sid)
    mg = _closed(rec, "matrel.merge", 100.5, 101.0, pb1.sid)
    _closed(rec, "manifestio.read", 100.5, 100.6, mg.sid)
    _closed(rec, "manifestio.write", 100.9, 101.0, mg.sid)
    op = Op("commit", 99.9, 102.1, 2.2, traced=True, first_span=0)
    m = Measured(1.0, 10, 2.2, commits=[op])
    jobs = [eventlog.Job(0, "a", 100.3, 100.9, tasks=4,
                         shuffle_write_bytes=100),
            eventlog.Job(1, "a", 103.0, 103.5, tasks=2)]
    out = per_layer(m, rec, jobs, {"engine.parallel_speedup": 1.5})
    # the two process_batch spans together cover [100.2, 101.6]
    assert out["engine.insert_self_s"] == pytest.approx(2.0 - 1.4)
    assert out["engine.worker_s"] == pytest.approx((1.0 - 0.5) + 1.2)
    assert out["engine.dispatch_overlap"] == pytest.approx(2.2 / 2.0)
    assert out["matrel.merge_s"] == pytest.approx(0.5)
    assert out["matrel.merge_self_s"] == pytest.approx(0.3)
    assert out["manifestio.reads_per_commit"] == 1
    assert out["manifestio.writes_per_commit"] == 1
    assert out["trace.unaccounted_s"] == pytest.approx(0.2)
    # the job outside the window is not the commit's
    assert out["spark.jobs_per_commit"] == 1
    assert out["spark.tasks_per_commit"] == 4
    assert out["spark.shuffle_bytes_per_commit"] == 100
    assert out["engine.parallel_speedup"] == 1.5
    assert out["operators.dedup_clusters_s"] == 0.0


# -- engine CPU accounting -------------------------------------------------
def test_children_include_those_started_from_other_threads():
    import subprocess

    from perfbench import harness
    started, done = threading.Event(), threading.Event()
    procs = []

    def spawn():
        procs.append(subprocess.Popen(["sleep", "30"]))
        started.set()
        done.wait()

    t = threading.Thread(target=spawn)
    t.start()
    started.wait()
    try:
        assert procs[0].pid in harness._children(os.getpid())
    finally:
        done.set()
        t.join()
        procs[0].kill()
        procs[0].wait()


def test_process_cpu_counts_a_busy_child_and_not_a_gone_one():
    import subprocess
    import sys
    import time

    from perfbench import harness
    busy = subprocess.Popen([sys.executable, "-c", "while True: pass"])
    try:
        time.sleep(0.5)
        a = harness._process_cpu_s(busy.pid)
        time.sleep(0.5)
        b = harness._process_cpu_s(busy.pid)
        assert 0.0 < a < b
    finally:
        busy.kill()
        busy.wait()
    assert harness._process_cpu_s(busy.pid) == 0.0


def test_end_to_end_reads_cpu_and_wall_keeps_wall():
    from perfbench.metrics import END_TO_END, end_to_end, wall
    from perfbench.workloads import Measured, Op
    commits = [Op("commit", 0, 1, secs, cpu=cpu)
               for secs, cpu in ((1.0, 2.0), (3.0, 1.0), (2.0, 4.0))]
    reads = [Op("point", 0, 1, 0.1, cpu=0.3), Op("scan", 0, 1, 0.2, cpu=0.5)]
    m = Measured(5.0, 300, 6.0, cpu_s=7.0, commits=commits, reads=reads,
                 jobs=commits, freshness=[1.1, 3.1, 2.1],
                 read_latency={"point": [0.1], "scan": [0.2]})
    out = end_to_end(m, attempted=10, failed=1, mem_mb={"peak_rss": 9.0})
    assert list(out) == [name for name, _u, _b in END_TO_END]
    assert out["rows_per_cpu_s"] == pytest.approx(300 / 7.0)
    assert out["commit_cpu_p50_s"] == 2.0
    assert out["point_read_cpu_p50_s"] == 0.3
    assert out["scan_read_cpu_p50_s"] == 0.5
    assert out["job_cpu_s"] == 2.0
    assert out["ok_ratio"] == pytest.approx(0.9)
    w = wall(m)
    assert w["commit_p50_s"] == 2.0
    assert w["rows_per_s"] == pytest.approx(50.0)
    assert w["freshness_p50_s"] == pytest.approx(2.1)


# -- compare ---------------------------------------------------------------
def _record(nproc, value):
    return {"workload": "w", "trace": 0, "env": {"nproc": nproc},
            "metrics": {"commit_cpu_p50_s": {"value": value, "unit": "s"}},
            "wall": {"commit_p50_s": 2 * value}}


def test_compare_refuses_mixed_core_counts(tmp_path, capsys):
    import json

    from perfbench import compare
    a, b = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    a.write_text(json.dumps(_record(4, 1.0)) + "\n")
    b.write_text(json.dumps(_record(32, 0.5)) + "\n")
    assert compare.main([str(a), str(b)]) == 2
    assert "different core counts" in capsys.readouterr().err
    b.write_text(json.dumps(_record(4, 0.5)) + "\n")
    assert compare.main([str(a), str(b)]) == 0
    out = capsys.readouterr().out
    assert "commit_cpu_p50_s" in out and "wall.commit_p50_s" in out
    assert out.count("x0.500") == 2
