"""Turns a workload's samples into the reported metrics.

``END_TO_END`` is what a user of the engine sees (untraced pass): the
set-up wall time, and what each operation costs in engine CPU seconds.
The wall latencies of the same operations (``wall``) go into the run
record only: on a shared host they move with the CPU time the
hypervisor gives to other guests (30-60% between runs at 1% and 10%
steal), CPU time does not.  ``PER_LAYER`` is what the traced pass reads
off spans, the Spark event log and the matrel's own files.  Every traced run reports every
per-layer metric; a layer a workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics

from perfbench import eventlog
from perfbench.harness import median, percentile, tail_percentile
from perfbench.tracing import Recorder, self_time, ROOT_SPAN
from perfbench.workloads import Measured

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("rows_per_cpu_s", "1/s", "higher"),
    ("commit_cpu_p50_s", "s", "lower"),
    ("commit_cpu_tail_s", "s", "lower"),
    ("point_read_cpu_p50_s", "s", "lower"),
    ("scan_read_cpu_p50_s", "s", "lower"),
    ("read_cpu_tail_s", "s", "lower"),
    ("job_cpu_s", "s", "lower"),
    ("ok_ratio", "ratio", "higher"),
    ("peak_rss_mb", "MiB", "lower"),
]

PER_LAYER = [
    # engine
    ("engine.insert_self_s", "s", "lower"),
    ("engine.worker_s", "s", "lower"),
    ("engine.dispatch_overlap", "ratio", "higher"),
    ("engine.parallel_speedup", "x", "higher"),
    # matrel
    ("matrel.merge_s", "s", "lower"),
    ("matrel.merge_self_s", "s", "lower"),
    ("matrel.rows_written_per_commit", "rows", "lower"),
    ("matrel.bytes_written_per_commit", "bytes", "lower"),
    ("matrel.write_amplification", "ratio", "lower"),
    ("matrel.buckets_touched_per_commit", "count", "lower"),
    ("matrel.read_s", "s", "lower"),
    ("matrel.live_version_dirs", "count", "lower"),
    ("matrel.live_bytes", "bytes", "lower"),
    # manifestio
    ("manifestio.reads_per_commit", "count", "lower"),
    ("manifestio.writes_per_commit", "count", "lower"),
    ("manifestio.read_s", "s", "lower"),
    ("manifestio.write_s", "s", "lower"),
    # operators
    ("operators.lsh_verified_pairs_s", "s", "lower"),
    ("operators.dedup_clusters_s", "s", "lower"),
    ("operators.cluster_loop_jobs", "count", "lower"),
    ("operators.lsh_precision", "ratio", "higher"),
    # analyzer
    ("analyzer.create_view_s", "s", "lower"),
    ("analyzer.analyze_s", "s", "lower"),
    # spark (event log)
    ("spark.jobs_per_commit", "count", "lower"),
    ("spark.tasks_per_commit", "count", "lower"),
    ("spark.executor_run_s_per_commit", "s", "lower"),
    ("spark.shuffle_bytes_per_commit", "bytes", "lower"),
    ("spark.gc_s_per_commit", "s", "lower"),
    ("spark.input_bytes_per_read", "bytes", "lower"),
    ("spark.shuffle_bytes_per_job", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.driver_heap_live_mb", "MiB", "lower"),
    # source (the benchmark's own generator)
    ("source.batch_rows", "rows", "lower"),
    # the tracing itself
    ("trace.overhead_s", "s", "lower"),
    ("trace.unaccounted_s", "s", "lower"),
]


def _tail(values) -> float:
    return percentile(values, tail_percentile(len(values)))


def _med(values) -> float:
    return median(values) if values else 0.0


def end_to_end(m: Measured, attempted: int, failed: int,
               mem_mb: dict) -> dict:
    commits = [op.cpu for op in m.commits]

    def reads(kind):
        return [op.cpu for op in m.reads if op.kind == kind]

    return {
        "setup_s": m.setup_s,
        "rows_per_cpu_s": m.rows / m.cpu_s,
        "commit_cpu_p50_s": median(commits),
        "commit_cpu_tail_s": _tail(commits),
        "point_read_cpu_p50_s": median(reads("point")),
        "scan_read_cpu_p50_s": median(reads("scan")),
        "read_cpu_tail_s": _tail([op.cpu for op in m.reads]),
        "job_cpu_s": median([op.cpu for op in m.jobs]),
        "ok_ratio": 1.0 - failed / attempted,
        "peak_rss_mb": mem_mb["peak_rss"],
    }


def wall(m: Measured) -> dict:
    """Wall-clock figures of the same operations, for the run record."""
    commits = [op.secs for op in m.commits]
    reads = [x for xs in m.read_latency.values() for x in xs]
    return {
        "rows_per_s": m.rows / m.rate_s,
        "commit_p50_s": median(commits),
        "commit_tail_s": _tail(commits),
        "freshness_p50_s": median(m.freshness),
        "freshness_tail_s": _tail(m.freshness),
        "point_read_p50_s": median(m.read_latency["point"]),
        "scan_read_p50_s": median(m.read_latency["scan"]),
        "read_tail_s": _tail(reads),
        "job_s": median([op.secs for op in m.jobs]),
    }


def sample_counts(m: Measured) -> dict:
    """Sample count behind each timing, and the tail percentile the
    rule picked for it."""
    reads = sum(len(xs) for xs in m.read_latency.values())
    out = {}
    for name, n in (("commit", len(m.commits)),
                    ("freshness", len(m.freshness)), ("read", reads),
                    ("job", len(m.jobs))):
        out[name] = {"n": n, "tail_percentile": tail_percentile(n)}
    out["commit"]["series_s"] = [round(op.secs, 4) for op in m.commits]
    out["commit"]["cpu_series_s"] = [round(op.cpu, 3) for op in m.commits]
    out["read"]["cpu_series_s"] = {
        k: [round(op.cpu, 3) for op in m.reads if op.kind == k]
        for k in m.read_latency}
    out["job"]["cpu_series_s"] = [round(op.cpu, 3) for op in m.jobs]
    out["read"]["series_s"] = {k: [round(x, 4) for x in xs]
                               for k, xs in m.read_latency.items()}
    return out


# -- per layer -------------------------------------------------------------
def _root(rec: Recorder, op):
    for sp in rec.spans[op.first_span:]:
        if sp.name == ROOT_SPAN and sp.parent is None and sp.end is not None:
            return sp
    return None


def commit_breakdown(rec: Recorder, op, idx) -> dict | None:
    """Layer split of one traced insert, from its span tree."""
    root = _root(rec, op)
    if root is None:
        return None
    tree = rec.tree(root, idx)

    def named(name):
        return [sp for sp in tree if sp.name == name]

    pbs = named("engine.process_batch")
    return {
        "insert_self": self_time(root, idx.get(root.sid, [])),
        "worker": sum(self_time(sp, idx.get(sp.sid, [])) for sp in pbs),
        "overlap": sum(sp.dur for sp in pbs) / root.dur,
        "merge": sum(sp.dur for sp in named("matrel.merge")),
        "merge_self": sum(self_time(sp, idx.get(sp.sid, []))
                          for sp in named("matrel.merge")),
        "mio_reads": len(named("manifestio.read")),
        "mio_writes": len(named("manifestio.write")),
        "mio_read_s": sum(sp.dur for sp in named("manifestio.read")),
        "mio_write_s": sum(sp.dur for sp in named("manifestio.write")),
        "unaccounted": op.secs - root.dur,
    }


def _spans_in(rec: Recorder, name: str, op):
    return [sp for sp in rec.spans[op.first_span:]
            if sp.name == name and sp.end is not None
            and op.wall0 <= sp.start <= op.wall1]


def _job_totals(jobs) -> dict:
    return {
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "run_s": sum(j.executor_run_s for j in jobs),
        "shuffle": sum(j.shuffle_write_bytes for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "input": sum(j.input_bytes for j in jobs),
        "spill": sum(j.spill_bytes for j in jobs),
    }


def per_layer(m: Measured, rec: Recorder, jobs, extra: dict) -> dict:
    out = {name: 0.0 for name, _u, _b in PER_LAYER}
    idx = rec.children_index()
    commits = [op for op in m.commits if op.traced]

    # setup: the analyzer runs inside create_view
    out["analyzer.create_view_s"] = sum(
        sp.dur for sp in rec.spans
        if sp.name == "engine.create_view" and sp.end is not None)
    out["analyzer.analyze_s"] = sum(
        sp.dur for sp in rec.spans
        if sp.name == "analyzer.analyze" and sp.end is not None)

    splits = [b for op in commits
              if (b := commit_breakdown(rec, op, idx)) is not None]
    if splits:
        def med(key):
            return median([b[key] for b in splits])
        out.update({
            "engine.insert_self_s": med("insert_self"),
            "engine.worker_s": med("worker"),
            "engine.dispatch_overlap": med("overlap"),
            "matrel.merge_s": med("merge"),
            "matrel.merge_self_s": med("merge_self"),
            "manifestio.read_s": med("mio_read_s"),
            "manifestio.reads_per_commit": med("mio_reads"),
            "manifestio.writes_per_commit": med("mio_writes"),
            "manifestio.write_s": med("mio_write_s"),
            "trace.unaccounted_s": med("unaccounted"),
        })
    written = [op.info["written"] for op in commits if "written" in op.info]
    if written:
        out["matrel.rows_written_per_commit"] = _med(
            [w["rows"] for w in written])
        out["matrel.bytes_written_per_commit"] = _med(
            [w["bytes"] for w in written])
        out["matrel.buckets_touched_per_commit"] = _med(
            [w["buckets"] for w in written])
        out["matrel.write_amplification"] = _med(
            [op.info["written"]["rows"] / op.info["distinct"]
             for op in commits if "written" in op.info])

    per_commit = [_job_totals(eventlog.in_window(jobs, op.wall0, op.wall1))
                  for op in commits]
    if per_commit:
        for key, name in (("jobs", "spark.jobs_per_commit"),
                          ("tasks", "spark.tasks_per_commit"),
                          ("run_s", "spark.executor_run_s_per_commit"),
                          ("shuffle", "spark.shuffle_bytes_per_commit"),
                          ("gc_s", "spark.gc_s_per_commit")):
            out[name] = median([t[key] for t in per_commit])

    # reads (spans toggle with them)
    reads = [op for op in m.reads if op.traced]
    if reads:
        out["matrel.read_s"] = median([
            sum(sp.dur for sp in _spans_in(rec, "matrel.read", op))
            for op in reads])
        out["spark.input_bytes_per_read"] = statistics.fmean([
            _job_totals(eventlog.in_window(jobs, op.wall0, op.wall1))
            ["input"] for op in reads])

    # batch jobs (dedup) — the bulk preload of upsert_large_state is a
    # job too, but its layer split is the commit split above
    djobs = [op for op in m.jobs if op.traced and op.kind == "job"]
    if djobs:
        out["operators.lsh_verified_pairs_s"] = median([
            sum(sp.dur for sp in _spans_in(
                rec, "operators.lsh_verified_pairs", op)) for op in djobs])
        out["operators.dedup_clusters_s"] = median([
            sum(sp.dur for sp in _spans_in(
                rec, "operators.dedup_clusters", op)) for op in djobs])
        loop_jobs = []
        for op in djobs:
            for sp in _spans_in(rec, "operators.dedup_clusters", op):
                loop_jobs.append(len(eventlog.in_window(jobs, sp.start,
                                                        sp.end)))
        out["operators.cluster_loop_jobs"] = _med(loop_jobs)
        totals = [_job_totals(eventlog.in_window(jobs, op.wall0, op.wall1))
                  for op in djobs]
        out["spark.shuffle_bytes_per_job"] = median(
            [t["shuffle"] for t in totals])
        out["spark.spill_bytes"] = median([t["spill"] for t in totals])

    # tracing overhead: the alternated operations of the primary kind
    primary = [op for op in (m.commits if not djobs else m.jobs)
               if op.kind in ("commit", "job")]
    on = [op.secs for op in primary if op.traced]
    off = [op.secs for op in primary if not op.traced]
    if on and off:
        out["trace.overhead_s"] = median(on) - median(off)

    out["source.batch_rows"] = _med(m.extra.get("batch_rows", []))
    out.update({k: v for k, v in extra.items() if k in out})
    return out
