"""The two workloads.  Each drives the engine through its public entry
points (``PipelineContext``, ``operators.dedup``), times each operation
in wall and in engine CPU seconds, and checks every output against the
generator outside the timed regions.  Every failed call or wrong result
counts against ``ok_ratio``.

A workload returns a ``Measured``: the end-to-end samples, plus the
operation windows the traced pass joins with spans and Spark jobs.
"""

from __future__ import annotations

import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

from perfbench import generators as gen
from perfbench.harness import Tally, engine_cpu_s, median, start_spark
from perfbench.tracing import matrel_written


@dataclass
class Op:
    """One timed operation: perf-counter duration plus its wall-clock
    window (for joining with spans and event-log jobs)."""
    kind: str
    wall0: float
    wall1: float
    secs: float
    traced: bool = False
    first_span: int = 0
    info: dict = field(default_factory=dict)
    cpu: float = 0.0               # engine CPU seconds (engine_cpu_s)


@dataclass
class Measured:
    setup_s: float
    rows: int                      # rows (or docs) processed in the loop
    rate_s: float                  # wall that rows_per_s divides by
    cpu_s: float = 0.0             # CPU that rows_per_cpu_s divides by
    commits: list[Op] = field(default_factory=list)
    reads: list[Op] = field(default_factory=list)
    jobs: list[Op] = field(default_factory=list)
    freshness: list[float] = field(default_factory=list)
    read_latency: dict = field(default_factory=dict)   # kind -> [s]
    extra: dict = field(default_factory=dict)


class Timer:
    """Times one operation.  In the traced pass a toggling timer also
    switches spans on or off for the operation (``traced``) and marks
    where its spans start so they can be found again; a non-toggling
    one leaves the switch alone (an operation nested in a toggling one
    keeps the outer operation's setting)."""

    def __init__(self, rec, kind: str, traced: bool, toggle: bool = True):
        self.rec, self.kind = rec, kind
        self.toggle = rec is not None and toggle
        self.traced = self.toggle and traced

    def __enter__(self):
        self.first_span = len(self.rec.spans) if self.rec else 0
        if self.toggle:
            self.prev = self.rec.enabled
            self.rec.enabled = self.traced
        self.cpu0 = engine_cpu_s()
        self.wall0 = time.time()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.secs = time.perf_counter() - self.t0
        self.wall1 = time.time()
        self.cpu = engine_cpu_s() - self.cpu0
        if self.toggle:
            self.rec.enabled = self.prev
        self.op = Op(self.kind, self.wall0, self.wall1, self.secs,
                     self.traced, self.first_span, cpu=self.cpu)
        return False


def _guarded(tally: Tally, what: str, fn):
    """Run ``fn``; an exception is a failed operation, not a crash."""
    try:
        return fn()
    except Exception as exc:  # noqa: BLE001 - counted and reported
        tally.record(False, f"{what}: {type(exc).__name__}: {exc}"[:300])
        return None


class Workload:
    """State shared by every workload: the session, the tally, the
    recorder (traced pass only) and the alternation that gives the
    tracing overhead."""

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.tally: Tally = run.tally
        self.rec = run.rec
        self._n_ops: dict[str, int] = {}

    def timer(self, kind: str, toggle: bool = True) -> Timer:
        # traced pass: every other operation of a kind runs with spans
        # off, so traced minus untraced medians is the tracing overhead
        n = self._n_ops[kind] = self._n_ops.get(kind, 0) + 1
        return Timer(self.rec, kind, traced=n % 2 == 1, toggle=toggle)

    def span(self, name: str):
        return self.rec.span(name) if self.rec else nullcontext()

    def check(self, ok: bool, what: str) -> bool:
        return self.tally.record(bool(ok), what)

    def _note_commit(self, op: Op, pdf, view: str) -> None:
        """Traced commits: what the view's matrel wrote, and the
        distinct groups the batch touched (write amplification)."""
        if op.traced:
            op.info["distinct"] = int(pdf["k"].nunique())
            op.info["written"] = matrel_written(
                self.rec, self.ctx.views[view].matrel)


# -- upsert_large_state ----------------------------------------------------
UPSERT_BATCH = 10_000
# a commit's CPU falls over the first few inserts after the preload,
# while the JIT compiles the merge path
UPSERT_WARMUP = 6
UPSERT_BASELINE = (2, 4)      # local[1] warm-up and measured inserts
# per round, keys of the batch just inserted
UPSERT_POINT_READS = 2
UPSERT_SAMPLE = 2000


class UpsertLargeState(Workload):
    """Closed loop into one plain GROUP BY view preloaded with 200k
    groups: insert a Zipf batch, point-read some of its keys, and scan
    the whole view to the noop sink."""

    def setup(self):
        from pipelinedb_spark import PipelineContext
        seed, n = self.run.seed, gen.UPSERT_GROUPS
        self.ctx = PipelineContext(self.spark, root=self.run.dir.sub("pdb"))
        self.ctx.create_stream("s", "k bigint, v bigint")
        self.ctx.create_view(
            "up", "SELECT k, count(*) AS n, sum(v) AS s FROM s GROUP BY k")
        self.truth_n = np.zeros(n, dtype=np.int64)
        self.truth_s = np.zeros(n, dtype=np.int64)
        self.rows_total = 0
        self.batch_no = 0
        # one insert compiles the plans, then the 200k-group preload,
        # then the loop warms up
        self.ctx.insert("s", self._next_batch(UPSERT_BATCH)[0])
        pre = gen.upsert_preload(seed, n)
        self.truth_n += 1
        self.truth_s += pre["v"].to_numpy()
        self.rows_total += n
        df = self.spark.createDataFrame(pre)
        with self.timer("bulk") as t:
            ok = _guarded(self.tally, "preload",
                          lambda: self.ctx.insert("s", df) == n)
        if ok is not None:
            self.check(ok, "preload row count")
        self.preload = {"wall_s": t.secs, "cpu_s": t.cpu}
        # warm-up rounds run the loop body itself, reads included
        warm = Measured(0.0, 0, 0.0)
        for _ in range(UPSERT_WARMUP):
            self._round(warm)

    def _next_batch(self, rows: int):
        pdf = gen.upsert_batch(self.run.seed, self.batch_no, rows)
        self.batch_no += 1
        k, v = pdf["k"].to_numpy(), pdf["v"].to_numpy()
        n = self.truth_n.size
        self.truth_n += np.bincount(k, minlength=n)
        self.truth_s += np.bincount(k, weights=v, minlength=n).astype(
            np.int64)
        self.rows_total += rows
        return self.spark.createDataFrame(pdf), pdf

    def _point_read(self, key: int, m: Measured) -> None:
        from pyspark.sql import functions as F
        with self.timer("point") as t:
            rows = _guarded(self.tally, "point read", lambda: (
                self.ctx.read_view("up").filter(F.col("k") == key)
                .collect()))
        if rows is None:
            return
        m.reads.append(t.op)
        m.read_latency.setdefault("point", []).append(t.secs)
        got = [(r["n"], r["s"]) for r in rows]
        self.check(got == [(self.truth_n[key], self.truth_s[key])],
                   f"point read k={key}: {got}")

    def _scan(self, m: Measured) -> None:
        with self.timer("scan") as t:
            ok = _guarded(self.tally, "scan", lambda: self.ctx.read_view(
                "up").write.format("noop").mode("overwrite").save() or True)
        if ok:
            m.reads.append(t.op)
            m.read_latency.setdefault("scan", []).append(t.secs)
            self.check(True, "scan")

    def _round(self, m: Measured) -> None:
        """Insert a batch, point-read some of its keys, scan the view.
        The round is the workload's job."""
        with Timer(self.rec, "round", False, toggle=False) as tr:
            t_gen = time.perf_counter()
            df, pdf = self._next_batch(UPSERT_BATCH)
            with self.timer("commit") as t:
                ok = _guarded(self.tally, "insert",
                              lambda: self.ctx.insert("s", df) == len(pdf))
            if ok is not None:
                self.check(ok, "insert row count")
            self._note_commit(t.op, pdf, "up")
            m.commits.append(t.op)
            m.freshness.append(time.perf_counter() - t_gen)
            m.rows += len(pdf)
            for key in pdf["k"].iloc[:UPSERT_POINT_READS]:
                self._point_read(int(key), m)
            self._scan(m)
        m.jobs.append(tr.op)

    def measure(self, seconds: float, setup_s: float) -> Measured:
        m = Measured(setup_s, 0, 0.0)
        t_loop = time.perf_counter()
        while time.perf_counter() - t_loop < seconds:
            self._round(m)
        m.rate_s = time.perf_counter() - t_loop
        m.cpu_s = sum(op.cpu for op in m.commits)
        m.extra["batch_rows"] = [UPSERT_BATCH] * len(m.commits)
        m.extra["preload"] = self.preload
        return m

    def verify(self) -> None:
        from pyspark.sql import functions as F
        rng = np.random.default_rng([self.run.seed, 9])
        keys = sorted(set(rng.choice(self.truth_n.size, UPSERT_SAMPLE,
                                     replace=False).tolist()))
        got = _guarded(self.tally, "sample read", lambda: {
            r["k"]: (r["n"], r["s"]) for r in self.ctx.read_view("up")
            .filter(F.col("k").isin(keys)).collect()})
        if got is not None:
            bad = [k for k in keys
                   if got.get(k) != (self.truth_n[k], self.truth_s[k])]
            self.check(not bad, f"sampled keys wrong: {bad[:5]}")
        tot = _guarded(self.tally, "totals", lambda: self.ctx.read_view(
            "up").agg(F.count("*"), F.sum("n"), F.sum("s")).collect()[0])
        if tot is not None:
            want = (self.truth_n.size, self.rows_total,
                    int(self.truth_s.sum()))
            self.check(tuple(tot) == want, f"totals {tuple(tot)} != {want}")

    def single_thread_speedup(self, m: Measured) -> float:
        """Commit median at local[1] over the loop's untraced commit
        median at local[nproc]: the same closed loop, reopened on the
        same state (the context re-attaches the view from its root).
        Spans stay off throughout, so neither the re-open nor the
        local[1] inserts count in the run's per-layer figures.  Stops
        this session; ``run.spark`` is the local[1] one afterwards."""
        from pipelinedb_spark import PipelineContext
        self.rec.enabled = False
        root = self.ctx.root
        self.spark.stop()
        self.run.spark = self.spark = start_spark(
            self.run.dir, 1, eventlog=False, app="perfbench-local1")
        self.ctx = PipelineContext(self.spark, root=root)
        warm, meas = UPSERT_BASELINE
        secs = []
        for _ in range(warm + meas):
            df, pdf = self._next_batch(UPSERT_BATCH)
            t = time.perf_counter()
            n = _guarded(self.tally, "local[1] insert",
                         lambda: self.ctx.insert("s", df))
            secs.append(time.perf_counter() - t)
            if n is not None:
                self.check(n == len(pdf), "local[1] insert row count")
        return median(secs[warm:]) / median(
            [op.secs for op in m.commits if not op.traced])

    def close(self):
        self.ctx.close()


# -- dedup_batch -----------------------------------------------------------
DEDUP_PARAMS = dict(threshold=0.5, num_hashes=120, bands=40)
# the first job starts the Python workers and compiles the plans; the
# JVM's CPU per job keeps falling for a few more
DEDUP_WARMUP_JOBS = 2
DEDUP_WARMUP_READS = 3
# a job takes ~3.5 s, so only four fit in a run; three point and scan
# reads after each give the read medians twelve samples
DEDUP_READS_PER_JOB = 3


def oracle(pdf, tmp: str):
    """The bank's duckdb oracles for minhash_lsh_candidates and
    dedup_cluster_assignment on the generated corpus."""
    import duckdb

    from pipelinedb_spark.querybank import ORACLE
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp}'")
        con.register("documents", pdf)
        pairs = {(int(a), int(b)): float(j) for a, b, j in
                 con.execute(ORACLE["minhash_lsh_candidates"]).fetchall()}
        clusters = {int(d): int(c) for d, c in
                    con.execute(ORACLE["dedup_cluster_assignment"])
                    .fetchall()}
    finally:
        con.close()
    return pairs, clusters


class DedupBatch(Workload):
    """Batch job over a seeded corpus with planted near-duplicate
    families: lsh_verified_pairs -> dedup_clusters -> cluster table
    written as parquet, then point and scan reads of that table."""

    def setup(self):
        self.pdf = gen.corpus(self.run.seed)
        self.src = self.run.dir.sub("corpus") + "/documents.parquet"
        self.pdf.to_parquet(self.src, index=False)
        self.docs = self.spark.read.parquet(self.src)
        self.n_job = 0
        self.last = None      # (pairs, cluster table) of the last job
        for _ in range(DEDUP_WARMUP_JOBS):
            _, out = self._job(None)
        for _ in range(DEDUP_WARMUP_READS):
            self._reads(out, 0, Measured(0.0, 0, 0.0), check=False)

    def _job(self, m: Measured | None):
        from pipelinedb_spark.operators import dedup
        out = self.run.dir.sub("clusters") + f"/job{self.n_job}"
        self.n_job += 1
        with self.timer("job") as tj:
            with self.span("operators.lsh_verified_pairs"):
                pairs = dedup.lsh_verified_pairs(
                    self.docs, **DEDUP_PARAMS).localCheckpoint(eager=True)
            with self.span("operators.dedup_clusters"):
                clusters = dedup.dedup_clusters(pairs)
            # the result write is the job's commit; it inherits the
            # job's tracing switch
            with Timer(self.rec, "commit", tj.traced, toggle=False) as tc:
                clusters.write.mode("overwrite").parquet(out)
        if m is not None:
            m.jobs.append(tj.op)
            m.commits.append(tc.op)
            m.freshness.append(tj.secs)
            m.rows += len(self.pdf)
        return pairs, out

    def measure(self, seconds: float, setup_s: float) -> Measured:
        self.want_pairs, self.want_clusters = oracle(self.pdf,
                                                     self.run.dir.tmp)
        clustered = sorted(self.want_clusters)
        m = Measured(setup_s, 0, 0.0)
        t_loop = time.perf_counter()
        i = 0
        while time.perf_counter() - t_loop < seconds:
            got = _guarded(self.tally, "dedup job", lambda: self._job(m))
            if got is None:
                continue
            self.last = got
            self.check(True, "dedup job")
            for _ in range(DEDUP_READS_PER_JOB):
                doc = clustered[(i * 7919 + self.run.seed) % len(clustered)]
                self._reads(got[1], doc, m)
                i += 1
        # documents per second of job wall and per job CPU second: the
        # reads between jobs are not in them
        m.rate_s = sum(op.secs for op in m.jobs)
        m.cpu_s = sum(op.cpu for op in m.jobs)
        return m

    def _reads(self, out: str, doc: int, m: Measured,
               check: bool = True) -> None:
        from pyspark.sql import functions as F
        with self.timer("point") as t:
            rows = _guarded(self.tally, "point read", lambda: self.spark.read
                            .parquet(out).filter(F.col("doc_id") == doc)
                            .collect())
        if rows is not None:
            m.reads.append(t.op)
            m.read_latency.setdefault("point", []).append(t.secs)
            if check:  # warm-up reads come before the oracle
                got = [r["cluster_id"] for r in rows]
                self.check(got == [self.want_clusters[doc]],
                           f"cluster of doc {doc}: {got}")
        with self.timer("scan") as t:
            ok = _guarded(self.tally, "scan", lambda: self.spark.read.parquet(
                out).write.format("noop").mode("overwrite").save() or True)
        if ok:
            m.reads.append(t.op)
            m.read_latency.setdefault("scan", []).append(t.secs)
            self.check(True, "scan")

    def verify(self) -> None:
        if not self.check(self.last is not None, "no dedup job completed"):
            return
        pairs, out = self.last
        got_pairs = _guarded(self.tally, "pairs collect", lambda: {
            (r["d1"], r["d2"]): r["jaccard"] for r in pairs.collect()})
        if got_pairs is not None:
            same = (got_pairs.keys() == self.want_pairs.keys() and all(
                abs(got_pairs[p] - j) < 1e-9
                for p, j in self.want_pairs.items()))
            self.check(same, f"pairs: {len(got_pairs)} got, "
                             f"{len(self.want_pairs)} in the oracle")
        got = _guarded(self.tally, "clusters read", lambda: {
            r["doc_id"]: r["cluster_id"]
            for r in self.spark.read.parquet(out).collect()})
        if got is not None:
            self.check(got == self.want_clusters,
                       f"clusters: {len(got)} docs got, "
                       f"{len(self.want_clusters)} in the oracle")

    def candidate_pairs(self) -> int:
        from pipelinedb_spark.operators import dedup
        return dedup.lsh_candidates(
            self.docs, num_hashes=DEDUP_PARAMS["num_hashes"],
            bands=DEDUP_PARAMS["bands"]).count()

    def close(self):
        pass


WORKLOADS = {
    "upsert_large_state": UpsertLargeState,
    "dedup_batch": DedupBatch,
}
