"""Span recorder and the runtime wrappers that place spans at the
engine's layer boundaries.

A span is (name, start, end, parent, view).  Spans are kept in memory;
a span opened on a thread with no open span of its own is parented to
the open ``engine.insert`` span when the thread belongs to the engine's
per-view dispatch pool, so a parallel commit stays one tree.

The package is not edited: ``install`` swaps wrapped functions onto the
classes and modules for the life of the traced run, and the returned
callable puts the originals back.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

POOL_THREAD_PREFIX = "ThreadPoolExecutor"
ROOT_SPAN = "engine.insert"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float | None
    parent: int | None
    view: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if min(e, end) > max(s, start))
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children) -> float:
    """Span duration minus the part of it its children cover (children
    that ran in parallel are counted once)."""
    return span.dur - covered(span.start, span.end,
                              [(c.start, c.end) for c in children])


class Recorder:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = True
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._open_root: int | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def active(self) -> bool:
        return self.enabled and not getattr(self._tls, "paused", False)

    @contextmanager
    def paused(self):
        """No spans from this thread inside the block (the harness's own
        bookkeeping reads must not count as engine work)."""
        prev = getattr(self._tls, "paused", False)
        self._tls.paused = True
        try:
            yield
        finally:
            self._tls.paused = prev

    def open(self, name: str, view: str | None = None) -> Span:
        st = self._stack()
        parent = st[-1] if st else None
        if parent is None and threading.current_thread().name.startswith(
                POOL_THREAD_PREFIX):
            parent = self._open_root
        with self._lock:
            sp = Span(len(self.spans), name, time.time(), None, parent, view)
            self.spans.append(sp)
        if name == ROOT_SPAN and not st:
            self._open_root = sp.sid
        st.append(sp.sid)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        st = self._stack()
        if st and st[-1] == sp.sid:
            st.pop()
        if self._open_root == sp.sid:
            self._open_root = None

    @contextmanager
    def span(self, name: str, view: str | None = None):
        if not self.active():
            yield None
            return
        sp = self.open(name, view)
        try:
            yield sp
        finally:
            self.close(sp)

    # -- queries over finished spans ---------------------------------------
    def children_index(self) -> dict[int, list[Span]]:
        idx: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None and sp.end is not None:
                idx.setdefault(sp.parent, []).append(sp)
        return idx

    def tree(self, root: Span, idx=None) -> list[Span]:
        """``root`` and every span below it."""
        idx = idx if idx is not None else self.children_index()
        out, todo = [], [root]
        while todo:
            sp = todo.pop()
            out.append(sp)
            todo.extend(idx.get(sp.sid, []))
        return out


def _view_of_self(args, kwargs):
    return getattr(args[0], "name", None)


def _view_of_arg1(args, kwargs):
    return args[1] if len(args) > 1 else None


def _no_view(args, kwargs):
    return None


def _wrap(rec: Recorder, fn, name: str, view_of):
    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        if not rec.active():
            return fn(*args, **kwargs)
        sp = rec.open(name, view_of(args, kwargs))
        try:
            return fn(*args, **kwargs)
        finally:
            rec.close(sp)
    return wrapped


def boundaries():
    """(owner, attribute, span name, view extractor) for every wrapped
    layer boundary."""
    from pipelinedb_spark import engine, manifestio, matrel
    return [
        (engine.PipelineContext, "insert", "engine.insert", _view_of_arg1),
        (engine.PipelineContext, "read_view", "engine.read_view",
         _view_of_arg1),
        (engine.PipelineContext, "create_view", "engine.create_view",
         _view_of_arg1),
        (engine.ContView, "process_batch", "engine.process_batch",
         _view_of_self),
        (engine.ContView, "read", "engine.view_read", _view_of_self),
        (engine, "analyze", "analyzer.analyze", _no_view),
        (matrel.MatrelStore, "merge", "matrel.merge", _view_of_self),
        (matrel.MatrelStore, "read", "matrel.read", _view_of_self),
        (matrel.MatrelStore, "stale_stats", "matrel.stale_stats",
         _view_of_self),
        (manifestio.RenameManifestIO, "read_versioned", "manifestio.read",
         _no_view),
        (manifestio.RenameManifestIO, "write", "manifestio.write", _no_view),
        (manifestio.CondPutManifestIO, "read_versioned", "manifestio.read",
         _no_view),
        (manifestio.CondPutManifestIO, "write", "manifestio.write",
         _no_view),
    ]


def install(rec: Recorder):
    """Wrap every boundary; returns the function that unwraps them."""
    saved = []
    for owner, attr, name, view_of in boundaries():
        orig = owner.__dict__[attr] if isinstance(owner, type) else \
            getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, _wrap(rec, orig, name, view_of))

    def uninstall():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
    return uninstall


def matrel_written(rec: Recorder, store) -> dict:
    """What the commit that just returned wrote into ``store``: rows,
    bytes and buckets of the newest version dir (read from the manifest
    and parquet footers, with spans paused)."""
    import pyarrow.parquet as pq
    with rec.paused():
        man = store._read_manifest()
    vname = f"v{man['version']}"
    info = man.get("dirs", {}).get(vname, {})
    vdir = os.path.join(store.dir, vname)
    rows = 0
    for name in os.listdir(vdir):
        if name.endswith(".parquet"):
            rows += pq.ParquetFile(os.path.join(vdir, name)).metadata.num_rows
    return {"rows": rows, "bytes": info.get("bytes", 0),
            "buckets": info.get("written", 0)}


def matrel_live(rec: Recorder, store) -> dict:
    with rec.paused():
        man = store._read_manifest()
    dirs = {os.path.relpath(p, store.dir).split(os.sep)[0]
            for p in man["buckets"].values()}
    live, _stale = store.stale_stats()
    return {"matrel.live_version_dirs": len(dirs), "matrel.live_bytes": live}
