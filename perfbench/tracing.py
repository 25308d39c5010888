"""In-memory span tracing around the engine's layer boundaries.

Spans are recorded from the benchmark's side only: ``Instrumentation``
wraps the public functions of each engine layer and the Spark actions
(collect, count, take, localCheckpoint, DataFrameWriter.save/parquet),
and its ``restore`` puts the originals back. Engine code is never
edited. Spans stay in memory; ``Tracer.dump`` writes them out at exit.

Layer functions mostly return lazy DataFrames, so a layer's busy time
is its calls' own wall time (plan building plus any action run inside
them) plus the Spark actions attributed to it. An action is attributed
to the innermost engine module on the Python call stack when it runs.

A span's self time is its duration minus the part of it that child
spans on the same thread cover. Overlap is computed per thread because
``SnapshotStore.commit`` runs its writes on a thread pool: those writer
spans overlap the commit span instead of nesting in it.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from pathlib import Path

ENGINE = "web_crawler_search_engine_spark"
_HERE = os.path.dirname(__file__) + os.sep

# (module path under the engine package, attribute path) per layer.
LAYER_FUNCS = {
    "plans.crawl": ["CrawlJob.start", "CrawlJob.run_round", "CrawlJob.resume", "CrawlJob._compact"],
    "sources.checkpoints": ["SnapshotStore.commit", "SnapshotStore.load", "SnapshotStore.load_log"],
    "operators.seen": ["maybe_seen_keys", "anti_join_via_bloom", "bloom_word_updates", "or_words"],
    "operators.scheduler": ["admit", "assign_seq_within_parents_cached", "assign_global_seq"],
    "plans.indexer": ["parse_pages", "finalize_index", "write_index", "read_index"],
    "plans.search": ["ServingIndex.__init__", "ServingIndex.query", "fallback_tokens"],
}


class Span:
    __slots__ = ("name", "layer", "kind", "start", "end", "parent", "thread", "trace", "children")

    def __init__(self, name, layer, kind, parent, trace):
        self.name = name
        self.layer = layer
        self.kind = kind
        self.parent = parent
        self.thread = threading.get_ident()
        self.trace = trace
        self.children: list[Span] = []
        self.start = time.monotonic()
        self.end = None

    @property
    def dur(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        """Duration minus the union of same-thread children."""
        return self.dur - union_length(
            [(c.start, c.end) for c in self.children if c.thread == self.thread]
        )


class Tracer:
    """Collects spans in memory; ``trace`` names the current round or
    query and is shared by every thread (writer threads included)."""

    def __init__(self, engine_dir: Path):
        self.spans: list[Span] = []
        self.trace = "setup"
        self._engine_dir = str(engine_dir) + os.sep
        self._tls = threading.local()
        self._lock = threading.Lock()
        self.main_thread = threading.get_ident()
        self._main_stack: list[Span] = []
        # per operation: Bloom probe key counts (run.py _count_seen_keys)
        self.seen_counts: dict[str, dict[str, int]] = {}

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self.main_thread:
            return self._main_stack
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def open(self, name: str, layer: str, kind: str) -> Span:
        st = self._stack()
        # a writer thread starts with an empty stack: its cause is the
        # span the main thread is blocked in
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        sp = Span(name, layer, kind, parent, self.trace)
        st.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.monotonic()
        self._stack().pop()
        with self._lock:
            self.spans.append(sp)
            if sp.parent is not None:
                sp.parent.children.append(sp)

    def dump(self, path: Path) -> None:
        """One JSON line per span: name, layer, kind, start, end (monotonic
        seconds), parent and thread ids, trace id (workload operation)."""
        import json

        ids = {id(s): i for i, s in enumerate(self.spans)}
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "layer": s.layer, "kind": s.kind,
                    "start": s.start, "end": s.end,
                    "parent": ids.get(id(s.parent)), "thread": s.thread, "trace": s.trace,
                }) + "\n")

    def in_action(self) -> bool:
        return any(s.kind == "action" for s in self._stack())

    def caller_layer(self) -> str:
        """Innermost engine module on the stack, or ``bench`` when the
        benchmark's own code is reached first."""
        f = sys._getframe(2)
        while f is not None:
            fn = f.f_code.co_filename
            if fn.startswith(self._engine_dir):
                return fn[len(self._engine_dir):-3].replace(os.sep, ".")
            if fn.startswith(_HERE) and fn != __file__:
                return "bench"
            f = f.f_back
        return "bench"


def _wrap(tracer: Tracer, fn, name: str, layer: str, kind: str):
    @functools.wraps(fn)
    def wrapped(*a, **kw):
        if kind == "action" and tracer.in_action():
            return fn(*a, **kw)
        sp = tracer.open(name, layer if kind == "call" else tracer.caller_layer(), kind)
        try:
            return fn(*a, **kw)
        finally:
            tracer.close(sp)

    return wrapped


def _action_targets():
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    return [
        (DataFrame, m) for m in ("collect", "count", "take", "localCheckpoint", "toPandas")
    ] + [(DataFrameWriter, m) for m in ("save", "parquet", "saveAsTable", "insertInto")]


class Instrumentation:
    """Patches layer functions and Spark actions; ``restore`` undoes it."""

    def __init__(self, tracer: Tracer):
        import importlib

        self._patched: list[tuple[object, str, object]] = []
        # import every layer first so by-name imports between them exist
        mods = {layer: importlib.import_module(f"{ENGINE}.{layer}") for layer in LAYER_FUNCS}
        for layer, attrs in LAYER_FUNCS.items():
            mod = mods[layer]
            for attr in attrs:
                owner_name, _, fname = attr.rpartition(".")
                owner = getattr(mod, owner_name) if owner_name else mod
                orig = getattr(owner, fname)
                w = _wrap(tracer, orig, attr, layer, "call")
                self.patch(owner, fname, w)
                if not owner_name:
                    # modules that imported the function by name
                    for m in list(sys.modules.values()):
                        if m is not mod and getattr(m, "__name__", "").startswith(ENGINE) and getattr(m, fname, None) is orig:
                            self.patch(m, fname, w)
        for owner, fname in _action_targets():
            orig = getattr(owner, fname)
            self.patch(owner, fname, _wrap(tracer, orig, fname, "", "action"))

    def patch(self, owner, name: str, value) -> None:
        self._patched.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def restore(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()


def union_length(ivs: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(ivs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark job / stage / task counts ----------------------------------------


class JobCounter:
    """Counts from ``SparkContext.statusTracker()`` by job-id range.
    Job groups are thread-local and never reach the commit's writer
    threads, so a span's jobs are the ids created while it ran."""

    def __init__(self, sc):
        self._st = sc.statusTracker()

    def watermark(self) -> int:
        ids = self._st.getJobIdsForGroup()
        return max(ids) if ids else -1

    def counts(self, lo: int, hi: int, exclude: set[int]) -> dict:
        """Jobs with lo < id <= hi, minus ``exclude``: waits briefly
        for the listener bus to deliver their end events."""
        ids = [j for j in range(lo + 1, hi + 1) if j not in exclude]
        deadline = time.monotonic() + 5.0
        while True:
            infos = [self._st.getJobInfo(j) for j in ids]
            if all(i is not None and i.status != "RUNNING" for i in infos) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        jobs = stages = tasks = failed = 0
        for info in infos:
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = self._st.getStageInfo(sid)
                if si is None:  # skipped stage: planned, never run
                    continue
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


# -- process-tree resources from /proc --------------------------------------


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _proc_children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_seconds() -> float:
    """user+system CPU of this process and all its descendants (the
    JVM and its Python workers), reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read()
        except OSError:
            continue
        fields = f[f.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set (VmHWM) of the driver Python process plus the JVM."""
    return (_status_kb(os.getpid(), "VmHWM") + _status_kb(jvm_pid, "VmHWM")) / 1024.0
