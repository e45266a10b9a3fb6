"""In-memory span tracer for the traced run, plus Spark event-log counters.

Spans are opened only from the benchmark's own code: around the public calls
it makes into each layer, and around module-level helpers of
``conveyorbelt_spark`` that those calls resolve at call time, which
``install`` replaces in-process with wrappers for the length of the run (the
package's files are never edited). Spans live in memory and are written out
when the run ends.

Spark jobs are attributed by time window: a job belongs to every span open
at its submission time. The client is single-threaded, so the only
overlapping work is the build's own docstore thread, whose span is a child
of the build span.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False  # spans are recorded only while True
        self.request = 0
        self._local = threading.local()
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._main_stack_ref: list[int] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin_request(self, traced: bool) -> None:
        """Start a new request id; ``traced`` turns span recording on or off
        for it (the traced run alternates, to measure its own overhead)."""
        self.request += 1
        self.active = traced
        self._main_stack_ref = self._stack()

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def _open(self, name: str, attrs: dict) -> int:
        st = self._stack()
        parent = st[-1] if st else None
        if parent is None and threading.get_ident() != self._main and self._main_stack_ref:
            # a helper thread (build's docstore writer) nests under the span
            # the client thread has open
            parent = self._main_stack_ref[-1]
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "request": self.request, "attrs": attrs}
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.time()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    # -- queries over the recorded spans ---------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def children(self, idx: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == idx and s["end"] is not None]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of its interval its children cover
        (children may overlap: build's docstore thread runs beside it)."""
        idx = self.spans.index(span)
        ivs = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                     for c in self.children(idx))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def within(self, root: dict, name: str) -> list[dict]:
        """Spans called ``name`` in the subtree under ``root``."""
        ridx = self.spans.index(root)
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            p = s["parent"]
            while p is not None and p != ridx:
                p = self.spans[p]["parent"]
            if p == ridx:
                out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}, default=str) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.t, self.name, self.attrs, self.idx = tracer, name, attrs, None

    def __enter__(self):
        if self.t.active:
            self.idx = self.t._open(self.name, self.attrs)
        return self

    def __exit__(self, *exc) -> None:
        if self.idx is not None:
            self.t._close(self.idx)

    def set(self, **attrs) -> None:
        if self.idx is not None:
            self.t.spans[self.idx]["attrs"].update(attrs)


class _TracedKernel:
    """Callable proxy for a kernel object: spans each call, and forwards
    attribute reads and writes (callers configure kernels by attribute)."""

    def __init__(self, fn, tracer: Tracer, name: str) -> None:
        object.__setattr__(self, "_fn", fn)
        object.__setattr__(self, "_t", tracer)
        object.__setattr__(self, "_name", name)

    def __call__(self, *a, **kw):
        with self._t.span(self._name):
            return self._fn(*a, **kw)

    def __getattr__(self, n):
        return getattr(self._fn, n)

    def __setattr__(self, n, v) -> None:
        setattr(self._fn, n, v)


class Patches:
    """Wrappers installed on package attributes; ``restore`` undoes them."""

    def __init__(self, tracer: Tracer) -> None:
        self.t = tracer
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str, on_result=None, on_call=None) -> None:
        orig = getattr(owner, attr)
        t = self.t

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if not t.active:
                return orig(*a, **kw)
            with t.span(name) as sp:
                if on_call is not None:
                    sp.set(**on_call(a, kw))
                out = orig(*a, **kw)
                if on_result is not None:
                    sp.set(**on_result(out))
                return out

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def wrap_kernel_factory(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        t = self.t

        @functools.wraps(orig)
        def factory(*a, **kw):
            kern = orig(*a, **kw)
            return _TracedKernel(kern, t, name) if t.active else kern

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, factory)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()


def install(tracer: Tracer) -> Patches:
    """Wrap the layer helpers the public entry points resolve at call time."""
    from conveyorbelt_spark import conveyor
    from conveyorbelt_spark.index import build, delete, query
    from conveyorbelt_spark.streaming import incremental

    p = Patches(tracer)
    # index.build children of build_index
    p.wrap(build, "refresh_dictionary", "build.dictionary")
    p.wrap(build, "refresh_stats", "build.stats")
    p.wrap(build, "enable_fuzzy_deletes", "build.fuzzy")
    p.wrap(build, "write_docstore", "build.docstore")
    # streaming.incremental children of index_batch, conveyor child
    p.wrap(incremental, "write_dictionary_delta", "ingest.dictionary_delta")
    p.wrap(incremental, "refresh_stats", "ingest.stats")
    p.wrap(conveyor, "index_batch", "ingest.index_batch")
    # index.query serving helpers (Searcher resolves them per call)
    p.wrap(query, "_lookup_terms", "query.dict_probe",
           on_call=lambda a, kw: {"terms": len(a[2]) if len(a) > 2 else len(kw.get("terms", ()))})
    p.wrap(query, "_read_blocks_local", "query.block_read",
           on_result=lambda out: {"rows": 0 if out is None else len(out)})
    p.wrap(query, "_score_local", "query.score")
    p.wrap_kernel_factory(query, "_phrase_kernel", "query.score")
    p.wrap(query, "load_stats", "query.stats_reload")
    p.wrap(delete, "apply_tombstones", "query.tombstone_filter")
    p.wrap(build, "lookup_docs", "query.docstore_fetch")

    def cache_probe(a, kw):
        s, scan_terms = a[0], a[2] if len(a) > 2 else kw.get("scan_terms", ())
        columns = a[3] if len(a) > 3 else kw.get("columns")
        with_poss = bool(columns) and "poss" in (columns or [])
        hits = sum(1 for t in scan_terms if (t, with_poss) in s._block_cache)
        return {"lookups": len(scan_terms), "hits": hits}

    p.wrap(query.Searcher, "_local_blocks", "query.local_blocks", on_call=cache_probe)
    return p


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Jobs (id, submit time in s, stage ids) and per-stage task sums from a
    Spark event log directory (plain or rolling layout)."""
    jobs: list[dict] = []
    stages: dict[int, dict] = {}
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    for path in (p for p in paths if os.path.isfile(p) and "appstatus" not in os.path.basename(p)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"id": ev["Job ID"], "t": ev["Submission Time"] / 1000.0,
                                 "stages": ev.get("Stage IDs", [])})
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], {
                        "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                        "shuffle_write": 0, "shuffle_read": 0, "spill": 0})
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["tasks"] += 1
                    st["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    return jobs, stages


def spark_counters(jobs: list[dict], stages: dict[int, dict], spans: list[dict]) -> dict:
    """Sum of job and task counters over the jobs submitted inside any of
    ``spans``."""
    out = {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write": 0, "shuffle_read": 0, "spill": 0}
    for j in jobs:
        if not any(s["start"] <= j["t"] <= s["end"] for s in spans):
            continue
        out["jobs"] += 1
        for sid in j["stages"]:
            st = stages.get(sid)
            if st is None:
                continue  # skipped stage: its output was reused
            for k in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_write", "shuffle_read", "spill"):
                out[k] += st[k]
    return out
