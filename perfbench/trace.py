"""Spans around the engine's public entry points, recorded from outside.

The traced run wraps the functions below at run time (the package itself is
not edited) and records one span per call: name, start, end, parent span and
the benchmark operation it ran under.  Spans stay in memory until
the run ends, then written out.  Time is attributed by a sweep over each
operation's spans: every instant goes to the deepest span open at that
instant, so the layer times of an operation sum to its wall time exactly,
also where manifest reads run in parallel threads.

Spark work is attributed per operation through job groups and read back from
the uncompressed event log that only the traced run enables.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional


@dataclass
class Span:
    sid: int
    parent: Optional[int]
    op: Optional[int]
    name: str
    t0: float
    t1: float = 0.0
    depth: int = 0
    result: object = None


# (module path, attribute owner, attribute, span name).  An owner of
# None patches the module attribute itself; modules that imported the
# function by name are listed separately so their callers see the wrapper.
TARGETS = [
    ("iceberg_go_spark.catalog.filesystem", "FilesystemCatalog",
     "load_table", "catalog.load_table"),
    ("iceberg_go_spark.catalog.filesystem", "FilesystemCatalog",
     "commit_table", "catalog.commit_table"),
    ("iceberg_go_spark.meta.manifests", None, "read_manifest_list",
     "meta.read_manifest_list"),
    ("iceberg_go_spark.meta.manifests", None, "read_manifest",
     "meta.read_manifest"),
    ("iceberg_go_spark.meta.manifests", None, "write_manifest",
     "meta.write_manifest"),
    ("iceberg_go_spark.meta.manifests", None, "write_manifest_list",
     "meta.write_manifest_list"),
    ("iceberg_go_spark.table.scan", "Scan", "plan_files",
     "scan.plan_files"),
    ("iceberg_go_spark.table.scan", "Scan", "to_df", "scan.to_df"),
    ("iceberg_go_spark.table.write", None, "write_dataframe",
     "write.write_dataframe"),
    ("iceberg_go_spark.table.transaction", None, "write_dataframe",
     "write.write_dataframe"),
    ("iceberg_go_spark.table.maintenance", None, "write_dataframe",
     "write.write_dataframe"),
    ("iceberg_go_spark.table.transaction", "Transaction", "commit",
     "txn.commit"),
    ("iceberg_go_spark.table.table", "Table", "delete_where",
     "dml.delete_where"),
    ("iceberg_go_spark.table.table", "Table", "upsert", "dml.upsert"),
    ("iceberg_go_spark.table.table", "Table", "merge_into",
     "dml.merge_into"),
    ("iceberg_go_spark.table.table", "Table", "compact",
     "maint.compact"),
    ("iceberg_go_spark.table.table", "Table", "expire_snapshots",
     "maint.expire_snapshots"),
    ("iceberg_go_spark.operators.curation", None, "c4_rules",
     "op.c4_rules"),
    ("iceberg_go_spark.operators.dedup", None, "minhash_lsh_groups",
     "op.minhash_lsh_groups"),
    ("iceberg_go_spark.operators.dedup", None, "connected_components",
     "op.connected_components"),
    ("iceberg_go_spark.operators.dedup", None, "simhash_near_dup_pairs",
     "op.simhash_near_dup_pairs"),
    ("iceberg_go_spark.operators.similarity", None, "ivf_topk",
     "op.ivf_topk"),
    ("iceberg_go_spark.operators.text", None, "bpe_train_merges",
     "op.bpe_train_merges"),
]

# what the metrics keep from a call: (args, return value) -> span result
_RESULT = {
    "meta.read_manifest": lambda args, out: len(out[0]),
    "scan.plan_files": lambda args, out: {
        **dataclasses.asdict(args[0].report), "tasks": len(out)},
}


class Tracer:
    """Records spans; a disabled tracer only tracks the current op id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[Span] = []
        self.op: Optional[int] = None
        self._local = threading.local()
        self._main: List[Span] = []
        self._lock = threading.Lock()
        self._patched: list = []

    # -- recording ----------------------------------------------------------
    def _stack(self) -> List[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            # the benchmark is one client on one thread; spans opened in a
            # pool thread (parallel manifest reads) hang under the span the
            # client thread has open
            st = self._main if threading.current_thread() is \
                threading.main_thread() else []
            self._local.stack = st
        return st

    def start(self, name: str) -> Span:
        st = self._stack()
        parent = st[-1] if st else (self._main[-1] if self._main else None)
        with self._lock:
            sp = Span(len(self.spans), parent.sid if parent else None,
                      self.op, name, time.perf_counter(),
                      depth=parent.depth + 1 if parent else 0)
            self.spans.append(sp)
        st.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.t1 = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a block of the benchmark's own code."""
        if not self.enabled:
            yield
            return
        sp = self.start(name)
        try:
            yield
        finally:
            self.end(sp)

    def wrap(self, fn: Callable, name: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = self.start(name)
            try:
                out = fn(*args, **kwargs)
                if name in _RESULT:
                    sp.result = _RESULT[name](args, out)
                return out
            finally:
                self.end(sp)
        return traced

    # -- patching -----------------------------------------------------------
    def install(self) -> None:
        import importlib
        if not self.enabled:
            return
        # import every module before patching any, so that modules which
        # import a function by name bind the original, not a wrapper
        mods = {m: importlib.import_module(m) for m, *_ in TARGETS}
        for mod_name, owner_name, attr, name in TARGETS:
            mod = mods[mod_name]
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = owner.__dict__[attr] if owner_name else getattr(mod, attr)
            setattr(owner, attr, self.wrap(orig, name))
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched = []

    def write(self, path: str) -> None:
        """All spans as JSON lines, times in seconds from the first span."""
        t0 = self.spans[0].t0 if self.spans else 0.0
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    **dataclasses.asdict(sp), "t0": sp.t0 - t0,
                    "t1": sp.t1 - t0}) + "\n")


def attribute(spans: List[Span]) -> Dict[str, float]:
    """Seconds per span name for one op: each instant of the op goes to
    the deepest span open at that instant (the earliest-started on ties),
    so the values sum to the root span's duration."""
    bounds = sorted({t for s in spans for t in (s.t0, s.t1)})
    out: Dict[str, float] = defaultdict(float)
    for a, b in zip(bounds, bounds[1:]):
        mid = (a + b) / 2
        live = [s for s in spans if s.t0 <= mid < s.t1]
        if live:
            top = max(live, key=lambda s: (s.depth, -s.t0))
            out[top.name] += b - a
    return out


# -- Spark event log -------------------------------------------------------

@dataclass
class GroupStats:
    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    task_ms: float = 0.0
    cpu_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str) -> Dict[str, GroupStats]:
    """Per job group: jobs, stages, tasks, executor run and CPU time,
    shuffle bytes written and bytes spilled, from the uncompressed JSON
    event log Spark wrote under ``log_dir``."""
    stage_group: Dict[int, str] = {}
    groups: Dict[str, GroupStats] = defaultdict(GroupStats)
    for path in glob.glob(os.path.join(log_dir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "")
                    st = groups[g]
                    st.jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                        st.stages.add(sid)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"), "")
                    st = groups[g]
                    m = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.task_ms += m.get("Executor Run Time", 0)
                    st.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    st.shuffle_write_bytes += (m.get(
                        "Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return groups
