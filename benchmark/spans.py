"""In-memory span recorder for the traced run.

Spans are recorded from the benchmark's side only: ``install`` replaces
public driver-side callables of the program with wrappers that open a
span around each call, and restores the originals on ``uninstall``.
Spark work started inside a span is tagged with the span's id through
``setJobGroup``, so stages in the event log map back to spans
(``eventlog.py``).

A span is (name, start, end, parent, request id, count); ``count`` holds
the length of a returned list where that is the work done (dictionary
expansions). A layer's self time is its span's duration minus the time
its child spans cover.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict

# (module path, attribute path, span name, tags Spark jobs)
WRAPPED = [
    ("es_indexer_spark.query.engine", "IndexSearcher.search", "engine.search", False),
    ("es_indexer_spark.query.engine", "IndexSearcher.suggest", "engine.suggest", False),
    ("es_indexer_spark.query.engine", "IndexSearcher.expand_prefix", "engine.expand_prefix", False),
    ("es_indexer_spark.query.engine", "IndexSearcher.expand_fuzzy", "engine.expand_fuzzy", False),
    ("es_indexer_spark.query.engine", "IndexSearcher.search_df", "dist.search_df", True),
    ("es_indexer_spark.query.engine", "IndexSearcher.refresh", "engine.refresh", True),
    ("es_indexer_spark.query.scoring", "blockmax_topk", "scoring.blockmax", False),
    ("es_indexer_spark.query.scoring", "exhaustive_topk", "scoring.exhaustive", False),
    ("es_indexer_spark.query.scoring", "TermView.decode_all", "codec.decode_all", False),
    ("es_indexer_spark.codec", "varint_decode", "codec.varint_decode", False),
    ("es_indexer_spark.codec", "delta_decode_multi", "codec.delta_decode_multi", False),
    ("es_indexer_spark.streaming.incremental", "append_batch", "incremental.append", True),
    ("es_indexer_spark.streaming.incremental", "upsert_docs", "incremental.upsert", True),
    ("es_indexer_spark.streaming.incremental", "delete_where", "incremental.delete", True),
    ("es_indexer_spark.index.merge", "merge_segments", "merge.merge_segments", True),
    ("es_indexer_spark.index.build", "build_index", "build.build_index", True),
]


class Recorder:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.enabled = False
        self.spans: list[list] = []  # [name, t0, t1, parent, req, count]
        self._stack: list[int] = []
        self._req = -1
        self._saved: list[tuple] = []

    # ------------------------------------------------------------- spans
    def open(self, name: str, tag_jobs: bool = False) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self._req, None])
        self._stack.append(sid)
        if tag_jobs and self.sc is not None:
            self.sc.setJobGroup(f"span-{sid}", name, interruptOnCancel=False)
        return sid

    def close(self, sid: int, tag_jobs: bool = False) -> None:
        self.spans[sid][2] = time.perf_counter()
        self._stack.pop()
        if tag_jobs and self.sc is not None:
            outer = next(
                (s for s in reversed(self._stack) if self.spans[s][0] in _TAGGING), None
            )
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(f"span-{outer}", self.spans[outer][0],
                                    interruptOnCancel=False)

    def request(self, name: str, req_id: int, fn, *args, **kwargs):
        """Run one benchmark operation as a root span; ops that start
        Spark jobs (names in ``_TAGGING``) also tag them."""
        if not self.enabled:
            return fn(*args, **kwargs)
        tag = name in _TAGGING
        self._req = req_id
        sid = self.open(name, tag_jobs=tag)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(sid, tag_jobs=tag)
            self._req = -1

    # ------------------------------------------------------------ wrapping
    def _wrap(self, fn, name: str, tag_jobs: bool):
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not rec.enabled:
                return fn(*args, **kwargs)
            sid = rec.open(name, tag_jobs)
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, list):
                    rec.spans[sid][5] = len(out)
                return out
            finally:
                rec.close(sid, tag_jobs)

        return wrapper

    def install(self) -> None:
        import importlib

        for mod_name, attr, name, tag in WRAPPED:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = owner.__dict__[leaf]
            self._saved.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrap(orig, name, tag))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._saved):
            setattr(owner, leaf, orig)
        self._saved.clear()

    # ------------------------------------------------------------ analysis
    def self_times(self) -> list[float]:
        """Self time (s) per span: duration minus the union of its direct
        children's intervals (children never overlap: one thread)."""
        child_time = [0.0] * len(self.spans)
        for name, t0, t1, parent, _, _ in self.spans:
            if parent >= 0 and t1 is not None:
                child_time[parent] += t1 - t0
        return [
            (s[2] - s[1]) - child_time[i] if s[2] is not None else 0.0
            for i, s in enumerate(self.spans)
        ]

    def per_request(self) -> dict[int, dict]:
        """request id -> {root name, root duration, self time per layer,
        span count per layer, summed counts per layer}."""
        selfs = self.self_times()
        out: dict[int, dict] = {}
        for i, (name, t0, t1, parent, req, count) in enumerate(self.spans):
            if req < 0 or t1 is None:
                continue
            r = out.setdefault(req, {"root": None, "dur": 0.0,
                                     "self": defaultdict(float),
                                     "calls": defaultdict(int),
                                     "count": defaultdict(int)})
            if parent < 0:
                r["root"], r["dur"] = name, t1 - t0
            r["self"][name] += selfs[i]
            r["calls"][name] += 1
            if count is not None:
                r["count"][name] += count
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# span names whose Spark jobs are tagged (driver-path query and suggest
# start none, so they skip the JVM round trip)
_TAGGING = {name for _, _, name, tag in WRAPPED if tag} | {
    "op.dist_query", "op.append", "op.upsert", "op.delete", "op.refresh",
    "op.merge", "op.build", "op.open",
}
