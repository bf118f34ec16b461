"""The benchmark's workloads: one closed-loop client in one driver process.

Both workloads run the same steps — seeded corpus written to parquet,
``build_index`` over it, searcher open and warm-up (twice), a delete, an
append with its freshness probe, and two read windows (``READ_PATTERN``
for half of ``--seconds`` each) of driver and distributed reads — so
every end-to-end metric is measured on each of them. They differ in
order, so in the state the windows read:

- ``search_mix``: one window on the warm base, the writes, then one on
  the warm, re-opened index.
- ``ingest_churn``: the writes land first; one window reads through the
  searcher the freshness probe refreshed, one through a re-opened one.

The two windows sit about 3-10 s apart. The host's speed drifts by 10-30%
over tens of seconds, and two windows spread over the run average more of
that drift than one window of the same length at its end.

A traced run adds an upsert and a tiered merge after the second window
(``traced_tail``). Results are recorded during the run and replayed
against ``reference.Reference`` after it.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import sys
import time
import traceback
from collections import defaultdict

import numpy as np

from . import gen
from .reference import Reference, compare

# appends and upserts both land in the merge policy's 100-999 row tier, so
# a tiered merge always folds the newest batches together (see
# ``traced_tail`` on why the newest batch must be in the merge)
APPEND_TURNS = 400
UPSERT_TURNS = 100
# ingest_churn deletes the conversations of this many drawn turns (long
# conversations are likelier): ~170 conversations, ~25% of the base's
# turns. Its window reads through those tombstones, which still count in
# N and df and in the block-max bounds until a merge
CHURN_DELETES = 200
BASE_TURNS = 10_000

# The request mix. No traffic trace exists for this engine (neither the
# paper nor BASELINE.json gives one), so every share below is chosen, not
# measured. Each is set by the layer it loads and by the samples its
# metric needs in one window; README.md "The request mix" gives the
# reasoning share by share. Shapes repeat in a fixed cycle and only the
# words are seeded, so every run times the same mix of shapes.
READ_PATTERN = ("query",) * 10 + ("suggest", "suggest", "dist_query")
ROLE_BOOSTS = ({"user": 2.0}, {"assistant": 1.5, "tool": 0.5}, {"system": 3.0})
# (terms, mode, boosted) per query: 1-4 terms (mean 2.5), 3 in 10 AND,
# 3 in 10 boosted (the boost maps in turn)
QUERY_SHAPES = (
    (1, "or", False), (2, "or", False), (3, "and", False), (4, "or", True),
    (2, "and", False), (1, "or", True), (3, "or", False), (4, "and", False),
    (2, "or", True), (3, "or", False),
)
DIST_SHAPE = (2, "or", False)  # every dist_query
# suggest has one shape (``Run._suggest_text``); every other text
# carries one typo in its first word

# a traced run traces whole shape cycles of each kind, every other one
TRACE_BLOCK = {"query": len(QUERY_SHAPES), "suggest": 2, "dist_query": 1}
# the query tail's percentile: the highest with >= 10 samples beyond it
# when a slow host leaves the windows only 40 queries. Printed on the info
# line, not bound: its run-to-run spread reached 0.27 on a drifting host
QUERY_TAIL = 75

READS = ("query", "suggest", "dist_query")


class ZipfStream:
    """Zipf-distributed ranks read through the inverse CDF at the points of
    a Weyl sequence (u_k = u_0 + k * phi mod 1) rather than drawn
    independently. Every run then reads hot and rare words in nearly
    exact Zipf proportions. With ~2.5 terms a query, about half of all
    queries touch one of the ~30 hottest words, so the query median sits
    between a cheap and a costly mode, where a few more or fewer hot
    words in a run would move it. The seed still picks u_0 and, through
    the vocabulary, which words the ranks are."""

    PHI = (5**0.5 - 1) / 2

    def __init__(self, p: np.ndarray, u0: float):
        self.cdf = np.cumsum(p / p.sum())
        self.u = u0

    def draw(self, n: int) -> np.ndarray:
        us = (self.u + self.PHI * np.arange(1, n + 1)) % 1.0
        self.u = float(us[-1])
        return np.minimum(np.searchsorted(self.cdf, us, side="right"), len(self.cdf) - 1)


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def dir_bytes(path: str, newer_than: float | None = None) -> tuple[int, int]:
    """(bytes, files) under ``path``; with ``newer_than``, only files
    modified at or after that wall-clock time."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(root, n))
            if newer_than is None or st.st_mtime >= newer_than:
                total += st.st_size
                files += 1
    return total, files


class Run:
    """One benchmark run: Spark session, index, reference, the recorded
    operations and their timings."""

    def __init__(self, spark, workdir: str, seed: int, recorder, tracing: bool):
        from es_indexer_spark.index import catalog, merge
        from es_indexer_spark.query import engine
        from es_indexer_spark.sources import readers
        from es_indexer_spark.streaming import incremental

        self.catalog, self.merge, self.engine = catalog, merge, engine
        self.readers, self.incremental = readers, incremental
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.rec = recorder
        self.tracing = tracing
        self.index_dir = os.path.join(workdir, "index")
        self.vocab = gen.vocabulary(seed)
        zipf = gen.zipf_p()
        self.ref = Reference(self.vocab)  # mutated only by verify()
        self.words = list(self.vocab)  # vocabulary + freshness markers
        self.chunks: list[gen.Chunk] = []  # everything sent to the index
        self.ops_rng = gen.rng_for(seed, 9)
        u0 = self.ops_rng.random(4)
        self.terms = {"query": ZipfStream(zipf, u0[0]), "dist_query": ZipfStream(zipf, u0[1])}
        self.suggest_first = ZipfStream(zipf[:gen.HOT_SHORT], u0[2])
        self.suggest_prefix = ZipfStream(zipf, u0[3])
        self.searcher = None
        self.base_turns = 0
        self.n_upserts = self.n_markers = 0
        self.n_reads = {k: 0 for k in READS}
        self.n_shaped = self.n_boosted = 0  # positions in the shape cycles
        self.next_conv = 1_000_000
        self.events: list[tuple] = []
        self.lat = {k: [] for k in READS}  # untraced window reads
        self.traced_lat = {k: [] for k in READS}
        self.window_reqs = {k: [] for k in READS}  # traced window reads
        self.t = defaultdict(list)  # seconds per write / set-up step
        self.append_rates: list[float] = []
        self.bytes_written = defaultdict(list)  # append / merge
        self.text_bytes_appended = 0
        self.segments_at_read: list[int] = []
        self.postings_per_query: list[int] = []
        self.expunged = 0
        self.build_info: dict = {}
        self.build_req = -1
        self.attempted = self.failed = self.req = 0
        self._segments = 0

    # ------------------------------------------------------------ helpers
    def fail(self, what: str, err: str) -> None:
        self.failed += 1
        print(f"[benchmark] FAILED {what}: {err}", file=sys.stderr)

    def op(self, name: str, fn, *args, **kwargs):
        """One client operation: timed, a root span when tracing is on,
        an exception counted as a failure. Returns (result or None,
        seconds, request id)."""
        self.req += 1
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = self.rec.request("op." + name, self.req, fn, *args, **kwargs)
        except Exception:  # the run goes on; the failure is counted
            self.fail(name, traceback.format_exc(limit=4))
            return None, time.perf_counter() - t0, self.req
        return out, time.perf_counter() - t0, self.req

    def text_bytes(self, chunk: gen.Chunk) -> int:
        return int(sum(len(t) for t in chunk.texts(np.asarray(self.words, dtype=object))))

    def source(self, chunk: gen.Chunk, name: str):
        """Write the chunk to parquet; the program reads it back through
        ``sources.read_transcripts``."""
        path = os.path.join(self.workdir, "input", name)
        gen.write_parquet(chunk, np.asarray(self.words, dtype=object), path,
                          n_files=4 if len(chunk) >= 5000 else 1)
        good, _bad = self.readers.read_transcripts(self.spark, path)
        return good

    def vdir(self) -> str:
        return self.catalog.current_version_dir(self.index_dir)

    def _count_segments(self) -> int:
        root = os.path.join(self.vdir(), "postings")
        return sum(d.startswith("batch=") for d in os.listdir(root))

    def tombstones(self) -> np.ndarray:
        return self.incremental.load_tombstones(self.vdir())

    # ------------------------------------------------------------- writes
    def build_base(self, n_turns: int) -> None:
        from es_indexer_spark.index import build

        base = gen.conversations(self.seed, 0, 0, n_turns)
        src = self.source(base, "base")
        res, secs, req = self.op("build", lambda: build.build_index(
            self.spark, src, self.index_dir))
        if res is None:
            raise RuntimeError("base build failed")
        self.base_turns, self.build_req = n_turns, req
        self.t["build"].append(secs)
        self.chunks.append(base)
        self.events.append(("add", base))
        self.events.append(("count", "build", res.n_docs, len(base)))
        b, f = dir_bytes(res.version_dir)
        self.build_info = {"manifest": dict(res.metrics), "bytes": b, "files": f,
                           "checkpoints": _checkpoints(res.version_dir)}

    def append(self) -> None:
        """Append new conversations carrying a fresh marker term, then
        refresh and probe until the marker is searchable."""
        self.n_markers += 1
        marker = f"zqx{self.n_markers}"
        self.words.append(marker)
        self.events.append(("word", marker))
        chunk = gen.with_marker(
            gen.conversations(self.seed, 100 + self.n_markers, self.next_conv,
                              APPEND_TURNS),
            len(self.words) - 1,
        )
        self.next_conv = int(chunk.conv[-1]) + 1
        src = self.source(chunk, f"append-{self.n_markers}")
        wall0, t0 = time.time(), time.perf_counter()
        res, secs, _ = self.op("append", self.incremental.append_batch,
                               self.spark, src, self.index_dir)
        if res is None:
            return
        self.chunks.append(chunk)
        self.events.append(("add", chunk))
        self.events.append(("count", "append", res.get("appended"), len(chunk)))
        got = None
        while got is None or len(got) == 0:
            self.refresh()
            got, _, _ = self.op("freshness", self.searcher.search, [marker], 10)
            if time.perf_counter() - t0 > 60:
                self.fail("freshness", f"{marker} not searchable after 60 s")
                break
        self.t["freshness"].append(time.perf_counter() - t0)
        if got is not None:
            self.events.append(("read", "query", ([marker], 10, "or", None), got, None))
        self.t["append"].append(secs)
        self.append_rates.append(len(chunk) / secs)
        self.bytes_written["append"].append(dir_bytes(self.vdir(), wall0)[0])
        self.text_bytes_appended += self.text_bytes(chunk)

    def upsert(self) -> None:
        """New text for UPSERT_TURNS turns drawn from everything indexed
        so far (live, deleted or already upserted)."""
        self.n_upserts += 1
        chunk = gen.rewrite(self.seed, self.n_upserts, self._sample_keys(UPSERT_TURNS))
        src = self.source(chunk, f"upsert-{self.n_upserts}")
        wall0 = time.time()
        res, secs, _ = self.op("upsert", self.incremental.upsert_docs,
                               self.spark, src, self.index_dir)
        if res is None:
            return
        self.t["upsert"].append(secs)
        self.chunks.append(chunk)
        keys = {(int(c), int(t)) for c, t in zip(chunk.conv, chunk.turn)}
        self.events.append(("tomb_keys", keys, res.get("tombstoned")))
        self.events.append(("add", chunk))
        self.events.append(("count", "upsert", res.get("appended"), len(chunk)))
        self.bytes_written["append"].append(dir_bytes(self.vdir(), wall0)[0])
        self.text_bytes_appended += self.text_bytes(chunk)

    def delete(self, n: int) -> None:
        """Delete every turn of up to ``n`` conversations (``delete_where``):
        one from the newest batch, so a merge can expunge it, the others
        those of n - 1 turns drawn from everything indexed."""
        from pyspark.sql import functions as F

        newest = self.chunks[-1].conv
        convs = sorted({int(newest[self.ops_rng.integers(len(newest))])}
                       | {int(c) for c in self._sample_keys(n - 1).conv})
        pred = F.col("conv_id").isin([gen.conv_id(c) for c in convs])
        res, secs, _ = self.op("delete", self.incremental.delete_where,
                               self.spark, self.index_dir, pred)
        if res is None:
            return
        self.t["delete"].append(secs)
        self.events.append(("tomb_convs", convs, res))

    def merge_tiered(self) -> None:
        """``merge_segments`` with the default tiered policy; the surviving
        tombstones tell the reference which ones it expunged."""
        wall0 = time.time()
        res, secs, _ = self.op("merge", self.merge.merge_segments, self.spark,
                               self.index_dir)
        if res is None:
            return
        self.t["merge"].append(secs)
        self.bytes_written["merge"].append(dir_bytes(self.vdir(), wall0)[0])
        self.events.append(("expunge", self.tombstones(), res.get("docs_expunged")))

    def _sample_keys(self, n: int) -> gen.Chunk:
        """n distinct (conv, turn) keys among every turn indexed so far, in
        (conv, turn) order, with their roles and tools."""
        conv = np.concatenate([c.conv for c in self.chunks])
        turn = np.concatenate([c.turn for c in self.chunks])
        role = np.concatenate([c.role for c in self.chunks])
        tool = np.concatenate([c.tool for c in self.chunks])
        _, first = np.unique(conv * 1000 + turn, return_index=True)
        pick = self.ops_rng.choice(first, size=min(n, len(first)), replace=False)
        pick = pick[np.lexsort((turn[pick], conv[pick]))]
        return gen.Chunk(conv[pick], turn[pick], role[pick], tool[pick],
                         np.zeros(0, np.int32), np.zeros(len(pick) + 1, np.int64))

    # ---------------------------------------------------------- searcher
    def refresh(self) -> None:
        res, secs, _ = self.op("refresh", self.searcher.refresh)
        if res is not None:
            self.searcher = res
            self.t["refresh"].append(secs)
        self._segments = self._count_segments()

    def open_and_warm(self) -> None:
        """One set-up repetition: open a searcher on the current index and
        run its first driver query (loads the norms) and first distributed
        query (packs and persists the doc side)."""
        if self.searcher is not None:
            self.searcher.close()
        probe = [str(self.vocab[0])]
        t0 = time.perf_counter()
        s, _, _ = self.op("open", self.engine.IndexSearcher, self.spark, self.index_dir)
        if s is None:
            raise RuntimeError("searcher open failed")
        self.searcher = s
        got, q_s, _ = self.op("query", s.search, probe, 10)
        self.first_dist_query()
        self.t["setup"].append(time.perf_counter() - t0)
        self.t["first_query"].append(q_s)
        if got is not None:
            self.events.append(("read", "query", (probe, 10, "or", None), got, None))
        self._segments = self._count_segments()

    def first_dist_query(self) -> None:
        """The searcher's first distributed query, outside the windows: it
        packs the doc side, a set-up cost that in a window would be one
        outlier among few ``dist_query`` samples."""
        probe = [str(self.vocab[0])]
        rows, secs, _ = self.op("dist_query", lambda: self.searcher.search_df(
            probe, 10).collect())
        self.t["cold_doc_side"].append(secs)
        if rows is not None:
            self.events.append(("read", "dist_query", (probe, 10, "or", None), rows, None))

    # ------------------------------------------------------------- reads
    def _query_args(self, kind: str):
        """(terms, k, mode, role_boosts): the next shape of QUERY_SHAPES
        (DIST_SHAPE for ``dist_query``), with Zipf-drawn words."""
        if kind == "dist_query":
            n, mode, boosted = DIST_SHAPE
        else:
            n, mode, boosted = QUERY_SHAPES[self.n_shaped % len(QUERY_SHAPES)]
            self.n_shaped += 1
        terms = [str(w) for w in self.vocab[self.terms[kind].draw(n)]]
        boosts = None
        if boosted:
            boosts = ROLE_BOOSTS[self.n_boosted % len(ROLE_BOOSTS)]
            self.n_boosted += 1
        return terms, 10, mode, boosts

    def _suggest_text(self) -> str:
        """A typed word — one of the short, frequent words, half the time
        with one typo, so the fuzzy expansion runs — then the 3-letter
        prefix of a Zipf-drawn word. One shape keeps the expansion work
        per request alike, so a run's median is steady."""
        first = str(self.vocab[self.suggest_first.draw(1)[0]])
        prefix = str(self.vocab[self.suggest_prefix.draw(1)[0]])[:3]
        if self.n_reads["suggest"] % 2:
            i = int(self.ops_rng.integers(len(first)))
            first = first[:i] + "aeiou"[int(self.ops_rng.integers(5))] + first[i + 1:]
        return f"{first} {prefix}"

    def read(self, kind: str) -> None:
        """One window read. In a traced run every other TRACE_BLOCK of
        each kind is traced; the untraced rest gives the tracing overhead."""
        traced = self.tracing and (self.n_reads[kind] // TRACE_BLOCK[kind]) % 2 == 0
        self.n_reads[kind] += 1
        self.rec.enabled = traced
        s = self.searcher
        if kind == "suggest":
            args = self._suggest_text()
            got, secs, req = self.op("suggest", s.suggest, args, 10)
        else:
            args = self._query_args(kind)
            terms, k, mode, boosts = args
            if kind == "query":
                got, secs, req = self.op("query", s.search, terms, k, mode=mode,
                                         role_boosts=boosts)
            else:
                got, secs, req = self.op("dist_query", lambda: s.search_df(
                    terms, k, mode=mode, role_boosts=boosts).collect())
        self.rec.enabled = self.tracing
        (self.traced_lat if traced else self.lat)[kind].append(secs)
        if traced:
            self.window_reqs[kind].append(req)
        self.segments_at_read.append(self._segments)
        if got is not None:
            self.events.append(("read", kind, args, got, kind == "query"))

    def check_queries(self, n: int) -> None:
        """n queries outside the window: checked, not timed."""
        for _ in range(n):
            args = self._query_args("query")
            terms, k, mode, boosts = args
            got, _, _ = self.op("query", self.searcher.search, terms, k, mode=mode,
                                role_boosts=boosts)
            if got is not None:
                self.events.append(("read", "query", args, got, False))

    # ------------------------------------------------------------- check
    def verify(self) -> None:
        """Replay the recorded events against the reference."""
        ref = self.ref
        for ev in self.events:
            kind = ev[0]
            if kind == "word":
                ref.add_word(ev[1])
            elif kind == "add":
                ref.add(ev[1])
            elif kind == "count":
                if ev[2] != ev[3]:
                    self.fail(ev[1], f"indexed {ev[2]} turns of {ev[3]}")
            elif kind == "tomb_keys":
                n = ref.tombstone_keys(ev[1])
                if ev[2] != n:
                    self.fail("upsert", f"tombstoned {ev[2]}, reference {n}")
            elif kind == "tomb_convs":
                n = ref.tombstone_convs(ev[1])
                if ev[2] != n:
                    self.fail("delete", f"deleted {ev[2]}, reference {n}")
            elif kind == "expunge":
                try:
                    n = ref.expunge_all_but(ev[1])
                except ValueError as e:
                    self.fail("merge", str(e))
                    continue
                self.expunged += n
                if ev[2] != n:
                    self.fail("merge", f"expunged {ev[2]}, reference {n}")
            elif kind == "read":
                self._check_read(*ev[1:])

    def _check_read(self, kind, args, got, count_postings) -> None:
        ref = self.ref
        if kind == "suggest":
            terms, k, mode, boosts = ref.suggest_terms(args), 10, "or", None
        else:
            terms, k, mode, boosts = args
        if count_postings:
            self.postings_per_query.append(sum(ref.df(t) for t in set(terms)))
        ords, scores, full = ref.top_k(terms, k, mode, boosts)
        if kind == "dist_query":
            ids, sc = [r["doc_id"] for r in got], [r["score"] for r in got]
        else:
            ids, sc = got["doc_id"].tolist(), got["score"].to_numpy()
        why = compare(ids, sc, ords, scores, full, ref.doc_id)
        if why is not None:
            self.fail(kind, f"{args!r}: {why}")


def _checkpoints(vdir: str) -> dict:
    """Stage wall times from the build's checkpoint JSON."""
    ck = os.path.join(vdir, "checkpoints")
    out = {"postings_s": 0.0}
    for name in os.listdir(ck):
        with open(os.path.join(ck, name)) as f:
            d = json.load(f)
        if name == "doc_stats.json":
            out["doc_stats_s"], out["ordinals_s"] = d["wall_s"], d["ordinals_s"]
        elif name == "term_stats.json":
            out["term_stats_s"] = d["wall_s"]
        elif name.startswith("batch_"):
            out["postings_s"] += d["wall_s"]
    return out


# ---------------------------------------------------------------- workloads
def read_window(run: Run, seconds: float) -> None:
    """One timed window: READ_PATTERN repeated for ``seconds``."""
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < seconds:
        run.read(READ_PATTERN[i % len(READ_PATTERN)])
        i += 1


def search_mix(run: Run, seconds: float) -> None:
    """Set-up builds the base and opens and warms a searcher; the first
    window reads the one-segment base. Then a batch is appended through
    that searcher (with its freshness probe), two conversations are
    deleted, and a new searcher is opened and warmed; the second window
    reads that warm two-segment index."""
    run.build_base(BASE_TURNS)
    run.open_and_warm()
    read_window(run, seconds / 2)
    run.append()
    run.delete(2)
    run.open_and_warm()
    read_window(run, seconds / 2)
    if run.tracing:
        traced_tail(run)


def ingest_churn(run: Run, seconds: float) -> None:
    """A searcher is opened and warmed on the freshly built base; then a
    delete of CHURN_DELETES conversations and an append land. The first
    window reads right after the refresh that made them visible, through
    their tombstones and the refreshed searcher (its doc side packed by
    ``first_dist_query``); the second through a re-opened, warmed one."""
    run.build_base(BASE_TURNS)
    run.open_and_warm()
    run.delete(CHURN_DELETES)
    run.append()
    run.first_dist_query()
    read_window(run, seconds / 2)
    run.open_and_warm()
    read_window(run, seconds / 2)
    if run.tracing:
        traced_tail(run)


def traced_tail(run: Run) -> None:
    """After the window of a traced run only: an upsert, a tiered merge,
    a refresh and checked queries on the merged index. They feed only
    the ``incremental.upsert_s`` and ``merge.*`` layer metrics, and their
    10-15 s would not fit the untraced runs' time budget.

    The merge folds the append and upsert batches, newest included: a
    merged segment then never carries a later label than an unmerged
    batch holding higher ordinals, a layout on which the driver path's
    block-max scorer misses postings at this commit."""
    run.upsert()
    run.merge_tiered()
    run.refresh()
    run.check_queries(4)


WORKLOADS = {"search_mix": search_mix, "ingest_churn": ingest_churn}


# ------------------------------------------------------------------ metrics
def _index_sizes(run: Run) -> tuple[int, int]:
    """(inverted-index bytes: postings + term dictionary, whole version
    directory bytes) of the current index."""
    vd = run.vdir()
    man = run.catalog.read_json(os.path.join(vd, "manifest.json"))
    post, _ = dir_bytes(os.path.join(vd, "postings"))
    terms, _ = dir_bytes(os.path.join(vd, man.get("term_stats_dir", "term_stats")))
    return post + terms, dir_bytes(vd)[0]


def peak_rss_mb() -> float:
    """Peak RSS of this (driver) process so far."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def end_to_end(run: Run, rss_mb: float) -> dict:
    """``rss_mb``: ``peak_rss_mb()`` read before ``run.verify()``, so the
    reference replay's memory is not counted."""
    inv_bytes, _ = _index_sizes(run)
    ref = run.ref
    return {
        "setup_s": (statistics.median(run.t["setup"]), "s"),
        "build_turns_per_s": (run.base_turns / run.t["build"][0], "turns/s"),
        "index_bytes_per_text_byte": (
            inv_bytes / int(ref.text_bytes[ref.present].sum()), "ratio"),
        "query_p50_ms": (1e3 * pct(run.lat["query"], 50), "ms"),
        "suggest_p50_ms": (1e3 * pct(run.lat["suggest"], 50), "ms"),
        "dist_query_p50_ms": (1e3 * pct(run.lat["dist_query"], 50), "ms"),
        "append_turns_per_s": (statistics.median(run.append_rates), "turns/s"),
        "freshness_p50_s": (statistics.median(run.t["freshness"]), "s"),
        "driver_rss_mb": (rss_mb, "MB"),
    }


def _mean(xs) -> float:
    xs = list(xs)
    return float(np.mean(xs)) if xs else 0.0


def per_layer(run: Run, groups: dict) -> dict:
    """Per-layer metrics from spans, the build checkpoints, file sizes and
    the Spark event log (``groups``: totals per job group)."""
    from .eventlog import FIELDS

    rec = run.rec
    by_req = rec.per_request()
    ev_req: dict[int, dict] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    ev_name: dict[str, list[dict]] = defaultdict(list)
    for sid, span in enumerate(rec.spans):
        g = groups.get(f"span-{sid}")
        if g is None:
            continue
        ev_name[span[0]].append(g)
        for f in FIELDS:
            ev_req[span[4]][f] += g[f]

    def layer_ms(kind: str, *names: str) -> float:
        return 1e3 * _mean(sum(by_req[r]["self"][n] for n in names)
                           for r in run.window_reqs[kind])

    def coverage(kind: str) -> float:
        return _mean((by_req[r]["dur"] - by_req[r]["self"]["op." + kind]) / by_req[r]["dur"]
                     for r in run.window_reqs[kind])

    def dist(field: str) -> float:
        return _mean(ev_req[r][field] for r in run.window_reqs["dist_query"])

    def overhead_ms(kind: str) -> float:
        return 1e3 * (pct(run.traced_lat[kind], 50) - pct(run.lat[kind], 50))

    ck = run.build_info["checkpoints"]
    man = run.build_info["manifest"]
    b = ev_req[run.build_req]
    dq = run.window_reqs["dist_query"]
    _, version_bytes = _index_sizes(run)
    ref = run.ref
    written = sum(run.bytes_written["append"]) + sum(run.bytes_written["merge"])
    m = {
        "corpus.ordinals_s": (ck["ordinals_s"], "s"),
        "build.doc_stats_s": (ck["doc_stats_s"], "s"),
        "build.postings_s": (ck["postings_s"], "s"),
        "build.term_stats_s": (ck["term_stats_s"], "s"),
        "build.map_task_s": (b["map_task_ms"] / 1e3, "s"),
        "build.reduce_task_s": (b["reduce_task_ms"] / 1e3, "s"),
        "build.sched_wait_s": (b["sched_wait_ms"] / 1e3, "s"),
        "build.gc_s": (b["gc_ms"] / 1e3, "s"),
        "build.tasks": (b["tasks"], "count"),
        "build.shuffle_write_bytes": (b["shuffle_write_bytes"], "bytes"),
        "build.spill_bytes": (b["spill_bytes"], "bytes"),
        "codec.bytes_per_posting": (man["bytes_compressed"] / max(1, man["postings"]), "bytes"),
        "build.index_bytes": (run.build_info["bytes"], "bytes"),
        "build.files": (run.build_info["files"], "count"),
        "engine.search_self_ms": (layer_ms("query", "engine.search"), "ms"),
        "scoring.blockmax_ms": (layer_ms("query", "scoring.blockmax"), "ms"),
        "scoring.exhaustive_ms": (layer_ms("query", "scoring.exhaustive"), "ms"),
        "codec.decode_ms": (layer_ms("query", "codec.decode_all", "codec.varint_decode",
                                     "codec.delta_decode_multi"), "ms"),
        "engine.postings_per_query": (_mean(run.postings_per_query), "count"),
        "trace.query_coverage": (coverage("query"), "ratio"),
        "engine.expand_ms": (layer_ms("suggest", "engine.expand_prefix",
                                      "engine.expand_fuzzy"), "ms"),
        "engine.suggest_scoring_ms": (layer_ms(
            "suggest", "engine.search", "scoring.blockmax", "scoring.exhaustive",
            "codec.decode_all", "codec.varint_decode", "codec.delta_decode_multi"), "ms"),
        "engine.terms_per_suggest": (_mean(
            by_req[r]["count"]["engine.expand_prefix"]
            + by_req[r]["count"]["engine.expand_fuzzy"]
            for r in run.window_reqs["suggest"]), "count"),
        "trace.suggest_coverage": (coverage("suggest"), "ratio"),
        "dist.score_phase_ms": (1e3 * _mean(
            by_req[r]["self"]["dist.search_df"] for r in dq), "ms"),
        "dist.enrich_ms": (1e3 * _mean(by_req[r]["self"]["op.dist_query"] for r in dq), "ms"),
        "dist.jobs_per_query": (dist("jobs"), "count"),
        "dist.tasks_per_query": (dist("tasks"), "count"),
        "dist.executor_run_ms_per_query": (dist("run_ms"), "ms"),
        "dist.sched_wait_ms_per_query": (dist("sched_wait_ms"), "ms"),
        "dist.shuffle_bytes_per_query": (dist("shuffle_write_bytes"), "bytes"),
        "engine.first_query_s": (statistics.median(run.t["first_query"]), "s"),
        "dist.cold_doc_side_s": (statistics.median(run.t["cold_doc_side"]), "s"),
        "engine.refresh_s": (_mean(run.t["refresh"]), "s"),
        "incremental.append_s": (_mean(run.t["append"]), "s"),
        "incremental.upsert_s": (_mean(run.t["upsert"]), "s"),
        "incremental.delete_s": (_mean(run.t["delete"]), "s"),
        "incremental.jobs_per_append": (_mean(
            g["jobs"] for g in ev_name["incremental.append"]), "count"),
        "incremental.bytes_written_per_append": (_mean(run.bytes_written["append"]), "bytes"),
        "merge.merge_s": (_mean(run.t["merge"]), "s"),
        "merge.bytes_rewritten": (sum(run.bytes_written["merge"]), "bytes"),
        "merge.docs_expunged": (run.expunged, "count"),
        "index.segments_at_query": (_mean(run.segments_at_read), "count"),
        "index.write_amp": (written / max(1, run.text_bytes_appended), "ratio"),
        "index.space_amp": (version_bytes / int(ref.text_bytes[ref.live].sum()), "ratio"),
        "trace.overhead_query_ms": (overhead_ms("query"), "ms"),
        "trace.overhead_suggest_ms": (overhead_ms("suggest"), "ms"),
        "trace.overhead_dist_query_ms": (overhead_ms("dist_query"), "ms"),
    }
    return m
