"""Tiered segment merging with expunge-deletes — incremental compaction.

The reference delegates segment management to Lucene: Elasticsearch's
``TieredMergePolicy`` continuously folds the small segments produced by
its bulk/async upsert paths (``IndexerMetadataServiceImpl.java:415-451``
single-doc upserts, ``:476-662`` batched bulk requests) into larger ones,
reclaiming deleted docs as a side effect, so that neither segment count
nor tombstone mass grows without bound. This module is that layer for the
parquet index layout: every ``append_batch`` (streaming micro-batch or
manual slice) leaves one ``batch=N`` directory holding one segment, and a
long-lived stream accumulates hundreds of them — each adding a posting
chunk per term per query, a packed-norms row, and scheduler overhead to
the distributed scoring cogroup. ``rebuild_compacted`` (blue/green full
rebuild) stays the deep-clean path, but at 10^12 turns a full rebuild to
fold a few thousand micro-batch segments is a non-starter; this is the
incremental answer, sized to the small tier it touches.

Semantics (Lucene parity):

- **consolidation**: K batch directories collapse into ONE batch with ONE
  segment. Doc ordinals never change; posting runs of one term are byte-
  concatenated in ``min_doc`` order (runs are disjoint ordered ranges,
  each run's first gap absolute — the same zero-decode reduce as the
  build's ``merge_chunks``).
- **expunge** (default): docs tombstoned within the merged ranges are
  dropped from both postings (vectorized decode → filter → re-encode)
  and doc_stats, and their ordinals leave the tombstone set. Ordinals are
  NOT renumbered — the merged segment keeps holes, which is safe because
  an expunged doc appears in no posting list and no doc_stats row: the
  packed norms densify over the span (``engine._doc_side``) and the
  driver norms scatter by ordinal (``engine._load_norms``). The manifest
  tracks ``next_ord`` (ordinal span) separately from ``n_docs`` (live
  rows) so later appends keep allocating collision-free.
- **block metadata** stays WAND-safe without a doc-length join: the
  re-encode carries each surviving posting's OLD per-block ``min_dl``
  forward as its pseudo-dl, so every new block's ``min_dl`` is the min of
  the old blocks it overlaps — a conservative (≤ true) bound, and WAND
  ceilings only need ``min_dl`` to never exceed the true minimum.
  ``block_max_tf``/``block_last`` are recomputed exactly.
- **BM25 stats**: the merged batch writes its own term dictionary
  (``term_stats/batch=<bid>``, df/total_tf of its surviving postings)
  beside its postings, and the victims' dictionaries leave with them, so
  the dictionary work is O(victims); ``n_docs``/``avgdl`` are recomputed
  from the post-merge doc_stats. After a full expunging merge scores
  equal a from-scratch build over the live corpus. NOTE Lucene-parity caveat:
  tombstones in UNMERGED batches still count toward N/avgdl/df until a
  merge or compaction reaches them — exactly ES behaviour, where deleted
  docs affect scores until their segment is merged.

Crash safety is an intent-log commit protocol (the analogue of Lucene's
two-phase ``SegmentInfos`` commit): the merged output is fully staged
outside the live directories, an intent record is written, then the
staged directories are installed, victims removed, stats republished —
``recover_merges`` rolls an interrupted merge forward from the first
durable point or discards an unstaged one. Readers opened in the short
install window may see duplicated postings for merged docs; merges are an
administrative operation like compaction — open searchers older than the
merge must ``refresh()`` (the documented snapshot contract,
``engine.IndexSearcher`` docstring). The listed-manifest upgrade path
(Iceberg-style file manifests, ``catalog.py``) removes that window.

At 100 TB: a merge rewrites ONLY its victim tier — postings, doc_stats
and dictionary (the policy keeps tiers geometric, so the steady-state
write amplification is O(log N) like Lucene's) — runs as ordinary Spark
jobs partitioned by ``tbucket``, and holds no O(corpus) driver state:
the only driver arrays are the tombstones (Lucene's liveDocs
asymptotics). One step is still O(corpus): ``_finalize_stats``
recomputes N/avgdl with a Spark job over all of doc_stats.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .. import codec
from ..planlimits import drop_ordinals
from . import catalog
from .build import _enc_schema, encode_flat, merge_chunks, write_term_stats

BLOCK = codec.BLOCK_SIZE


# --------------------------------------------------------------- inventory

def batch_infos(vdir: str) -> list[dict]:
    """Per-batch inventory from parquet FOOTER metadata only (no data
    read): rows + [min_ord, max_ord] from row-group statistics."""
    ds_root = os.path.join(vdir, "doc_stats")
    infos = []
    for d in sorted(os.listdir(ds_root)):
        if not d.startswith("batch="):
            continue
        bid = int(d.split("=", 1)[1])
        dset = pads.dataset(os.path.join(ds_root, d), format="parquet")
        rows = 0
        lo, hi = None, None
        for frag in dset.get_fragments():
            md = frag.metadata
            rows += md.num_rows
            try:
                ci = md.schema.names.index("doc_ord")
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        raise ValueError("no stats")
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
            except ValueError:
                tbl = frag.to_table(columns=["doc_ord"])
                arr = tbl["doc_ord"].to_numpy()
                if len(arr):
                    lo = int(arr.min()) if lo is None else min(lo, int(arr.min()))
                    hi = int(arr.max()) if hi is None else max(hi, int(arr.max()))
        infos.append({
            "bid": bid, "rows": rows,
            "min_ord": int(lo) if lo is not None else 0,
            "max_ord": int(hi) if hi is not None else -1,
        })
    infos.sort(key=lambda i: i["min_ord"])
    return infos


def select_merge_groups(
    infos: list[dict],
    *,
    merge_factor: int = 10,
    min_inputs: int = 2,
    max_merged_docs: int | None = None,
) -> list[list[dict]]:
    """TieredMergePolicy-lite: batches tier by ``floor(log_mf(rows))``;
    CONSECUTIVE (ordinal-ordered) batches of the same tier merge in groups
    of up to ``merge_factor``. Consecutiveness keeps each output segment's
    ordinal span tight (packed norms allocate max-min+1 slots); same-tier
    grouping keeps write amplification O(log N) — a doc is rewritten once
    per tier promotion, never repeatedly into a much larger neighbour."""
    def tier(rows: int) -> int:
        t, r = 0, max(rows, 1)
        while r >= merge_factor:
            t, r = t + 1, r // merge_factor
        return t

    groups, run = [], []

    def flush(run):
        while len(run) >= max(min_inputs, 2):
            take = run[:merge_factor]
            if max_merged_docs is not None:
                while len(take) > min_inputs and sum(i["rows"] for i in take) > max_merged_docs:
                    take = take[:-1]
                if sum(i["rows"] for i in take) > max_merged_docs:
                    break
            groups.append(take)
            run = run[len(take):]

    prev_tier = None
    for info in infos:
        t = tier(info["rows"])
        if prev_tier is not None and t != prev_tier:
            flush(run)
            run = []
        run.append(info)
        prev_tier = t
    flush(run)
    return groups


# ----------------------------------------------------------- expunge kernel

def _expunge_reencode(
    pdf: pd.DataFrame, tombs: np.ndarray, new_seg: int, with_positions: bool
) -> pd.DataFrame:
    """Drop tombstoned docs from posting chunks and re-encode — one
    vectorized pass per Arrow batch. ``pdf`` is sorted (term, min_doc)
    within its tbucket partition; rows of one term concatenate into one
    chunk (a term split across Arrow batches yields several chunks with
    disjoint ordered ranges — readers already concatenate those).

    Per-posting pseudo-dl = the OLD block's min_dl, making every new
    block's min_dl a conservative (≤ true) bound — see module docstring.
    """
    out_cols = [f.name for f in _enc_schema(with_positions).fields]
    if len(pdf) == 0:
        return pd.DataFrame({c: [] for c in out_cols})

    docs_l, tfs_l, pdl_l, pos_l = [], [], [], []
    gid_l = []
    for i in range(len(pdf)):
        r = pdf.iloc[i]
        gaps = codec.varint_decode(bytes(r["doc_bytes"])).astype(np.int64)
        run_lens = np.asarray(r["run_lens"], dtype=np.int64)
        run_starts = np.concatenate(([0], np.cumsum(run_lens)[:-1]))
        docs = codec.delta_decode_multi(gaps, run_starts)
        tfs = codec.varint_decode(bytes(r["tf_bytes"])).astype(np.int64)
        bmindl = np.asarray(r["block_min_dl"], dtype=np.int64)
        # blocks were cut per RUN at encode time and concatenated by the
        # build's merge_chunks — so per-block sizes derive from run_lens,
        # not from the chunk total: run of length L has ceil(L/128)
        # blocks, all full except the last
        nb_r = -(-run_lens // BLOCK)
        bends = np.cumsum(nb_r)
        sizes = np.full(int(bends[-1]) if len(bends) else 0, BLOCK,
                        dtype=np.int64)
        if len(bends):
            sizes[bends - 1] = run_lens - BLOCK * (nb_r - 1)
        pdl = np.repeat(bmindl, sizes)
        docs_l.append(docs)
        tfs_l.append(tfs)
        pdl_l.append(pdl)
        gid_l.append(np.full(len(docs), i, dtype=np.int64))
        if with_positions:
            flat = codec.varint_decode(bytes(r["pos_bytes"])).astype(np.int64)
            # stream = per doc [npos, deltas...]; npos == tf, so the npos
            # slots sit at d + exclusive-cumsum(tf) — fully vectorized
            n = len(docs)
            excl = np.concatenate(([0], np.cumsum(tfs)[:-1]))
            npos_at = np.arange(n, dtype=np.int64) + excl
            mask = np.ones(len(flat), dtype=bool)
            mask[npos_at] = False
            deltas = flat[mask]
            abs_pos = codec.delta_decode_multi(deltas, excl)
            pos_l.append(abs_pos)

    docs = np.concatenate(docs_l)
    tfs = np.concatenate(tfs_l)
    pdl = np.concatenate(pdl_l)
    gid = np.concatenate(gid_l)

    # membership against the sorted tombstone array
    idx = np.searchsorted(tombs, docs)
    idx_c = np.minimum(idx, len(tombs) - 1)
    dead = (idx < len(tombs)) & (tombs[idx_c] == docs)
    keep = ~dead

    if with_positions:
        pos_flat = np.concatenate(pos_l) if pos_l else np.zeros(0, np.int64)
        pos_flat = pos_flat[np.repeat(keep, tfs)]

    docs, tfs, pdl, gid = docs[keep], tfs[keep], pdl[keep], gid[keep]
    if len(docs) == 0:
        return pd.DataFrame({c: [] for c in out_cols})

    # regroup: consecutive equal (term) — gid preserves the original row
    # (term) order, and several input rows of one term must fuse into one
    # group so the re-encode emits ONE chunk per term per batch
    terms_in = pdf["term"].to_numpy(object)
    tbuckets_in = pdf["tbucket"].to_numpy(np.int64)
    row_term = terms_in[gid]
    new_g = np.ones(len(docs), dtype=bool)
    new_g[1:] = row_term[1:] != row_term[:-1]
    gstarts = np.flatnonzero(new_g)
    terms_g = row_term[gstarts]
    tbuckets_g = tbuckets_in[gid[gstarts]].astype(np.int32)
    segs_g = np.full(len(gstarts), new_seg, dtype=np.int32)

    return encode_flat(
        terms_g, segs_g, tbuckets_g, docs, tfs, pdl.astype(np.int64),
        gstarts, with_positions,
        pos_flat if with_positions else None,
    )


# ------------------------------------------------------------ merge driver

def _next_merge_bid(vdir: str) -> int:
    """Allocate a batch id no live or HISTORICAL batch ever used —
    checkpoint files are the history (victim dirs are deleted, and id
    reuse would overwrite their lineage records)."""
    ids = [0]
    for root in ("postings", "doc_stats"):
        p = os.path.join(vdir, root)
        if os.path.isdir(p):
            ids += [int(d.split("=", 1)[1]) for d in os.listdir(p)
                    if d.startswith("batch=")]
    ck = os.path.join(vdir, "checkpoints")
    if os.path.isdir(ck):
        for f in os.listdir(ck):
            for pref in ("append_", "merge_"):
                if f.startswith(pref) and f.endswith(".json"):
                    try:
                        ids.append(int(f[len(pref):-5]))
                    except ValueError:
                        pass
    from ..streaming.incremental import EPOCH_BID_BASE
    # epoch-derived ids (EPOCH_BID_BASE + epoch) live in their own space;
    # merges allocate from the manual space like manual appends do
    manual = [i for i in ids if i < EPOCH_BID_BASE]
    nxt = max(manual) + 1
    if nxt >= EPOCH_BID_BASE:
        raise RuntimeError(
            "manual batch ids exhausted; run rebuild_compacted to reset")
    return nxt


def _finalize_stats(spark: SparkSession, vdir: str) -> None:
    """Republish N/avgdl after a merge from the post-merge doc_stats. The
    dictionary needs no republish: the merged batch wrote its own, and
    the victims' left with them. This still scans all of doc_stats in one
    Spark job (idempotent, so recovery can repeat it)."""
    # single-writer per index is the operating assumption (as in the
    # reference's one-indexer-per-alias deployment), but re-reading the
    # manifest here keeps an interleaved append's next_ord/n_docs bump
    # from being clobbered by the caller's stale copy
    manifest = catalog.read_json(os.path.join(vdir, "manifest.json"))
    stats = (
        spark.read.parquet(os.path.join(vdir, "doc_stats"))
        .agg(F.count("*").alias("n"), F.sum("dl").alias("tot"))
        .collect()[0]
    )
    n_live, tot = int(stats["n"]), int(stats["tot"] or 0)
    manifest.update({
        "n_docs": n_live,
        "total_tokens": tot,
        # avgdl = total/n exactly as build_index and append_batch compute
        # it (one exact-integer sum, one double divide) — F.avg's
        # double-accumulation order could drift in the last ulp
        "avgdl": (tot / n_live) if n_live else 0.0,
    })
    catalog.write_json(os.path.join(vdir, "manifest.json"), manifest)


# the per-batch subdirectories a merge stages, installs and removes
_BATCH_DIRS = ("doc_stats", "postings", "term_stats")


def _install_and_clean(vdir: str, intent: dict) -> None:
    """Roll a staged merge forward: install staged dirs, set state, remove
    victim dirs. Every step is idempotent (exists-checks) so recovery can
    re-enter at any point."""
    new_bid = intent["new_bid"]
    stage = os.path.join(vdir, "merge_staging", str(new_bid))
    for sub in _BATCH_DIRS:
        src = os.path.join(stage, sub)
        dst = os.path.join(vdir, sub, f"batch={new_bid}")
        if os.path.isdir(src) and not os.path.isdir(dst):
            os.replace(src, dst)
        if not os.path.isdir(dst):
            # staged output vanished before install: removing the victims
            # now would lose data — refuse; recover_merges discards the
            # intent on the next pass when nothing was installed
            raise RuntimeError(
                f"merge {new_bid}: neither staged nor installed {sub} "
                f"exists — aborting install, victims untouched"
            )
    _write_intent(vdir, {**intent, "state": "installed"})
    for vb in intent["victims"]:
        for sub in _BATCH_DIRS:
            shutil.rmtree(os.path.join(vdir, sub, f"batch={vb}"),
                          ignore_errors=True)
    shutil.rmtree(stage, ignore_errors=True)


def _intent_path(vdir: str, new_bid: int) -> str:
    return os.path.join(vdir, "checkpoints", f"merge_{new_bid:05d}.json")


def _write_intent(vdir: str, intent: dict) -> None:
    os.makedirs(os.path.join(vdir, "checkpoints"), exist_ok=True)
    catalog.write_json(_intent_path(vdir, intent["new_bid"]), intent)


def _rewrite_tombstones(vdir: str, expunged: np.ndarray) -> None:
    """Drop the expunged ordinals from the tombstone store. The remaining
    set is written as a new delta FIRST and the older deltas are removed
    after it, so a crash at any point leaves a superset of the remaining
    set on disk — expunged ordinals are never reused, so masking them is
    harmless — and ``recover_merges`` repeats the rewrite."""
    from ..streaming.incremental import (
        _tombstone_deltas,
        _write_tombstone_delta,
        load_tombstones,
    )

    tombs = load_tombstones(vdir)
    gone = np.isin(tombs, expunged)
    if not gone.any():
        return
    older = _tombstone_deltas(vdir)
    if not gone.all():
        _write_tombstone_delta(vdir, tombs[~gone])
    for i in older:
        shutil.rmtree(os.path.join(vdir, "tombstones_pq", f"batch={i}"))


def recover_merges(spark: SparkSession, index_dir: str) -> int:
    """Finish (or discard) merges interrupted mid-commit. Called
    automatically at the start of merge_segments; safe to call any time.
    Returns the number of intents resolved."""
    vdir = catalog.current_version_dir(index_dir)
    if vdir is None:
        return 0
    ck = os.path.join(vdir, "checkpoints")
    resolved = 0
    if not os.path.isdir(ck):
        return 0
    for f in sorted(os.listdir(ck)):
        if not (f.startswith("merge_") and f.endswith(".json")):
            continue
        intent = catalog.read_json(os.path.join(ck, f))
        if intent.get("state") == "done":
            continue
        new_bid = intent["new_bid"]
        stage = os.path.join(vdir, "merge_staging", str(new_bid))
        installed = all(
            os.path.isdir(os.path.join(vdir, sub, f"batch={new_bid}"))
            for sub in _BATCH_DIRS
        )
        staged_ok = all(
            os.path.isdir(os.path.join(stage, sub))
            or os.path.isdir(os.path.join(vdir, sub, f"batch={new_bid}"))
            for sub in _BATCH_DIRS
        )
        if (intent.get("state") == "staged" and staged_ok) or installed:
            # staged durably (or partially installed): roll FORWARD
            _install_and_clean(vdir, intent)
            _rewrite_tombstones(vdir, np.asarray(intent.get("expunged_ords", []),
                                                 dtype=np.int64))
            _finalize_stats(spark, vdir)
            _write_intent(vdir, {**intent, "state": "done"})
        else:
            # never fully staged: discard the attempt
            shutil.rmtree(stage, ignore_errors=True)
            os.remove(os.path.join(ck, f))
        resolved += 1
    # orphan staging dirs with no intent record at all
    stroot = os.path.join(vdir, "merge_staging")
    if os.path.isdir(stroot):
        for d in os.listdir(stroot):
            if not os.path.exists(_intent_path(vdir, int(d))):
                shutil.rmtree(os.path.join(stroot, d), ignore_errors=True)
        if not os.listdir(stroot):
            os.rmdir(stroot)
    return resolved


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    *,
    bids: list[int] | None = None,
    expunge: bool = True,
    merge_factor: int = 10,
    min_inputs: int = 2,
    max_merged_docs: int | None = None,
) -> dict:
    """Merge small batch segments (tiered policy, or an explicit ``bids``
    list as one group); see module docstring for semantics. Returns
    ``{"groups": [...], "batches_merged": n, "docs_expunged": n}``."""
    from ..streaming.incremental import load_tombstones

    recover_merges(spark, index_dir)
    vdir = catalog.current_version_dir(index_dir)
    if vdir is None:
        raise FileNotFoundError(f"no published index in {index_dir}")
    manifest = catalog.read_json(os.path.join(vdir, "manifest.json"))
    with_positions = bool(manifest["with_positions"])
    infos = batch_infos(vdir)
    if bids is not None:
        sel = [i for i in infos if i["bid"] in set(bids)]
        if not sel:
            raise ValueError(f"no existing batches among {bids}")
        groups = [sel]
    else:
        groups = select_merge_groups(
            infos, merge_factor=merge_factor, min_inputs=min_inputs,
            max_merged_docs=max_merged_docs,
        )
    if not groups:
        return {"groups": [], "batches_merged": 0, "docs_expunged": 0}

    tombs = load_tombstones(vdir)
    n_par = max(1, spark.sparkContext.defaultParallelism // 2)
    results = []
    total_expunged = 0
    for group in groups:
        new_bid = _next_merge_bid(vdir)
        new_seg = int(manifest["n_segments"]) + new_bid
        victims = [i["bid"] for i in group]
        lo = min(i["min_ord"] for i in group)
        hi = max(i["max_ord"] for i in group)
        # expunge set = union of each VICTIM batch's own ordinal range,
        # never the overall [lo, hi] span: an explicit non-contiguous
        # ``bids`` group spans unmerged batches in between, and removing
        # their tombstones while leaving their postings un-rewritten
        # would silently resurrect deleted docs (review finding)
        if len(tombs):
            in_any = np.zeros(len(tombs), dtype=bool)
            for i in group:
                in_any |= (tombs >= i["min_ord"]) & (tombs <= i["max_ord"])
            tombs_in = tombs[in_any]
        else:
            tombs_in = tombs
        do_expunge = expunge and len(tombs_in) > 0
        if len(victims) < 2 and not do_expunge:
            continue  # single-batch group with nothing to expunge: no-op

        stage = os.path.join(vdir, "merge_staging", str(new_bid))
        shutil.rmtree(stage, ignore_errors=True)

        # ---- stage doc_stats (filter tombstones, relabel seg) ----------
        ds_dirs = [os.path.join(vdir, "doc_stats", f"batch={b}") for b in victims]
        ds = spark.read.parquet(*ds_dirs)
        if do_expunge:
            ds = drop_ordinals(ds, tombs_in)
        (
            # cluster by doc_ord on write: the keyless repartition here
            # round-robined rows, destroying the ordinal clustering the
            # stored-fields point-read relies on for row-group pruning
            # (guide §6 — sort order on write determines reader
            # skipping). The range bucket comes straight from the known
            # [lo, hi] victim span — no repartitionByRange, whose
            # sampling pass would evaluate the masked scan twice.
            ds.withColumn("seg", F.lit(new_seg).cast("int"))
            .withColumn(
                "_rb",
                ((F.col("doc_ord") - F.lit(int(lo)))
                 * max(1, n_par // 2) / F.lit(int(hi - lo + 1))).cast("int"),
            )
            .repartition(max(1, n_par // 2), "_rb")
            .sortWithinPartitions("doc_ord")
            .drop("_rb")
            .write.mode("overwrite")
            .parquet(os.path.join(stage, "doc_stats"))
        )

        # ---- stage postings -------------------------------------------
        post_dirs = [os.path.join(vdir, "postings", f"batch={b}") for b in victims]
        posts = (
            spark.read.option("basePath", os.path.join(vdir, "postings"))
            .parquet(*post_dirs)
            .drop("batch")
        )
        relabeled = (
            posts.withColumn("seg", F.lit(new_seg).cast("int"))
            .repartition(n_par, "tbucket")
            .sortWithinPartitions("term", "min_doc")
        )
        if do_expunge:
            t_bc = tombs_in  # numpy array, captured in the task closure
            merged = relabeled.mapInPandas(
                lambda it: (
                    _expunge_reencode(pdf, t_bc, new_seg, with_positions)
                    for pdf in it
                ),
                _enc_schema(with_positions),
            )
        else:
            merged = relabeled.mapInPandas(
                lambda it: (merge_chunks(pdf, with_positions) for pdf in it),
                _enc_schema(with_positions),
            )
        merged.write.mode("overwrite").partitionBy("tbucket").parquet(
            os.path.join(stage, "postings")
        )
        # ---- stage the merged batch's dictionary, O(merged postings) ---
        write_term_stats(spark, os.path.join(stage, "postings"),
                         os.path.join(stage, "term_stats"))

        # ---- durable intent, then install ------------------------------
        intent = {
            "new_bid": new_bid, "new_seg": new_seg, "victims": victims,
            "ord_range": [int(lo), int(hi)],
            "expunged_ords": [int(x) for x in tombs_in] if do_expunge else [],
            "state": "staged",
        }
        _write_intent(vdir, intent)
        _install_and_clean(vdir, intent)
        if do_expunge:
            _rewrite_tombstones(vdir, tombs_in)
            tombs = load_tombstones(vdir)
        _finalize_stats(spark, vdir)
        _write_intent(vdir, {**intent, "state": "done"})
        total_expunged += len(tombs_in) if do_expunge else 0
        results.append({
            "new_bid": new_bid, "new_seg": new_seg, "victims": victims,
            "docs_expunged": int(len(tombs_in)) if do_expunge else 0,
        })

    return {
        "groups": results,
        "batches_merged": sum(len(g["victims"]) for g in results),
        "docs_expunged": total_expunged,
    }


def force_merge(
    spark: SparkSession, index_dir: str, *, max_segments: int = 1,
    expunge: bool = True,
) -> dict:
    """ES ``POST /index/_forcemerge?max_num_segments=K`` analogue: merge
    ALL batch directories down to ``max_segments`` output batches,
    expunging every tombstone they cover. After ``force_merge(...,
    max_segments=1, expunge=True)`` the index holds one batch directory,
    zero tombstones, and BM25 stats identical to a fresh build over the
    live corpus (rank-identity is pytest-proven)."""
    vdir = catalog.current_version_dir(index_dir)
    if vdir is None:
        raise FileNotFoundError(f"no published index in {index_dir}")
    infos = batch_infos(vdir)
    if len(infos) <= max_segments:
        # nothing to fold; still expunge via per-group merges if asked
        if not expunge:
            return {"groups": [], "batches_merged": 0, "docs_expunged": 0}
    k = max(1, max_segments)
    per = -(-len(infos) // k)
    out = {"groups": [], "batches_merged": 0, "docs_expunged": 0}
    for i in range(0, len(infos), per):
        chunk = [inf["bid"] for inf in infos[i:i + per]]
        # single-batch chunks still go through merge_segments: it rewrites
        # them only when there are tombstones to expunge, else no-ops
        r = merge_segments(spark, index_dir, bids=chunk, expunge=expunge)
        out["groups"] += r["groups"]
        out["batches_merged"] += r["batches_merged"]
        out["docs_expunged"] += r["docs_expunged"]
    return out
