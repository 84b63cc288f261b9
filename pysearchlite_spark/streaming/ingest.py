"""Incremental / streaming index ingest.

The reference is batch-only with an incremental add() finalized by save()
(SURVEY.md §2.12); the distributed analogue is APPEND-ONLY SEGMENT INGEST:
each incoming micro-batch of pages becomes one (or more) new docID-range
segments appended to the catalog, made visible by an atomic snapshot commit,
and folded together later by compact_segments. This is exactly how
Lucene-style engines absorb streams, and it maps 1:1 onto Structured
Streaming's foreachBatch sink.

Two entrypoints:
  * append_batch(...)   — the core primitive: index a DataFrame of new pages
    as fresh segments on top of an existing index (new docIDs continue after
    the current max). Segments are written by build_index's own writer
    (plans.builder._stage_runs + _write_segments: one fused stage-0 Python
    hop, then the docmap write and the sink pack), so an appended segment
    has the layout a build produces.
  * stream_ingest(...)  — wires append_batch into a readStream via
    foreachBatch; checkpointing is Spark's (exactly-once per micro-batch)
    plus the catalog's atomic snapshot commit (idempotent re-append guarded
    by batch-id lineage).

BM25 caveat (documented semantics): global stats (N, avgdl) and therefore
idf/score change as documents arrive; per this module's contract, scores are
always computed against the CURRENT snapshot's stats, while block-max
metadata baked at pack time uses the avgdl of the segment's ingest moment —
an upper-bound drift that compact_segments() repairs by repacking with the
latest stats. Queries stay exact because the engine rescales: partial scores
are recomputed from tf/dl streams at query time (only the PRUNING bound uses
the stale avgdl — see engine.score_segment_rows, which decodes tf/dl, never
the baked partials).
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pysearchlite_spark.plans.builder import (DEFAULT_TERM_BUCKETS,
                                              _stage_runs, _write_segments)
from pysearchlite_spark.sources.catalog import IndexCatalog


def _refuse_if_suspended_build(index_dir: str) -> None:
    """A SUSPENDED build_index(max_segments=...) run owns this dir's id
    space: its remaining segment ids are derived from docID ranges, not
    from max_seg_id, so an append's freshly allocated id WOULD collide
    with a not-yet-built segment and the resumed build would silently
    adopt the append's rows as its own. Refuse loudly instead."""
    if os.path.exists(os.path.join(index_dir, "_stage", "runs", "_STAGED")):
        raise RuntimeError(
            f"index {index_dir} has a live batch-build stage checkpoint "
            "(_stage/runs/_STAGED); appending would collide with the "
            "suspended build's segment ids. Resume that build to "
            "completion (same params) or delete its _stage dir and "
            "staged segments first.")


def append_batch(spark: SparkSession, batch: DataFrame, index_dir: str, *,
                 text_col: str = "text", html_col: Optional[str] = None,
                 url_col: str = "url", lang_filter: Optional[str] = None,
                 segment_docs: int = 1 << 20, batch_id: Optional[int] = None,
                 with_positions: bool = False,
                 _pre_commit_hook=None) -> int:
    """Index `batch` as new segments appended to an existing (or empty)
    index. Returns the new snapshot id. Idempotent per batch_id: if the
    current snapshot already records this batch_id, the append is skipped
    (foreachBatch replays after failure).

    Holds the catalog writer lock for the whole append: a concurrent
    compaction's (or second append's) housekeeping would otherwise reclaim
    this append's staged-but-uncommitted seg dirs mid-write, and both
    allocate segment ids from max_seg_id(). Concurrent delete_docs needs
    no exclusion — it writes no segments and both sides rebase at commit
    time.

    _pre_commit_hook: test seam, called after the segment writes but
    before the rebase commit — lets tests inject a concurrent delete_docs
    commit into the rebase window."""
    cat = IndexCatalog(index_dir)
    with cat.writer_lock():
        return _append_batch_locked(
            spark, batch, index_dir, cat, text_col=text_col,
            html_col=html_col, url_col=url_col, lang_filter=lang_filter,
            segment_docs=segment_docs, batch_id=batch_id,
            with_positions=with_positions,
            _pre_commit_hook=_pre_commit_hook)


def _append_batch_locked(spark: SparkSession, batch: DataFrame,
                         index_dir: str, cat: IndexCatalog, *,
                         text_col: str, html_col: Optional[str],
                         url_col: str, lang_filter: Optional[str],
                         segment_docs: int, batch_id: Optional[int],
                         with_positions: bool = False,
                         _pre_commit_hook=None) -> int:
    _refuse_if_suspended_build(index_dir)
    snap = cat.current_snapshot()
    if snap is not None and batch_id is not None:
        done = snap.get("lineage", {}).get("ingested_batches", [])
        if batch_id in done:
            return int(snap["snapshot_id"])

    if snap is None:
        old_doc_segs: list = []
        old_post_segs: list = []
        old_stats = {"n_docs": 0, "sum_dl": 0}
        done_batches: list = []
    else:
        old_doc_segs = list(snap.get("doc_segments", snap["segments"]))
        old_post_segs = list(snap.get("posting_segments", snap["segments"]))
        old_stats = snap["stats"]
        done_batches = list(snap.get("lineage", {})
                            .get("ingested_batches", []))
        # the committed snapshot pins segment_docs: the docID↔segment
        # arithmetic of every existing doc depends on it, so a differing
        # caller value would assign COLLIDING doc ids
        segment_docs = int(old_stats.get("segment_docs", segment_docs))
        # ...and pins positionality: appended segments must match, or
        # phrase queries would silently miss the appended docs. Inheriting
        # positions (caller default False, index True) is the supported
        # direction; an EXPLICIT upgrade request against a position-free
        # index must fail loudly, not be silently dropped.
        if with_positions and not old_stats.get("has_positions"):
            raise ValueError(
                f"index {index_dir} was committed without positions; "
                "appended segments must match — rebuild positional into "
                "a fresh directory")
        with_positions = bool(old_stats.get("has_positions"))
    # crash recovery: a replayed batch (driver died between the append-mode
    # writes and the commit) must not append DUPLICATE rows into the
    # half-written dirs — drop every uncommitted seg dir first (the live-
    # checkpoint guard above already excluded the suspended-build case)
    cat.drop_uncommitted_segments()
    # new segment ids start above every id ever allocated (any snapshot,
    # doc or posting): compaction allocates posting ids too, and reusing
    # one would append into a committed seg dir and overwrite its
    # pack_avgdl entry
    next_seg = cat.max_seg_id() + 1
    next_doc = next_seg * segment_docs

    n_buckets = int(old_stats.get("n_buckets", DEFAULT_TERM_BUCKETS))

    # the SAME segment writer as build_index: fused stage 0 (html extract +
    # docIDs + tokenize + invert) into a scratch stage dir of the append's
    # own (_stage/runs is the suspended-build guard's), then docmap + pack.
    # New docIDs continue after the last allocated segment boundary —
    # deterministic within the batch (crc32 bucket, then url)
    stage_dir = os.path.join(index_dir, "_stage", "append")
    shutil.rmtree(stage_dir, ignore_errors=True)  # crashed append's leftover
    seg_totals = _stage_runs(
        spark, batch, stage_dir, text_col=text_col, id_col=None,
        url_col=url_col, html_col=html_col, lang_filter=lang_filter,
        segment_docs=segment_docs, n_buckets=n_buckets,
        with_positions=with_positions, first_id=next_doc)
    new_segs = sorted(seg_totals)
    add_n = sum(v[0] for v in seg_totals.values())
    add_sdl = sum(v[1] for v in seg_totals.values())
    n_docs = int(old_stats["n_docs"]) + add_n
    sum_dl = int(old_stats.get("sum_dl", 0)) + add_sdl
    avgdl = sum_dl / n_docs if n_docs else 0.0
    # postings pack at the post-append global avgdl; reducers are sized
    # from the batch's own volume
    _write_segments(spark, cat, stage_dir, doc_segs=new_segs,
                    post_segs=new_segs, avgdl=avgdl, sum_dl=add_sdl,
                    n_buckets=n_buckets,
                    lineage={"source": "streaming.append_batch"})

    pack_avgdl = dict(old_stats.get("pack_avgdl") or {})
    pack_avgdl.update({str(s): avgdl for s in new_segs})
    # START from the old stats: keys this function doesn't own (pseg_of
    # delete routing, n_deleted_* counters, future additions) must survive
    # an append — dropping pseg_of after a compaction would mis-route every
    # later delete_docs call and silently resurrect docs at the NEXT
    # compaction
    stats = dict(old_stats)
    stats.update({"n_docs": n_docs, "avgdl": avgdl, "sum_dl": sum_dl,
                  "segment_docs": segment_docs, "n_buckets": n_buckets,
                  "has_positions": bool(with_positions),
                  "pack_avgdl": pack_avgdl})
    lineage = {"job": "streaming.append_batch",
               "ingested_batches": done_batches + (
                   [batch_id] if batch_id is not None else []),
               "appended_at": time.time()}
    if _pre_commit_hook is not None:  # test seam: inject a concurrent
        _pre_commit_hook()            # commit into the rebase window
    # Commit-time rebase of the TOMBSTONE state: the writer lock excludes
    # other segment writers, but delete_docs is (by contract) concurrent
    # and may have committed during this append's minutes-long Spark
    # writes. Carrying `snap`'s lists would drop its delete file from the
    # new current snapshot — docs resurface now, and expire physically
    # reclaims the file once the delete's own snapshot ages out. Appended
    # docs get fresh ids, and pseg_of can't change under the writer lock,
    # so the commit-time lists are correct as-is.
    with cat._manifest_lock():
        cur = cat.current_snapshot()
        # A concurrent SEGMENT writer is excluded by the writer lock — but
        # if flock is inert on this filesystem (locks.py fallback, some
        # FUSE/object-store mounts) a compaction may have committed merged
        # segments mid-append; carrying this append's stale lists would
        # silently un-commit that merge (pre-merge postings paired with
        # delete files already marked applied → deleted docs resurface).
        # Refuse loudly, exactly like compact_segments does.
        for key, want in (("doc_segments", old_doc_segs),
                          ("posting_segments", old_post_segs)):
            got = ([] if cur is None
                   else cur.get(key, cur["segments"]))
            if sorted(int(x) for x in (got or [])) != sorted(
                    int(x) for x in (want or [])):
                raise RuntimeError(
                    f"concurrent segment writer bypassed the writer "
                    f"lock ({key} changed mid-append)")
        if cur is not None:
            stats["n_deleted_pending"] = int(
                cur["stats"].get("n_deleted_pending", 0))
            delete_files = list(cur.get("delete_files") or [])
            applied = list(cur.get("applied_delete_files") or [])
        else:
            delete_files, applied = [], []
        snapshot_id = cat._commit_snapshot_locked(
            sorted(old_doc_segs + new_segs), stats, lineage,
            posting_segments=sorted(old_post_segs + new_segs),
            doc_segments=sorted(old_doc_segs + new_segs),
            delete_files=delete_files,
            applied_delete_files=applied)
    shutil.rmtree(stage_dir, ignore_errors=True)
    return snapshot_id


def upsert_batch(spark: SparkSession, batch: DataFrame, index_dir: str, *,
                 text_col: str = "text", html_col: Optional[str] = None,
                 url_col: str = "url", lang_filter: Optional[str] = None,
                 segment_docs: int = 1 << 20,
                 batch_id: Optional[int] = None) -> int:
    """Re-crawl semantics: pages whose url is already indexed REPLACE the
    old version (the previous doc_id is tombstoned via plans.deletes, the
    new page appends with a fresh id); unseen urls plain-append. This is
    the Common-Crawl shape — the same url re-fetched at a later warc_ts
    supersedes the earlier capture.

    Cost is O(batch + tombstones), never O(index): the old docs' postings
    stay on disk masked until the next compaction folds them out. Returns
    the new snapshot id. Within-batch duplicate urls are the caller's to
    resolve (e.g. keep max(warc_ts)) — both rows would be indexed.

    Idempotent per batch_id like append_batch: a replayed batch is skipped
    BEFORE the delete commit, so crash-replay can't tombstone the rows the
    first (committed) attempt appended. Note the latest capture governs
    even when lang_filter drops it: a url whose re-crawl no longer passes
    the filter is removed and not re-added.

    Holds the writer lock across the WHOLE read→tombstone→append sequence
    (not just the append half): two concurrent upserts of the same url
    would otherwise each read the live docmap before either appends, each
    tombstone only the original capture, and leave BOTH replacements live
    — duplicate docs for one url, violating replace semantics."""
    cat = IndexCatalog(index_dir)
    with cat.writer_lock():
        # the suspended-build guard must fire BEFORE the tombstone commit:
        # if append were left to raise it after delete_docs, a refused
        # upsert would have already deleted the re-crawled urls without
        # indexing their replacements (and every replay would re-raise,
        # leaving them lost)
        _refuse_if_suspended_build(index_dir)
        snap = cat.current_snapshot()
        if snap is not None:
            if batch_id is not None and batch_id in snap.get(
                    "lineage", {}).get("ingested_batches", []):
                return int(snap["snapshot_id"])
            from pysearchlite_spark.engine import SearchIndex
            from pysearchlite_spark.plans.deletes import delete_docs
            idx = SearchIndex(spark, index_dir)
            old = (idx.docmap_df()  # live: deleted urls don't re-match
                   .join(batch.select(F.col(url_col).alias("url"))
                         .distinct(), "url", "left_semi")
                   .select("doc_id", F.col("seg").alias("dseg")))
            old = old.persist()
            try:
                # mostly-new-url batches skip the delete commit entirely
                # (and the rows are passed prevalidated — no second docmap
                # scan)
                if old.limit(1).count():
                    delete_docs(spark, index_dir, old, prevalidated=True)
            finally:
                old.unpersist()
        return _append_batch_locked(
            spark, batch, index_dir, cat, text_col=text_col,
            html_col=html_col, url_col=url_col, lang_filter=lang_filter,
            segment_docs=segment_docs, batch_id=batch_id)


def _neardup_filter(spark: SparkSession, batch_df: DataFrame, nd_dir: str,
                    url_col: str, text_col: str, threshold: float,
                    max_bucket: int, batch_key: str) -> DataFrame:
    """Drop near-duplicates from a micro-batch, then commit the
    survivors to the NearDupIndex at `nd_dir` so later batches see them.

    Two passes: INTRA-batch (one-shot minhash_lsh_pairs over the batch —
    batch-sized — dropping the b side of every pair, which always keeps
    at least each cluster's min id) and CROSS-batch (NearDupIndex.check
    against everything previously admitted). Doc identity inside the
    dedup index is xxhash64(url) — a re-crawl of the SAME url never
    matches itself (check excludes equal ids); replacing re-crawls is
    upsert's job, not near-dedup's.

    Replay-safe by construction: the survivor set is a pure function of
    (index state, batch), the add is keyed by `batch_key` (idempotent
    no-op on replay), and a crash between add and ingest replays to the
    SAME survivors because each admitted doc's only new competitor is
    itself (excluded by id equality). PRECONDITION for that claim: the
    intra-batch pass and the cross-batch check must agree on candidate
    generation — so the intra pass runs with the INDEX's committed
    (n_perm, bands, shingle_k, seed) and the SAME max_bucket as check();
    with diverging caps, a pair suppressed intra-batch by a smaller cap
    could be found by check() on crash-replay (the first attempt's
    survivors are then in the index) and the replayed survivor set would
    differ. Returns the PERSISTED survivor frame — materialized before
    the add mutates the index the lazy plan reads — and unpersists every
    intermediate the dedup passes cached (via their _registry hooks), so
    a long-lived stream leaks nothing between micro-batches."""
    from pysearchlite_spark.operators.dedup import minhash_lsh_pairs
    from pysearchlite_spark.operators.neardup import NearDupIndex

    tagged = batch_df.withColumn("_nd_id", F.xxhash64(F.col(url_col)))
    nd_docs = tagged.select(F.col("_nd_id").alias("doc_id"),
                            F.col(text_col).alias("text"))
    have_index = os.path.exists(os.path.join(nd_dir, "meta.json"))
    idx = NearDupIndex(spark, nd_dir) if have_index else None
    lsh_params = (dict(n_perm=idx.n_perm, bands=idx.bands,
                       shingle_k=idx.shingle_k, seed=idx.seed)
                  if idx is not None else {})
    registry: list = []
    intra_drop = (minhash_lsh_pairs(nd_docs, threshold=threshold,
                                    max_bucket=max_bucket,
                                    _registry=registry, **lsh_params)
                  .select(F.col("b").alias("_nd_id")).distinct())
    surv = tagged.join(intra_drop, "_nd_id", "left_anti").persist()
    registry.append(surv)
    surv.count()  # materialized: check()'s batch-size guard counts this
    #               frame, and the cross pass scans it — once each
    if idx is not None:
        cross_drop = (idx.check(
            surv.select(F.col("_nd_id").alias("doc_id"),
                        F.col(text_col).alias("text")),
            threshold=threshold, max_bucket=max_bucket,
            _registry=registry)
            .select(F.col("batch_id").alias("_nd_id")).distinct())
        surv = surv.join(cross_drop, "_nd_id", "left_anti").persist()
    surv.count()  # materialize BEFORE the add below changes what the
    #               lazy check/anti-join plan would read
    for frame in registry:  # survivors are cached; drop the scaffolding
        if frame is not surv:
            frame.unpersist()
    admitted = surv.select(F.col("_nd_id").alias("doc_id"),
                           F.col(text_col).alias("text"))
    if have_index:
        NearDupIndex(spark, nd_dir).add_batch(admitted,
                                              batch_key=batch_key)
    else:
        NearDupIndex.build(spark, admitted, nd_dir, batch_key=batch_key)
    return surv.drop("_nd_id"), surv


def stream_ingest(spark: SparkSession, stream_df: DataFrame, index_dir: str,
                  checkpoint_dir: str, *, text_col: str = "text",
                  html_col: Optional[str] = None, url_col: str = "url",
                  lang_filter: Optional[str] = None,
                  segment_docs: int = 1 << 20, trigger_seconds: int = 30,
                  mode: str = "append",
                  neardup_dir: Optional[str] = None,
                  neardup_threshold: float = 0.85,
                  neardup_max_bucket: int = 100_000):
    """Attach append_batch (mode='append') or upsert_batch
    (mode='upsert' — re-crawled urls replace their earlier capture) to a
    streaming DataFrame via foreachBatch. Returns the StreamingQuery
    (caller awaits/stops it).

    neardup_dir: optional NearDupIndex root — every micro-batch is
    near-dedup-filtered (intra-batch AND against all previously admitted
    docs) before indexing, and its survivors are committed to the dedup
    index keyed by the micro-batch id (crash-replay idempotent). The
    html extraction path requires text_col to exist post-extraction;
    near-dedup reads the RAW text column, so combine with html_col only
    when the stream also carries extracted text."""
    if mode not in ("append", "upsert"):
        raise ValueError(f"mode must be append|upsert, got {mode!r}")
    if neardup_dir is not None and html_col is not None:
        raise ValueError("neardup_dir requires a text stream "
                         "(html_col extraction happens after the "
                         "dedup filter would need the text)")
    ingest = append_batch if mode == "append" else upsert_batch

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        survivors = None
        try:
            if neardup_dir is not None:
                batch_df, survivors = _neardup_filter(
                    spark, batch_df, neardup_dir, url_col, text_col,
                    neardup_threshold, neardup_max_bucket,
                    batch_key=f"batch-{int(batch_id)}")
                if batch_df.isEmpty():
                    return
            ingest(spark, batch_df, index_dir, text_col=text_col,
                   html_col=html_col, url_col=url_col,
                   lang_filter=lang_filter, segment_docs=segment_docs,
                   batch_id=int(batch_id))
        finally:
            # release exactly the survivor frame this micro-batch
            # persisted (the dedup pass already unpersisted its own
            # scaffolding via the _registry hooks) — a session-wide
            # clearCache here would silently evict unrelated caches of
            # an application embedding this streaming query
            if survivors is not None:
                survivors.unpersist()

    return (stream_df.writeStream
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start())
