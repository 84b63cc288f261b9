"""Distributed inverted-index build (the Spark re-expression of the
reference's SPIMI pipeline, /root/reference/pysearchlite/inverted_index_skip_list.py:48-145).

Reference dataflow            →  Spark plan here
----------------------------------------------------------------------------
docID = arrival order            deterministic rank over (crc32(url)%256,
  (doc_list.py:42-45)            url): hash-bucket partitioning + in-bucket
                                 sort + broadcast offsets — no sampling, no
                                 caching, no single-task global sort (§7.3)
tokenize per doc +               stage-0 mapInArrow (make_stage0): docID
dict[token].append(docID)        assignment + HTML extract + tokenize + tf
  (tokenize.py:6-7,              + per-batch SPIMI inversion FUSED into ONE
   inverted_index_skip_list.py   Python hop (the corpus text crosses the
   :48-57)                       JVM↔Arrow boundary once, not three times);
                                 staged to parquet as RUNS + doc rows
                                 (RUNS_SCHEMA) — the resumability checkpoint
spill sorted runs                staged runs → ONE exchange hash-partitioned
                                 by (seg, term-bucket) → sortWithinPartitions
                                 → streaming pack UDF (term-boundary carry)
spill sorted runs + pairwise     Spark sort-based shuffle spills natively;
  merge (:62-71,126-145)           our explicit analogue is docID-range
                                   SEGMENTS (seg = doc_id // segment_docs)
convert_to_skip_list (:111-124)  batch numpy pack (codec.pack_flat):
                                   delta+varbyte + skip blocks + block-max,
                                   written hive-partitioned by worker-direct
                                   pyarrow sinks (metrics as job rows)

Skew (north rule, Zipfian terms): the segment id is an ORDER-PRESERVING SALT —
a hot term's postings land in one row per segment, each bounded by
segment_docs entries, spread across reducers by hash(seg, term). Map-side
partial aggregation of (seg, term, doc_id) tf counts is the two-phase
combine. No single row/task ever holds more than segment_docs postings, so
the plan survives df ≈ N at 10^12 docs. AQE skew-join/coalesce stays on.

Resumability (north rule): segments are staged with _STAGED markers and only
become visible at the atomic manifest commit; a re-run drops partial
(unmarked) segment dirs, rebuilds ONLY missing segments (filter pushed before
the shuffles), and commits the union. Per-partition metrics land in
build_log/ with lineage.

ONE segment writer: build_index and streaming.ingest.append_batch both write
segments through _stage_runs (stage 0 → staged runs + per-segment totals)
and _write_segments (docmap + packed postings + build_log); an append only
shifts the docID base (first_id) and stages into its own scratch dir.
"""

from __future__ import annotations

import json
import os
import time
import zlib
from dataclasses import dataclass
from typing import Iterator, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pysearchlite_spark import codec
from pysearchlite_spark.sources.catalog import POSTINGS_SCHEMA, IndexCatalog
from pysearchlite_spark.tokenizer import tokens_series

DEFAULT_SEGMENT_DOCS = 1 << 20  # 1M docs per segment (Lucene-ish)
DEFAULT_TERM_BUCKETS = 16


def term_bucket(term: str, n_buckets: int) -> int:
    """Partition-pruning bucket; computed in Python on BOTH build and query
    side (zlib.crc32) so there is no cross-engine hash-parity question."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


@dataclass
class BuildResult:
    snapshot_id: int
    n_docs: int
    avgdl: float
    segments: List[int]
    elapsed_sec: float


def make_tokens_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def tokens_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for b in batches:
            yield tokens_series(b)

    return tokens_udf


# The staged table of the batch build: SPIMI runs (term rows, tb >= 0),
# doc rows (tb == -1, term NULL, doc_ids=[doc_id], dls=[doc_len]) and
# per-batch stats rows (tb == -2, doc_ids=[n_docs], dls=[sum_doc_len]) in ONE
# parquet — the distributed form of the reference's token-sorted spill runs
# (inverted_index_skip_list.py:62-71). Staging RUNS instead of per-doc term
# arrays means the pack phase never re-reads (or re-factorizes) millions of
# per-occurrence strings: measured 8.6s of Arrow input conversion per 100k
# docs dropped to ~1s, and the inversion itself reuses the tokenize stage's
# factorize instead of repeating it. The stats rows give segment discovery +
# global (n_docs, avgdl) in ONE tiny job — and make pack-time avgdl always
# the FULL-corpus value even when a resumed run packs only some segments.
RUNS_SCHEMA = ("seg long, tb int, term string, doc_ids array<long>, "
               "tfs array<long>, dls array<long>, url string, "
               "poss array<long>")


RUNS_PA_SCHEMA = None  # built lazily (pyarrow import kept off the driver-import path)


def _runs_pa_schema():
    import pyarrow as pa
    global RUNS_PA_SCHEMA
    if RUNS_PA_SCHEMA is None:
        RUNS_PA_SCHEMA = pa.schema([
            ("seg", pa.int64()), ("tb", pa.int32()), ("term", pa.string()),
            ("doc_ids", pa.list_(pa.int64())), ("tfs", pa.list_(pa.int64())),
            ("dls", pa.list_(pa.int64())), ("url", pa.string()),
            ("poss", pa.list_(pa.int64()))])
    return RUNS_PA_SCHEMA


def _invert_flush(doc_ids: np.ndarray, urls: np.ndarray, texts: pd.Series,
                  segment_docs: int, n_buckets: int,
                  with_positions: bool = False):
    """One accumulated slab of docs → RUNS RecordBatches (term runs +
    doc rows + stats rows), fully vectorized.

    Output is built as Arrow ListArrays STRAIGHT FROM the flat occurrence
    arrays + group offsets (pa.ListArray.from_arrays) — no per-row Python
    objects anywhere on the output path. The previous mapInPandas shape
    (object columns holding one numpy slice per row, converted by Spark via
    pandas→Arrow) spent more time materializing/converting those 2.6M tiny
    objects than the inversion itself.
    """
    import pyarrow as pa
    from pysearchlite_spark.tokenizer import occurrence_codes

    schema = _runs_pa_schema()
    n = len(doc_ids)
    occ_rows, occ_codes, uniques, lens = occurrence_codes(texts)
    segs_doc = doc_ids // np.int64(segment_docs)

    out = []
    # term runs: ONE stable argsort by (seg, code) does BOTH groupings —
    # runs of equal (key, row) are the per-doc tf (occurrences are
    # row-major, so same-row entries stay adjacent under the stable sort),
    # and runs of equal key are the (seg, term) posting groups with docIDs
    # already ascending (doc_ids ascend with row within a partition).
    total = len(occ_rows)
    if total:
        V = np.int64(len(uniques))
        key = segs_doc[occ_rows] * V + occ_codes
        order = np.argsort(key, kind="stable")
        k_s = key[order]
        r_s = occ_rows[order]
        pos_s = None
        if with_positions:
            # in-doc token position of each occurrence: flat index minus
            # its row's start (occurrences are row-major); the stable sort
            # keeps each (seg, term, doc) entry's positions ascending
            row_offs = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(lens, out=row_offs[1:])
            pos_occ = (np.arange(total, dtype=np.int64)
                       - np.repeat(row_offs[:-1], lens))
            pos_s = pos_occ[order]
        echange = np.empty(total, dtype=bool)
        echange[0] = True
        echange[1:] = (k_s[1:] != k_s[:-1]) | (r_s[1:] != r_s[:-1])
        estarts = np.flatnonzero(echange)
        tfs_e = np.diff(np.append(estarts, total)).astype(np.int64)
        ek = k_s[estarts]
        er = r_s[estarts]
        docs_e = doc_ids[er]
        dls_e = lens[er]
        m = ek.size
        tchange = np.empty(m, dtype=bool)
        tchange[0] = True
        tchange[1:] = ek[1:] != ek[:-1]
        tstarts = np.flatnonzero(tchange)
        g_seg = ek[tstarts] // V
        g_term = uniques[ek[tstarts] % V]
        tb_of = {t: term_bucket(t, n_buckets) for t in uniques}
        g_tb = np.fromiter((tb_of[t] for t in g_term), dtype=np.int32,
                           count=g_term.size)
        offs = np.append(tstarts, m).astype(np.int32)
        lists = [pa.ListArray.from_arrays(pa.array(offs), pa.array(arr))
                 for arr in (docs_e, tfs_e, dls_e)]
        if pos_s is not None:
            # group g's occurrences span [estarts[tstarts[g]],
            # estarts[tstarts[g+1]]) in the sorted occurrence order
            occ_goffs = np.append(estarts[tstarts], total).astype(np.int32)
            poss_arr = pa.ListArray.from_arrays(pa.array(occ_goffs),
                                                pa.array(pos_s))
        else:
            poss_arr = pa.nulls(g_term.size, pa.list_(pa.int64()))
        out.append(pa.RecordBatch.from_arrays([
            pa.array(g_seg), pa.array(g_tb),
            pa.array(g_term, type=pa.string()),
            lists[0], lists[1], lists[2],
            pa.nulls(g_term.size, pa.string()),
            poss_arr,
        ], schema=schema))

    # doc rows (docmap payload): one single-element list per doc — offsets
    # are just arange, values the id/len vectors themselves
    one = np.arange(n + 1, dtype=np.int32)
    out.append(pa.RecordBatch.from_arrays([
        pa.array(segs_doc), pa.array(np.full(n, -1, dtype=np.int32)),
        pa.nulls(n, pa.string()),
        pa.ListArray.from_arrays(pa.array(one), pa.array(doc_ids)),
        pa.nulls(n, pa.list_(pa.int64())),
        pa.ListArray.from_arrays(pa.array(one), pa.array(lens)),
        pa.array(urls, type=pa.string()),
        pa.nulls(n, pa.list_(pa.int64())),
    ], schema=schema))

    # per-(slab, seg) stats rows: segment discovery + global stats in one
    # tiny scan, no full docmap aggregation job
    u_segs, seg_inv = np.unique(segs_doc, return_inverse=True)
    seg_counts = np.bincount(seg_inv).astype(np.int64)
    seg_dlsums = np.bincount(seg_inv, weights=lens).astype(np.int64)
    m = u_segs.size
    onem = np.arange(m + 1, dtype=np.int32)
    out.append(pa.RecordBatch.from_arrays([
        pa.array(u_segs), pa.array(np.full(m, -2, dtype=np.int32)),
        pa.nulls(m, pa.string()),
        pa.ListArray.from_arrays(pa.array(onem), pa.array(seg_counts)),
        pa.nulls(m, pa.list_(pa.int64())),
        pa.ListArray.from_arrays(pa.array(onem), pa.array(seg_dlsums)),
        pa.nulls(m, pa.string()),
        pa.nulls(m, pa.list_(pa.int64())),
    ], schema=schema))
    return out


DEFAULT_STAGE0_SLAB_DOCS = int(os.environ.get("PSL_STAGE0_SLAB_DOCS",
                                              32768))


def make_stage0(segment_docs: int, n_buckets: int, *,
                text_col: str = "text", html_col: Optional[str] = None,
                offsets_bc=None,
                slab_docs: int = DEFAULT_STAGE0_SLAB_DOCS,
                with_positions: bool = False):
    """ONE mapInArrow for the whole of stage 0: (optional) docID assignment
    from the (_b, url)-sorted exchange + (optional) HTML→text extraction +
    tokenize + tf + SPIMI inversion → RUNS RecordBatches.

    Fusing these into a single Python hop matters: as three separate stages
    (extract pandas-UDF → add_ids mapInPandas → invert mapInPandas) the full
    corpus text crosses the JVM↔Arrow↔Python boundary three times; here it
    crosses once (html in, numeric runs out).

    Input Arrow batches are ACCUMULATED to ~slab_docs docs before inverting:
    term-run rows per doc shrink roughly with slab vocabulary saturation
    (Heaps' law), which cuts both the staged-parquet size and the pack
    exchange's input row count several-fold. docID assignment still happens
    per arriving batch (order within the partition is the id rule).

    offsets_bc: broadcast {bucket: global offset} for deterministic docID
    assignment (rows must arrive sorted by (_b, url) within partitions —
    see _bucket_offsets for the rule). None → batches carry doc_id already.
    """
    from pysearchlite_spark.extract import extract_text

    payload_col = html_col if html_col is not None else text_col

    def stage0(batches):
        seen: dict = {}
        buf_ids: list = []
        buf_urls: list = []
        buf_texts: list = []
        buffered = 0

        def flush():
            ids = np.concatenate(buf_ids)
            urls = np.concatenate(buf_urls)
            texts = pd.Series(np.concatenate(buf_texts), dtype=object)
            buf_ids.clear(); buf_urls.clear(); buf_texts.clear()
            return _invert_flush(ids, urls, texts, segment_docs, n_buckets,
                                 with_positions=with_positions)

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            cols = {name: batch.column(i)
                    for i, name in enumerate(batch.schema.names)}
            if offsets_bc is not None:
                off = offsets_bc.value
                bs = cols["_b"].to_numpy()
                doc_ids = np.empty(n, dtype=np.int64)
                for bb in np.unique(bs):
                    m = bs == bb
                    s = seen.get(int(bb), 0)
                    cnt = int(m.sum())
                    doc_ids[m] = off[int(bb)] + s + np.arange(
                        cnt, dtype=np.int64)
                    seen[int(bb)] = s + cnt
            else:
                doc_ids = cols["doc_id"].to_numpy()
            urls = np.asarray(cols["url"].to_pylist(), dtype=object)
            payload = cols[payload_col].to_pylist()
            if html_col is not None:
                texts = np.asarray([extract_text(h) for h in payload],
                                   dtype=object)
            else:
                texts = np.asarray(payload, dtype=object)
            buf_ids.append(doc_ids)
            buf_urls.append(urls)
            buf_texts.append(texts)
            buffered += n
            if buffered >= slab_docs:
                yield from flush()
                buffered = 0
        if buffered:
            yield from flush()

    return stage0


def make_stage0_sink(out_dir: str, segment_docs: int, n_buckets: int, *,
                     text_col: str = "text", html_col: Optional[str] = None,
                     offsets_bc=None,
                     slab_docs: int = DEFAULT_STAGE0_SLAB_DOCS,
                     with_positions: bool = False):
    """make_stage0 wrapped in a worker-side parquet SINK: each task writes
    its RUNS batches straight to `out_dir/part-<pid>.parquet` with pyarrow
    (C++ encoder, one file per task) and emits one (seg, n, sdl) stats row
    per segment it saw — the same numbers the staged tb==-2 rows carry, so
    the build can derive segments + global stats from THIS job's result
    instead of a follow-up scan job over the staged parquet.

    Rationale: routing the staged runs back through the JVM costs a full
    Python→Arrow→JVM hop plus the JVM parquet encode of three list columns —
    measured ~20% of stage-0 wall-clock at 8 cores. Task retries are safe:
    the filename is DETERMINISTIC per partition and the write is
    tmp+os.replace (atomic on the local fs), so at most one visible file per
    partition ever exists; stage visibility is still gated by the _STAGED
    marker written after the job completes."""
    inner = make_stage0(segment_docs, n_buckets, text_col=text_col,
                        html_col=html_col, offsets_bc=offsets_bc,
                        slab_docs=slab_docs, with_positions=with_positions)

    def stage0_sink(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext
        ctx = TaskContext.get()
        pid = ctx.partitionId()
        final = os.path.join(out_dir, f"part-{pid:05d}.parquet")
        # attempt-unique tmp: with speculative execution two attempts of the
        # same partition must never interleave writes into one tmp file —
        # each writes its own, the os.replace is last-wins atomic
        tmp = os.path.join(
            out_dir, f"_tmp-part-{pid:05d}-{ctx.taskAttemptId()}.inprogress")
        writer = None
        seg_stats: dict = {}
        try:
            for rb in inner(batches):
                if writer is None:
                    writer = pq.ParquetWriter(tmp, _runs_pa_schema(),
                                              compression="snappy")
                writer.write_table(pa.Table.from_batches([rb]))
                # fold this batch's tb==-2 stats rows into the task totals
                tb = rb.column(1).to_numpy(zero_copy_only=False)
                srows = np.flatnonzero(tb == -2)
                if srows.size:
                    segs_a = rb.column(0).to_numpy(zero_copy_only=False)
                    did = rb.column(3)  # doc_ids: [n] per stats row
                    dls = rb.column(5)  # dls: [sdl] per stats row
                    for ri in srows:
                        s = int(segs_a[ri])
                        n = int(did[ri][0].as_py())
                        sdl = int(dls[ri][0].as_py())
                        cur = seg_stats.get(s, (0, 0))
                        seg_stats[s] = (cur[0] + n, cur[1] + sdl)
            if writer is not None:
                writer.close()
                writer = None
                os.replace(tmp, final)
        finally:
            if writer is not None:
                writer.close()
            if os.path.exists(tmp):
                os.remove(tmp)
        keys = sorted(seg_stats)
        yield pa.RecordBatch.from_arrays(
            [pa.array([k for k in keys], type=pa.int64()),
             pa.array([seg_stats[k][0] for k in keys], type=pa.int64()),
             pa.array([seg_stats[k][1] for k in keys], type=pa.int64())],
            schema=pa.schema([("seg", pa.int64()), ("n", pa.int64()),
                              ("sdl", pa.int64())]))

    return stage0_sink


DOC_BUCKETS = 256  # FIXED url-hash buckets for docID assignment — must not
# depend on parallelism or data statistics, so ids are reproducible anywhere


def doc_sort_key(url: str, n_buckets: int = DOC_BUCKETS):
    """The deterministic total order docIDs follow: (crc32(url) % B, url).
    Exposed so oracles can replicate it exactly."""
    return (zlib.crc32(url.encode("utf-8")) % n_buckets, url)


def _bucket_offsets(df: DataFrame, order_col: str, first_id: int = 0):
    """(bucket expr, broadcast {bucket: global rank offset}, n_partitions)
    for the deterministic docID rule: dense ids from first_id up, ranked
    over the total order (crc32(url) % DOC_BUCKETS, url) — computed
    scalably with NO sampling and NO caching:
      1. per-bucket counts from a url-only projection (column-pruned scan —
         every other column, incl. html, is pruned and no UDF runs);
      2. repartition by the hash bucket (deterministic, unlike
         repartitionByRange whose sampled boundaries differ per execution)
         + sortWithinPartitions + these broadcast per-bucket offsets, which
         make_stage0 turns into ids.
    Replaces the reference's arrival-order docID (doc_list.py:42-45) with an
    order reproducible under any parallelism/cluster size."""
    spark = df.sparkSession
    P = min(DOC_BUCKETS, max(
        32, int(spark.conf.get("spark.sql.shuffle.partitions", "32"))))
    bucket = (F.crc32(F.encode(F.col(order_col), "UTF-8"))
              % F.lit(DOC_BUCKETS)).cast("int")
    counts = {r["_b"]: r["cnt"] for r in
              df.select(bucket.alias("_b"))
                .groupBy("_b").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, int(first_id)
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    boff = spark.sparkContext.broadcast(offsets)
    return bucket, boff, P


def _stage0_df(spark: SparkSession, df: DataFrame, *, text_col: str,
               id_col: Optional[str], url_col: Optional[str],
               html_col: Optional[str], lang_filter: Optional[str],
               segment_docs: int, n_buckets: int,
               out_dir: Optional[str] = None,
               with_positions: bool = False,
               first_id: int = 0) -> DataFrame:
    """Any input → staged RUNS via the fused stage-0.

    Only the payload column (html OR text) plus url is carried through the
    docID exchange; extraction, id assignment and inversion all happen in
    the single post-exchange Python hop (make_stage0).

    out_dir=None returns the RUNS_SCHEMA DataFrame (JVM sink path — right
    for object stores / DFS); with out_dir set, workers write the runs
    parquet DIRECTLY (make_stage0_sink, local-fs rename semantics) and the
    returned DataFrame carries per-(task, seg) stats rows
    ("seg long, n long, sdl long").

    first_id: docID base of the url-ranked ids (an append continues after
    the index's last segment); ignored when id_col supplies the ids."""
    if lang_filter and "lang" in df.columns:
        df = df.filter(F.col("lang") == lang_filter)
    payload = F.col(html_col if html_col is not None else text_col)

    def mk(offsets_bc=None):
        if out_dir is not None:
            return make_stage0_sink(out_dir, segment_docs, n_buckets,
                                    text_col=text_col, html_col=html_col,
                                    offsets_bc=offsets_bc,
                                    with_positions=with_positions)
        return make_stage0(segment_docs, n_buckets, text_col=text_col,
                           html_col=html_col, offsets_bc=offsets_bc,
                           with_positions=with_positions)

    out_schema = ("seg long, n long, sdl long" if out_dir is not None
                  else RUNS_SCHEMA)
    if id_col is not None:
        # caller supplies dense monotone ids (e.g. documents.doc_id):
        # scan partitions feed the fused stage directly — guarded by
        # spread_input so a single-file/row-group input still tokenizes on
        # every core (pack_flat re-sorts per-term docIDs, so arbitrary row
        # placement is correctness-neutral); on a many-file input this is
        # a no-op and the path stays exchange-free
        from pysearchlite_spark.partitioning import spread_input
        src = spread_input(df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            (F.col(url_col).cast("string") if url_col else
             F.col(id_col).cast("string")).alias("url"),
            payload))
        return src.mapInArrow(mk(), out_schema)
    base = df.select(F.col(url_col or "url").alias("url"), payload)
    bucket, boff, P = _bucket_offsets(base, "url", first_id)
    parted = (base.withColumn("_b", bucket)
              .repartition(P, F.col("_b"))
              .sortWithinPartitions("_b", "url"))
    return parted.mapInArrow(mk(offsets_bc=boff), out_schema)


def _stage_runs(spark: SparkSession, df: DataFrame, stage_dir: str,
                **stage0_kw) -> dict:
    """Stage 0 of `df` into `stage_dir` → {seg: (n_docs, sum_doc_len)} of
    the staged docs. Local paths → worker-direct parquet sink (atomic
    per-task rename) whose result rows ARE the per-(task, seg) totals, so
    no follow-up stats job; scheme'd paths (hdfs://, s3://) → JVM writer via
    the output committer (rename semantics differ on object stores), then
    one scan of the staged stats rows."""
    if "://" in stage_dir:
        (_stage0_df(spark, df, **stage0_kw)
         .write.mode("overwrite").parquet(stage_dir))
        return _staged_seg_totals(spark, stage_dir)
    os.makedirs(stage_dir, exist_ok=True)
    totals: dict = {}
    for r in _stage0_df(spark, df, out_dir=stage_dir, **stage0_kw).collect():
        n, sdl = totals.get(int(r["seg"]), (0, 0))
        totals[int(r["seg"])] = (n + int(r["n"]), sdl + int(r["sdl"]))
    return totals


def _staged_seg_totals(spark: SparkSession, stage_dir: str) -> dict:
    """{seg: (n_docs, sum_doc_len)} from the staged tb == -2 stats rows —
    ONE tiny scan job (resume, or the JVM-writer stage path)."""
    rows = (spark.read.schema(RUNS_SCHEMA).parquet(stage_dir)
            .filter(F.col("tb") == -2)
            .groupBy("seg")
            .agg(F.sum(F.element_at("doc_ids", 1)).alias("n"),
                 F.sum(F.element_at("dls", 1)).alias("sdl"))
            .collect())
    return {int(r["seg"]): (int(r["n"]), int(r["sdl"])) for r in rows}


def _write_segments(spark: SparkSession, cat: IndexCatalog, stage_dir: str,
                    *, doc_segs: List[int], post_segs: List[int],
                    avgdl: float, sum_dl: int, n_buckets: int,
                    lineage: dict) -> None:
    """Staged runs → docmap rows of `doc_segs` and packed postings of
    `post_segs` (packed at `avgdl`), each segment marked _STAGED when
    written, plus the pack's build_log rows. Committing is the caller's.

    docmap and postings are written CONCURRENTLY: independent outputs from
    the same staged runs; two driver threads let the Spark scheduler
    overlap the small docmap write with the pack exchange instead of paying
    two sequential job latencies. They are InheritableThreads so their jobs
    carry the caller's job group."""
    from pyspark import InheritableThread

    runs = spark.read.schema(RUNS_SCHEMA).parquet(stage_dir)
    errors: List[BaseException] = []

    def _write_docmap() -> None:
        # repartition to align tasks with output partitions: one writer task
        # per segment → one file per dir instead of tasks×segments files
        (runs.filter((F.col("tb") == -1) & F.col("seg").isin(doc_segs))
         .select(F.element_at("doc_ids", 1).alias("doc_id"), "url",
                 F.element_at("dls", 1).alias("doc_len"), "seg")
         .repartition(max(len(doc_segs), 1), F.col("seg"))
         .write.partitionBy("seg").mode("append").parquet(cat.docmap_dir()))
        for s in doc_segs:
            cat.mark_staged("docmap", s)

    def _write_postings() -> None:
        t_pack = time.time()
        # reducer count from the staged data volume (sum_dl posting
        # entries): ~4 waves per core for big inputs, but never more
        # reducers than the data supports or distinct (seg, tb) exchange
        # keys — more reducers than keys is pure task overhead; ≥50M
        # entries per task bounds retry granularity at huge scale (the pack
        # UDF streams batch-at-a-time, so task memory does not grow with
        # partition size). The small-input floor relaxes to ~50k
        # entries/task up to ONE full wave of cores, so a mid-size input
        # still packs on every core.
        par = spark.sparkContext.defaultParallelism
        target = max(min(4 * par, sum_dl // 200_000 + 1),
                     min(par, sum_dl // 50_000 + 1))
        n_out_parts = max(1, min(len(post_segs) * n_buckets,
                                 max(target, sum_dl // 50_000_000 + 1)))
        src = (runs.filter((F.col("tb") >= 0)
                           & F.col("seg").isin(post_segs)).drop("url"))
        if "://" not in cat.postings_dir():
            # worker-direct parquet sink; per-(seg, tb) metrics come back as
            # the job's rows — no post-hoc build_log scan job
            metric_rows = _pack_runs(
                src, avgdl=avgdl, n_out_parts=n_out_parts,
                sink_dir=cat.postings_dir()).collect()
        else:
            (_pack_runs(src, avgdl=avgdl, n_out_parts=n_out_parts)
             .write.partitionBy("seg", "tb").mode("append")
             .parquet(cat.postings_dir()))
            # the same per-(seg, tb) metrics, aggregated from the written
            # table (metrics AS DATA — a Python accumulator would serialize
            # task updates through the driver's accumulator channel)
            metric_rows = (
                spark.read.schema(POSTINGS_SCHEMA).parquet(cat.postings_dir())
                .filter(F.col("seg").isin(post_segs))
                .groupBy("seg", "tb")
                .agg(F.count("*").alias("n_terms"),
                     F.sum("df").alias("n_postings"),
                     F.sum(F.length("docs") + F.length("tfs")
                           + F.length("dls")).alias("bytes_packed"))
                .collect())
        for s in post_segs:
            cat.mark_staged("postings", s)
        _write_build_log_rows(spark, cat, metric_rows, time.time() - t_pack,
                              lineage)

    def _guard(fn):
        def run():
            try:
                fn()
            except BaseException as e:  # surfaced after join
                errors.append(e)
        return run

    threads = [InheritableThread(_guard(fn), daemon=True)
               for fn, segs in ((_write_docmap, doc_segs),
                                (_write_postings, post_segs))
               if segs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def build_index(spark: SparkSession, df: DataFrame, index_dir: str, *,
                text_col: str = "text", html_col: Optional[str] = None,
                id_col: Optional[str] = None, url_col: Optional[str] = None,
                lang_filter: Optional[str] = None,
                segment_docs: int = DEFAULT_SEGMENT_DOCS,
                n_buckets: int = DEFAULT_TERM_BUCKETS,
                lineage: Optional[dict] = None,
                max_segments: Optional[int] = None,
                with_positions: bool = False) -> BuildResult:
    """Full pages→segments build. See module docstring for the plan.

    max_segments limits how many missing segments are built this run (used by
    the kill/rerun resumability test).

    Holds the catalog writer lock for the whole build (shared with
    append/upsert/compaction): concurrent segment writers allocate ids
    from max_seg_id() and reclaim each other's staged dirs in their
    crash-recovery housekeeping — serializing them is the contract;
    delete_docs/expire stay concurrent (manifest-lock only)."""
    with IndexCatalog(index_dir).writer_lock():
        return _build_index_locked(
            spark, df, index_dir, text_col=text_col, html_col=html_col,
            id_col=id_col, url_col=url_col, lang_filter=lang_filter,
            segment_docs=segment_docs, n_buckets=n_buckets,
            lineage=lineage, max_segments=max_segments,
            with_positions=with_positions)


def _build_index_locked(spark: SparkSession, df: DataFrame, index_dir: str,
                        *, text_col: str, html_col: Optional[str],
                        id_col: Optional[str], url_col: Optional[str],
                        lang_filter: Optional[str], segment_docs: int,
                        n_buckets: int, lineage: Optional[dict],
                        max_segments: Optional[int],
                        with_positions: bool = False) -> BuildResult:
    t0 = time.time()
    cat = IndexCatalog(index_dir)

    # ---- stage 0: extract + docIDs + tokenize + invert → staged runs -------
    # Materialized as PARQUET, not .persist(): Spark's in-memory columnar
    # cache build contends badly at high thread counts (measured 2.6x slower
    # at local[32] than local[8] on this corpus), while a parquet write
    # scales. The staged table is also the stage-0 resumability checkpoint:
    # a re-run with the marker present skips extract/ids/tokenize entirely.
    # What is staged: SPIMI runs + doc rows (RUNS_SCHEMA) — the per-doc term
    # arrays never hit disk, so the pack phase reads numeric arrays plus one
    # term string per run instead of one string per occurrence.
    stage_dir = os.path.join(index_dir, "_stage", "runs")
    stage_marker = os.path.join(stage_dir, "_STAGED")
    # the staged runs bake (segment_docs, n_buckets, lang_filter, columns)
    # into their seg/tb values: a resume with DIFFERENT params must not
    # reuse them (silently half-empty query results when n_buckets shrinks
    # — term_bucket(t, new) would search tb ranges the data was not packed
    # under), so the marker records the params and mismatches invalidate
    build_params = {"segment_docs": int(segment_docs),
                    "n_buckets": int(n_buckets),
                    "lang_filter": lang_filter, "text_col": text_col,
                    "id_col": id_col, "url_col": url_col,
                    "html_col": html_col,
                    "with_positions": bool(with_positions)}
    snap0 = cat.current_snapshot()
    if snap0 is not None:
        old = snap0["stats"]
        if (int(old.get("n_buckets", n_buckets)) != int(n_buckets)
                or int(old.get("segment_docs",
                               segment_docs)) != int(segment_docs)):
            raise ValueError(
                f"index {index_dir} was committed with n_buckets="
                f"{old.get('n_buckets')}, segment_docs="
                f"{old.get('segment_docs')}; rebuilding with different "
                "parameters over committed segments would corrupt query "
                "routing — use a fresh directory (or compact, then match)")
        if bool(old.get("has_positions")) != bool(with_positions):
            # an in-place flip would recommit the existing segments
            # unchanged under the new flag: has_positions=True over
            # position-free postings makes every phrase query fail at
            # decode time (and the reverse silently strands dead bytes)
            raise ValueError(
                f"index {index_dir} was committed with has_positions="
                f"{bool(old.get('has_positions'))}; it cannot be flipped "
                "in place — rebuild into a fresh directory")
    if os.path.exists(stage_marker):
        try:
            with open(stage_marker) as fh:
                prev = json.load(fh).get("params")
        except (ValueError, OSError):
            prev = None
        if prev != build_params:
            import shutil
            shutil.rmtree(stage_dir)  # params changed → stale checkpoint
            if snap0 is None:
                # staged-but-uncommitted segments were built under the old
                # params too (tb/seg baked in) — drop them with it
                for table in ("docmap", "postings"):
                    for s in cat.staged_segments(table):
                        cat.drop_segment(table, s)
    if os.path.exists(stage_marker):
        seg_totals = _staged_seg_totals(spark, stage_dir)  # resume
    else:
        if os.path.isdir(stage_dir):
            import shutil
            shutil.rmtree(stage_dir)  # partial stage from a killed run
        seg_totals = _stage_runs(
            spark, df, stage_dir, text_col=text_col, id_col=id_col,
            url_col=url_col, html_col=html_col, lang_filter=lang_filter,
            segment_docs=segment_docs, n_buckets=n_buckets,
            with_positions=with_positions)
        with open(stage_marker, "w") as fh:
            json.dump({"ts": time.time(), "params": build_params}, fh)

    # ---- segments + global stats --------------------------------------
    all_segs = sorted(seg_totals)
    n_docs = int(sum(v[0] for v in seg_totals.values()))
    sum_dl = int(sum(v[1] for v in seg_totals.values()))
    avgdl = (sum_dl / n_docs) if n_docs else 0.0
    for table in ("docmap", "postings"):
        staged = set(cat.staged_segments(table))
        d = os.path.join(index_dir, table)
        if os.path.isdir(d):
            for name in os.listdir(d):
                if name.startswith("seg="):
                    s = int(name.split("=", 1)[1])
                    if s not in staged:
                        cat.drop_segment(table, s)  # partial → rebuild

    done_doc = set(cat.staged_segments("docmap"))
    done_post = set(cat.staged_segments("postings"))
    todo = [s for s in all_segs if s not in done_doc or s not in done_post]
    if max_segments is not None:
        todo = todo[:max_segments]
    _write_segments(spark, cat, stage_dir,
                    doc_segs=[s for s in todo if s not in done_doc],
                    post_segs=[s for s in todo if s not in done_post],
                    avgdl=avgdl, sum_dl=sum_dl, n_buckets=n_buckets,
                    lineage=lineage or {})

    # ---- commit (only when every segment is staged) -------------------------
    staged_all = (set(cat.staged_segments("postings"))
                  & set(cat.staged_segments("docmap")))
    snapshot_id = -1
    if set(all_segs) <= staged_all:
        stats = {"n_docs": n_docs, "avgdl": avgdl, "sum_dl": sum_dl,
                 "segment_docs": segment_docs, "n_buckets": n_buckets,
                 "has_positions": bool(with_positions),
                 # per-segment pack-time avgdl: block-max max_partial bounds
                 # are exact only at this avgdl; queries scale them by
                 # current/pack when streaming appends drift the global stat
                 "pack_avgdl": {str(s): avgdl for s in sorted(staged_all)}}
        # Commit under the manifest lock with a rebase of the TOMBSTONE
        # state: a rerun over an already-committed index (idempotent
        # replay of a build job) or a delete_docs that committed while
        # this build ran must not be wiped by a fresh delete_files=[]
        # commit — expire would then physically reclaim the dropped
        # delete file while its docs are live again. Carrying is only
        # sound when the committed layout IS this build's layout; a
        # snapshot that diverged via append/compaction would be silently
        # replaced with stats and segment lists that contradict it, so
        # refuse loudly instead.
        want = sorted(int(s) for s in staged_all)
        with cat._manifest_lock():
            cur = cat.current_snapshot()
            delete_files: list = []
            applied: list = []
            if cur is not None:
                cur_doc = sorted(int(s) for s in
                                 cur.get("doc_segments", cur["segments"]))
                cur_post = sorted(int(s) for s in
                                  cur.get("posting_segments",
                                          cur["segments"]))
                # appended segments carry _STAGED markers too, so compare
                # against THIS INPUT's segment set as well — an appended
                # index would otherwise pass the staged_all comparison and
                # get its n_docs/avgdl/pack_avgdl overwritten with stats
                # computed from the original corpus only
                mine = sorted(int(s) for s in all_segs)
                if cur_doc != want or cur_post != want or mine != want:
                    raise RuntimeError(
                        f"index {index_dir} diverged since its build "
                        f"(doc_segments={cur_doc}, posting_segments="
                        f"{cur_post}, staged={want}, this input={mine}) — "
                        "rebuilding over an appended/compacted index "
                        "would commit inconsistent stats; use a fresh "
                        "directory")
                delete_files = list(cur.get("delete_files") or [])
                applied = list(cur.get("applied_delete_files") or [])
                for k in ("n_deleted_pending", "n_deleted_applied",
                          "pseg_of"):
                    if k in cur["stats"]:
                        stats[k] = cur["stats"][k]
            snapshot_id = cat._commit_snapshot_locked(
                sorted(staged_all), stats,
                lineage or {"source": "unknown", "built_at": time.time()},
                delete_files=delete_files,
                applied_delete_files=applied)
        # stage-0 checkpoint no longer needed once the snapshot is live
        import shutil
        shutil.rmtree(os.path.join(index_dir, "_stage"), ignore_errors=True)
    return BuildResult(snapshot_id, n_docs, avgdl, sorted(staged_all),
                       time.time() - t0)


POSTINGS_PA_SCHEMA = None


def _postings_pa_schema():
    import pyarrow as pa
    global POSTINGS_PA_SCHEMA
    if POSTINGS_PA_SCHEMA is None:
        POSTINGS_PA_SCHEMA = pa.schema([
            ("term", pa.string()), ("seg", pa.int64()), ("tb", pa.int32()),
            ("df", pa.int64()), ("docs", pa.binary()), ("tfs", pa.binary()),
            ("dls", pa.binary()),
            ("first_docs", pa.list_(pa.int64())),
            ("doc_offs", pa.list_(pa.int32())),
            ("tf_offs", pa.list_(pa.int32())),
            ("dl_offs", pa.list_(pa.int32())),
            ("max_partial", pa.list_(pa.float64())),
            ("pos", pa.binary()),
            ("pos_offs", pa.list_(pa.int32()))])
    return POSTINGS_PA_SCHEMA


def _pack_table(t, avgdl: float):
    """One (seg, tb, term)-sorted Arrow table slice → packed-postings
    RecordBatch. Pure Arrow/numpy: list columns are consumed as flat
    value buffers + offsets (ListArray.flatten) and the packed streams are
    emitted as Binary/List arrays built from whole-batch buffers — no
    per-row Python objects in either direction."""
    import pyarrow as pa

    t = t.combine_chunks()
    n = t.num_rows
    seg = t.column("seg").chunk(0).to_numpy()
    tb = t.column("tb").chunk(0).to_numpy()
    term = t.column("term").chunk(0)
    d_col = t.column("doc_ids").chunk(0)
    tf_col = t.column("tfs").chunk(0)
    dl_col = t.column("dls").chunk(0)
    run_offs = d_col.offsets.to_numpy()
    run_lens = np.diff(run_offs)
    d_flat = d_col.flatten().to_numpy()
    tf_flat = tf_col.flatten().to_numpy()
    dl_flat = dl_col.flatten().to_numpy()
    pos_flat = None
    p_col = t.column("poss").chunk(0)
    if p_col.null_count < n:
        if p_col.null_count:
            raise ValueError(
                "mixed positional and non-positional runs in one pack "
                "batch — an index is positional or it is not")
        pos_flat = p_col.flatten().to_numpy()

    # group boundaries: term change (same term ⇒ same tb; seg guard anyway)
    gchange = np.empty(n, dtype=bool)
    gchange[0] = True
    if n > 1:
        import pyarrow.compute as pc
        tneq = pc.not_equal(term.slice(1), term.slice(0, n - 1))
        gchange[1:] = (tneq.to_numpy(zero_copy_only=False)
                       | (seg[1:] != seg[:-1]))
    gstarts = np.flatnonzero(gchange)
    row_lens = np.add.reduceat(run_lens, gstarts)

    pf = codec.pack_flat(d_flat, tf_flat, dl_flat, row_lens, avgdl,
                         pos=pos_flat)

    R = gstarts.size
    def binary_arr(enc: bytes, row_offs: np.ndarray):
        assert row_offs[-1] <= np.iinfo(np.int32).max
        return pa.Array.from_buffers(
            pa.binary(), R,
            [None, pa.py_buffer(row_offs.astype(np.int32)),
             pa.py_buffer(enc)])

    blk_off32 = pf.blk_row_off.astype(np.int32)
    if pf.enc_pos is not None:
        pos_arr = binary_arr(pf.enc_pos, pf.row_pos_offs)
        pos_offs_arr = pa.ListArray.from_arrays(pa.array(blk_off32),
                                                pa.array(pf.blk_pos_offs))
    else:
        pos_arr = pa.nulls(R, pa.binary())
        pos_offs_arr = pa.nulls(R, pa.list_(pa.int32()))
    return pa.RecordBatch.from_arrays([
        term.take(pa.array(gstarts)),
        pa.array(seg[gstarts]), pa.array(tb[gstarts]), pa.array(pf.df),
        binary_arr(pf.enc_docs, pf.row_doc_offs),
        binary_arr(pf.enc_tfs, pf.row_tf_offs),
        binary_arr(pf.enc_dls, pf.row_dl_offs),
        pa.ListArray.from_arrays(pa.array(blk_off32),
                                 pa.array(pf.first_docs)),
        pa.ListArray.from_arrays(pa.array(blk_off32),
                                 pa.array(pf.blk_doc_offs)),
        pa.ListArray.from_arrays(pa.array(blk_off32),
                                 pa.array(pf.blk_tf_offs)),
        pa.ListArray.from_arrays(pa.array(blk_off32),
                                 pa.array(pf.blk_dl_offs)),
        pa.ListArray.from_arrays(pa.array(blk_off32),
                                 pa.array(pf.max_partial)),
        pos_arr,
        pos_offs_arr,
    ], schema=_postings_pa_schema())


PACK_METRICS_SCHEMA = ("seg long, tb int, n_terms long, n_postings long, "
                       "bytes_packed long")


def _pack_runs(mini: DataFrame, *, avgdl: float, n_out_parts: int = 64,
               sink_dir: Optional[str] = None) -> DataFrame:
    """SPIMI run rows (seg, tb, term, doc/tf/dl arrays) → packed postings:
    ONE exchange hash-partitioned by (seg, tb) → sortWithinPartitions(seg,
    tb, term) → streaming merge-pack that concatenates each term's runs
    with term-boundary carry across batches (memory bound = one term's
    postings ≤ segment_docs — the SPIMI-merge shape, reference
    inverted_index_skip_list.py:73-109 distributed).

    This shape replaced (1) a groupBy(collect_list(struct)) plan whose JVM
    object churn profiled as the most expensive stage of the build, then
    (2) an occurrence-level exchange (one row per posting) whose shuffle +
    Arrow transfer dominated and spilled; run rows with array payloads cut
    exchanged rows ~50x and pay term strings once per run.

    sink_dir=None → returns the POSTINGS_SCHEMA DataFrame (JVM writer path).
    With sink_dir set, pack tasks write hive-partitioned parquet
    (seg=S/tb=T/part-<pid>.parquet, atomic tmp+rename, partition columns
    kept out of the files like partitionBy) DIRECTLY from the worker and the
    returned DataFrame carries per-(seg, tb) build metrics — the build-log
    rows fall out of the pack pass itself instead of a post-hoc scan job."""
    runs = (mini.repartition(n_out_parts, F.col("seg"), F.col("tb"))
            .sortWithinPartitions("seg", "tb", "term"))

    # --- reduce: streaming merge of sorted runs + pack ---------------------
    def packed_batches(batches):
        import pyarrow as pa
        carry = None  # pa.Table holding the trailing (seg, term) group
        for batch in batches:
            if batch.num_rows == 0:
                continue
            t = pa.Table.from_batches([batch])
            if carry is not None:
                t = pa.concat_tables([carry, t]).combine_chunks()
                carry = None
            n = t.num_rows
            # hold back the trailing (seg, term) group — it may continue in
            # the next batch
            seg = t.column("seg").chunk(0).to_numpy()
            term = t.column("term").chunk(0)
            gchange = np.empty(n, dtype=bool)
            gchange[0] = True
            if n > 1:
                import pyarrow.compute as pc
                tneq = pc.not_equal(term.slice(1), term.slice(0, n - 1))
                gchange[1:] = (tneq.to_numpy(zero_copy_only=False)
                               | (seg[1:] != seg[:-1]))
            last_start = int(np.flatnonzero(gchange)[-1])
            if last_start == 0:
                carry = t
                continue
            carry = t.slice(last_start)
            yield _pack_table(t.slice(0, last_start), avgdl)
        if carry is not None and carry.num_rows:
            yield _pack_table(carry, avgdl)

    if sink_dir is None:
        def pack(batches):
            yield from packed_batches(batches)
        return runs.mapInArrow(pack, POSTINGS_SCHEMA)

    def pack_sink(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext
        ctx = TaskContext.get()
        pid = ctx.partitionId()
        attempt = ctx.taskAttemptId()
        file_schema = pa.schema([f for f in _postings_pa_schema()
                                 if f.name not in ("seg", "tb")])
        stats: dict = {}
        state = {"key": None, "writer": None, "tmp": None, "final": None}

        def close_writer():
            if state["writer"] is not None:
                state["writer"].close()
                os.replace(state["tmp"], state["final"])
                state["writer"] = None

        try:
            for rb in packed_batches(batches):
                t = pa.Table.from_batches([rb])
                seg = t.column("seg").chunk(0).to_numpy()
                tb = t.column("tb").chunk(0).to_numpy()
                n = t.num_rows
                kchange = np.empty(n, dtype=bool)
                kchange[0] = True
                kchange[1:] = (seg[1:] != seg[:-1]) | (tb[1:] != tb[:-1])
                kstarts = np.flatnonzero(kchange)
                kends = np.append(kstarts[1:], n)
                body = t.drop_columns(["seg", "tb"])
                for s, e in zip(kstarts, kends):
                    key = (int(seg[s]), int(tb[s]))
                    if key != state["key"]:
                        # sorted input → keys are contiguous per task: at
                        # most one writer open, one file per (task, seg, tb)
                        close_writer()
                        d = os.path.join(sink_dir, f"seg={key[0]}",
                                         f"tb={key[1]}")
                        os.makedirs(d, exist_ok=True)
                        state["final"] = os.path.join(
                            d, f"part-{pid:05d}.parquet")
                        state["tmp"] = os.path.join(
                            d, f"_tmp-part-{pid:05d}-{attempt}.inprogress")
                        # min/max statistics only for `term` (the one
                        # column a query prunes row groups on): those of the
                        # binary/list payload columns are never read and
                        # cost ~9% of the file
                        state["writer"] = pq.ParquetWriter(
                            state["tmp"], file_schema, compression="snappy",
                            write_statistics=["term"])
                        state["key"] = key
                    sl = body.slice(s, e - s)
                    state["writer"].write_table(sl)
                    st = stats.setdefault(key, [0, 0, 0])
                    st[0] += e - s
                    st[1] += int(pc.sum(t.column("df")
                                        .slice(s, e - s)).as_py())
                    st[2] += sum(
                        int(pc.sum(pc.binary_length(sl.column(c))).as_py())
                        for c in ("docs", "tfs", "dls"))
            close_writer()
        finally:
            # failed/killed attempt (incl. speculative losers): close and
            # remove the in-progress tmp instead of leaking it into the
            # committed index tree (mirrors stage0_sink's finally)
            if state["writer"] is not None:
                state["writer"].close()
            if state["tmp"] and os.path.exists(state["tmp"]):
                os.remove(state["tmp"])
        keys = sorted(stats)
        yield pa.RecordBatch.from_arrays([
            pa.array([k[0] for k in keys], type=pa.int64()),
            pa.array([k[1] for k in keys], type=pa.int32()),
            pa.array([stats[k][0] for k in keys], type=pa.int64()),
            pa.array([stats[k][1] for k in keys], type=pa.int64()),
            pa.array([stats[k][2] for k in keys], type=pa.int64()),
        ], schema=pa.schema([
            ("seg", pa.int64()), ("tb", pa.int32()),
            ("n_terms", pa.int64()), ("n_postings", pa.int64()),
            ("bytes_packed", pa.int64())]))

    return runs.mapInArrow(pack_sink, PACK_METRICS_SCHEMA)


def _write_build_log_rows(spark: SparkSession, cat: IndexCatalog,
                          metric_rows, phase_elapsed_sec: float,
                          lineage: dict) -> None:
    """The one build_log writer: per-(seg, tb) pack metrics (seg, tb,
    n_terms, n_postings, bytes_packed rows — the sink pack job's own
    result, or an aggregate of the written postings) + lineage source.
    terms/sec and postings/sec attribute the pack phase's wall-clock
    across partitions proportionally."""
    from pysearchlite_spark.sources.catalog import BUILD_LOG_SCHEMA
    el = max(phase_elapsed_sec, 1e-9)
    now = time.time()
    src = str(lineage.get("source", ""))
    rows = [(int(r["seg"]), int(r["tb"]), int(r["n_terms"]),
             int(r["n_postings"]), int(r["bytes_packed"]), float(el),
             r["n_terms"] / el, r["n_postings"] / el, src, now)
            for r in metric_rows]
    if not rows:
        return
    log_dir = cat.build_log_dir()
    if "://" not in log_dir:
        # the metric rows are ALREADY on the driver (they are the pack
        # job's collect()ed output) — a few hundred rows; round-tripping
        # them through createDataFrame + a one-task Spark write job
        # measured 4-5 s per build in context. Write the parquet directly
        # (atomic tmp+rename, unique name = append semantics). Scheme'd
        # paths (hdfs/s3) keep the JVM writer below.
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(log_dir, exist_ok=True)
        names = ["seg", "tb", "n_terms", "n_postings", "bytes_packed",
                 "elapsed_sec", "terms_per_sec", "postings_per_sec",
                 "source", "built_at"]
        cols = list(zip(*rows))
        table = pa.table(
            {n: pa.array(list(c)) for n, c in zip(names, cols)},
            schema=pa.schema([
                ("seg", pa.int64()), ("tb", pa.int32()),
                ("n_terms", pa.int64()), ("n_postings", pa.int64()),
                ("bytes_packed", pa.int64()), ("elapsed_sec", pa.float64()),
                ("terms_per_sec", pa.float64()),
                ("postings_per_sec", pa.float64()),
                ("source", pa.string()), ("built_at", pa.float64())]))
        final = os.path.join(log_dir, f"part-{uuid.uuid4().hex}.parquet")
        tmp = final + ".inprogress"
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, final)
        return
    (spark.createDataFrame(rows, BUILD_LOG_SCHEMA)
     .coalesce(1).write.mode("append").parquet(log_dir))
