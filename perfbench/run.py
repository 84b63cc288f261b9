"""Benchmark of pysearchlite_spark, driven through its public functions from
one client process on Spark local[nproc].

    python3 perfbench/run.py --workload {clean_build,search,maintain} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Inputs come from `gen.py` (seeded), every
output is checked against `check.py`, and the last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}.  Every workload
prints the same metrics, each measured on its own calls: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer ones (see README.md).  The
load is closed-loop with one client: each call waits for its reply before
the next is sent.
"""

import time

T0 = time.perf_counter()  # set-up time is measured from here
EPOCH0 = time.time()      # T0 on the wall clock of Spark's event log

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("clean_build", "search", "maintain")


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def median(xs):
    return float(statistics.median(xs))


def pct(xs, q: int):
    """q-th percentile, interpolated between the two nearest samples."""
    return float(statistics.quantiles(xs, n=100, method="inclusive")[q - 1])


def per_query(lat: dict, q: int) -> float:
    """q-th percentile over a mix's queries of each query's median latency
    ({query: [latency]}): every query weighs the same, and one slow sample
    moves its own query's median, not the percentile."""
    return pct([median(v) for v in lat.values()], q)


class Bench:
    """One run: the Spark session, the operation counters and, with
    --trace 1, the spans and per-layer numbers."""

    def __init__(self, args, work: str) -> None:
        self.seed, self.seconds, self.trace = args.seed, args.seconds, \
            bool(args.trace)
        self.workload = args.workload
        self.work = work
        self.own_s = 0.0            # the benchmark's own work inside set-up
        self.attempted = self.failed = 0
        self.errors: list = []
        self.spans: list = []
        self._stack: list = []
        self._claimed: set = set()   # job ids already given to a span
        self.timed = False           # inside the timed phase
        self.rounds = 0              # timed rounds (or cycles) done
        self.call_s = 0.0            # wall time of the timed calls
        self.index_layer: dict = {}
        self.layer: dict = {}        # the workload's own per-layer figures
        self.detail: dict = {}       # the workload's own end-to-end figures
        self.spark = None

    # ---- the benchmark's own time, kept out of setup_s -----------------
    @contextmanager
    def own(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.own_s += time.perf_counter() - t

    def setup_s(self) -> float:
        self.timed = True
        log(f"set-up done at {time.perf_counter() - T0:.1f} s")
        return time.perf_counter() - T0 - self.own_s

    def end_timed(self, rounds: int) -> None:
        self.timed = False
        self.rounds = rounds
        log(f"timed phase done at {time.perf_counter() - T0:.1f} s")

    # ---- Spark -----------------------------------------------------------
    def start_spark(self):
        ncpu = len(os.sched_getaffinity(0))
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
                f"spark.sql.warehouse.dir={os.path.join(self.work, 'wh')}"]
        if self.trace:
            ev = os.path.join(self.work, "events")
            os.makedirs(ev, exist_ok=True)
            conf += ["spark.eventLog.enabled=true",
                     "spark.eventLog.compress=false",
                     "spark.eventLog.rolling.enabled=false",
                     f"spark.eventLog.dir=file://{ev}"]
        os.environ.update({
            "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {c}" for c in conf)
            + " pyspark-shell",
            "SPARK_GRAFT_CONSOLE_PROGRESS": "false",
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_GRAFT_LOCAL_DIR": os.path.join(self.work, "spark"),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                [ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        })
        from pysearchlite_spark.session import get_spark
        t = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}",
                               master=f"local[{ncpu}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t
        return self.spark

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # ---- calls into the program ----------------------------------------
    @contextmanager
    def span(self, name: str):
        """Trace span around one call into a layer: name, start, end,
        parent and workload; with tracing on, the call's Spark jobs run
        under their own job group so jobs, stages and tasks can be
        counted per call.  Jobs that the call submits from threads of its
        own carry no group (PySpark's pinned threads do not inherit it):
        every ungrouped job that starts while the span is open belongs to
        it, or to the innermost span open inside it."""
        if not self.trace:
            yield
            return
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        group = f"{name}#{len(self.spans)}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        rec = {"name": name, "group": group, "workload": self.workload,
               "parent": self._stack[-1]["group"] if self._stack else None,
               "timed": self.timed}
        self.spans.append(rec)
        self._stack.append(rec)
        self._drain()
        before = set(st.getJobIdsForGroup(None))
        sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter() - T0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - T0
            self._stack.pop()
            self._drain()
            jobs = (set(st.getJobIdsForGroup(group))
                    | set(st.getJobIdsForGroup(None)) - before) - self._claimed
            self._claimed |= jobs
            stages = [s for j in jobs
                      for s in (st.getJobInfo(j).stageIds
                                if st.getJobInfo(j) else [])]
            rec["job_ids"] = sorted(jobs)
            rec["jobs"], rec["stages"] = len(jobs), len(stages)
            rec["tasks"] = sum(st.getStageInfo(s).numTasks for s in stages
                               if st.getStageInfo(s))
            if prev is not None:
                sc.setJobGroup(prev, prev_desc or "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def _drain(self) -> None:
        """Wait until Spark's listeners have seen every event so far, so
        that statusTracker knows every job submitted up to now."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def call(self, name: str, fn, *args, **kw):
        """(result, seconds) of one operation; a raised error counts as a
        failed operation and yields (None, None)."""
        self.attempted += 1
        with self.span(name):
            t = time.perf_counter()
            try:
                out = fn(*args, **kw)
            except Exception as e:  # a failed operation is reported, not fatal
                self.failed += 1
                self.errors.append(f"{name}: {type(e).__name__}: {e}")
                log("operation failed:", self.errors[-1])
                return None, None
            t = time.perf_counter() - t
            if self.timed:
                self.call_s += t
            return out, t

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(f"check failed: {what}")
            log("check failed:", what)

    # ---- per-layer summaries --------------------------------------------
    def calls(self, name: str) -> list:
        """Spans of the calls `name` of the timed phase, or of set-up when
        the timed phase has none."""
        spans = [s for s in self.spans if s["name"] == name]
        return [s for s in spans if s["timed"]] or spans

    def per_call_s(self, name: str):
        v = [s["end"] - s["start"] for s in self.calls(name)]
        return median(v) if v else None

    def per_call(self, name: str, key: str):
        v = [s[key] for s in self.calls(name) if key in s]
        return median(v) if v else None

    def read_event_log(self) -> None:
        """Shuffle bytes written, executor run and CPU time per span, and
        the times at which each Spark job ran, from Spark's local event log
        (read after the session stops); a task counts for the first job
        that holds its stage."""
        ev = os.path.join(self.work, "events")
        stage_job, per_job, start, end = {}, {}, {}, {}
        logs = [os.path.join(r, f) for r, _d, fs in os.walk(ev) for f in fs]
        for fn in logs:
            with open(fn) as f:
                for line in f:
                    e = json.loads(line)
                    kind = e.get("Event")
                    if kind == "SparkListenerJobStart":
                        start[e["Job ID"]] = e["Submission Time"]
                        for s in e.get("Stage IDs", []):
                            stage_job.setdefault(s, e["Job ID"])
                    elif kind == "SparkListenerJobEnd":
                        end[e["Job ID"]] = e["Completion Time"]
                    elif kind == "SparkListenerTaskEnd":
                        m = e.get("Task Metrics") or {}
                        w = (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                        rec = per_job.setdefault(
                            stage_job.get(e.get("Stage ID")), [0, 0, 0])
                        rec[0] += w
                        rec[1] += m.get("Executor Run Time", 0)
                        rec[2] += m.get("Executor CPU Time", 0)
        # seconds since T0, as the spans count them
        self.job_times = sorted((start[j] / 1e3 - EPOCH0,
                                 end[j] / 1e3 - EPOCH0)
                                for j in start if j in end)
        for s in self.spans:
            b = run_ms = cpu_ns = 0
            for j in s.get("job_ids", ()):
                w, r, c = per_job.get(j, [0, 0, 0])
                b, run_ms, cpu_ns = b + w, run_ms + r, cpu_ns + c
            s["shuffle_mb"] = b / 1e6
            s["executor_run_s"] = run_ms / 1e3
            s["executor_cpu_s"] = cpu_ns / 1e9

    def per_layer(self) -> dict:
        """The per-layer metrics every workload prints, per timed round:
        Spark's jobs, stages, tasks, shuffle and executor time behind the
        round's calls; the part of the calls' wall time during which a
        Spark job ran, and the rest, which the driver spends alone (Python
        kernels, planning, collecting); and the index the round leaves."""
        timed = [s for s in self.spans if s["timed"]]
        n = self.rounds
        out = {"session.start_s": (self.layer["session.start_s"], "s")}
        for k in ("jobs", "stages", "tasks"):
            out[f"spark.{k}"] = (sum(s[k] for s in timed) / n, "count")
        for k, unit in (("shuffle_mb", "MB"), ("executor_run_s", "s"),
                        ("executor_cpu_s", "s")):
            out[f"spark.{k}"] = (sum(s[k] for s in timed) / n, unit)
        # union of the jobs' intervals, then its overlap with each call
        union: list = []
        for a, z in self.job_times:
            if union and a <= union[-1][1]:
                union[-1][1] = max(union[-1][1], z)
            else:
                union.append([a, z])
        running = sum(max(0.0, min(z, s["end"]) - max(a, s["start"]))
                      for s in timed for a, z in union)
        call_s = sum(s["end"] - s["start"] for s in timed)
        out["spark.jobs_running_s"] = (running / n, "s")
        out["driver.only_s"] = ((call_s - running) / n, "s")
        out.update(self.index_layer)
        return out

    def spark_layer(self, name: str, keys=("jobs", "tasks")) -> None:
        for k in keys:
            v = self.per_call(name, k)
            if v is not None:
                self.layer[f"{name}.{k}"] = v


# ---------------------------------------------------------------------------
# inputs

def corpus_file(b: Bench, name: str, table) -> str:
    import gen
    path = os.path.join(b.work, "in", f"{name}.parquet")
    gen.write(table, path)
    return path


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


def n_files(path: str) -> int:
    return sum(len(fs) for _r, _d, fs in os.walk(path))


# ---------------------------------------------------------------------------
# the metrics every workload prints

def end_to_end(b: Bench, setup: float, kinds: dict, idx) -> dict:
    """`kinds` maps each kind of call in the workload's round to its
    typical latency in seconds; `idx` is the index the round leaves."""
    log("typical latency per kind of call: " + ", ".join(
        f"{k} {v * 1e3:.4g} ms" for k, v in kinds.items()))
    log("the workload's own figures: " + ", ".join(
        f"{k} {v:.4g}" for k, v in b.detail.items()))
    d = idx.describe()
    b.index_layer = {
        "index.postings_bytes_per_doc": (d["postings_bytes"] / idx.n_docs,
                                         "bytes/doc"),
        "index.docmap_bytes_per_doc": (d["docmap_bytes"] / idx.n_docs,
                                       "bytes/doc"),
        "index.files": (n_files(idx.cat.root), "count"),
        "index.segments": (len(d["posting_segments"]), "count")}
    return {
        "setup_s": (setup, "s"),
        "round_s": (b.call_s / b.rounds, "s"),
        "call_geomean_ms": (1e3 * math.exp(statistics.fmean(
            math.log(v) for v in kinds.values())), "ms"),
        "index_bytes_per_doc": ((d["postings_bytes"] + d["docmap_bytes"])
                                / idx.n_docs, "bytes/doc")}


# ---------------------------------------------------------------------------
# clean_build: raw pages -> prepare_corpus -> build_index

CLEAN_DOCS = 600
WARMUP_DOCS = 100      # the set-up round's corpus
QUALITY = {"min_n_tokens": 20}
REPETITION = {"max_dup5gram_frac": 0.5}
NEAR = {"threshold": 0.7}
NEAR_SURE = 0.85       # copies this similar must be caught (LSH recall ~1)
# build_index calls per timed round, each into its own directory: one call
# takes about a second, too short to be the only sample of a run
BUILDS = 2


def dirty_corpus(b: Bench, seed: int, n: int, name: str):
    import gen
    table, plant = gen.corpus(seed, n, n_exact=n // 25, n_near=n // 25,
                              n_junk=n // 25, n_rep=n // 50)
    return table, plant, corpus_file(b, name, table)


def clean_build(b: Bench) -> dict:
    with b.own():
        table, plant, path = dirty_corpus(b, b.seed, CLEAN_DOCS, "corpus")
        warmup = dirty_corpus(b, b.seed + 1, WARMUP_DOCS, "warmup")
    spark = b.start_spark()
    from pysearchlite_spark.pipeline import prepare_corpus
    from pysearchlite_spark.plans.builder import build_index

    def one_round(src, n_builds):
        """Clean one corpus and index the survivors, from scratch."""
        r = len(rounds)
        out = os.path.join(b.work, f"clean{r}")
        rep, t_clean = b.call(
            "pipeline.prepare_corpus", prepare_corpus, spark,
            spark.read.parquet(src[2]), out, quality=QUALITY,
            repetition=REPETITION, exact_dedup=True, near_dedup=NEAR,
            release_cache=True)
        builds = []
        for i in range(n_builds if rep else 0):
            idx_dir = os.path.join(b.work, f"idx{r}-{i}")
            res, t = b.call("builder.build_index", build_index, spark,
                            spark.read.parquet(out), idx_dir,
                            id_col="doc_id", url_col="url")
            builds.append((idx_dir, t if res else None))
        rounds.append((src, rep, t_clean, builds, out))

    # The first round in a fresh JVM pays for code generation and for
    # starting Python workers.  A round over a small corpus pays it in
    # set-up; its output is checked like every other round's.
    rounds: list = []
    one_round(warmup, 1)
    setup = b.setup_s()
    t_run = time.perf_counter()
    while len(rounds) < 2 or time.perf_counter() - t_run < b.seconds:
        one_round((table, plant, path), BUILDS)
    b.end_timed(len(rounds) - 1)

    clean_s, build_s, built = [], [], 0
    for src, rep, t_clean, builds, out in rounds:
        if rep is None or not builds or None in [t for _d, t in builds]:
            continue
        surv, idx = check_clean_round(
            b, src, rep, out, [d for d, _t in builds])
        if src is not warmup:
            clean_s.append(t_clean)
            build_s += [t for _d, t in builds]
            built += len(surv) * len(builds)

    if b.trace:
        trace_clean_build(b, path, table, surv)
    if not clean_s:
        return {}
    b.detail.update(
        clean_docs_per_s=len(clean_s) * table.num_rows / sum(clean_s),
        build_docs_per_s=built / sum(build_s))
    return end_to_end(b, setup, {"prepare_corpus": median(clean_s),
                                 "build_index": median(build_s)}, idx)


def check_clean_round(b: Bench, src, rep, out, idx_dirs):
    """Check one round's stage counts, survivors and indexes against the
    generator's plant and the checker; (survivor ids, the last index)."""
    import pyarrow.parquet as pq

    import check
    from pysearchlite_spark.engine import SearchIndex
    table, plant, _path = src
    ids = table.column("doc_id").to_pylist()
    texts = table.column("text").to_pylist()
    text_of = dict(zip(ids, texts))
    want = check.expected_cleaning(
        ids, texts, min_tokens=QUALITY["min_n_tokens"],
        max_dup5=REPETITION["max_dup5gram_frac"])
    b.expect(want["quality"] == set(ids) - set(plant["junk"]),
             "quality survivors are all pages but the junk pages")
    b.expect(want["repetition"] == want["quality"] - set(plant["rep"]),
             "repetition survivors are the quality survivors but the loops")
    b.expect(want["exact_dedup"] == want["repetition"]
             - {int(c) for c in plant["exact"]},
             "exact survivors drop exactly the planted exact copies")
    near = {int(c): o for c, o in plant["near"].items()}
    sure = {c for c, o in near.items()
            if check.jaccard(text_of[c], text_of[o]) >= NEAR_SURE}
    kept = {s["stage"]: s["kept"] for s in rep["stages"]}
    for st in ("quality", "repetition", "exact_dedup"):
        b.expect(kept.get(st) == len(want[st]), f"{st} kept count")
    surv = sorted(pq.read_table(out, columns=["doc_id"])
                  .column("doc_id").to_pylist())
    dropped_near = want["exact_dedup"] - set(surv)
    b.expect(set(surv) <= want["exact_dedup"],
             "near stage keeps only exact-stage survivors")
    b.expect(dropped_near <= set(near),
             "near stage drops only planted near copies")
    b.expect(sure <= dropped_near,
             f"near stage drops every copy with Jaccard >= {NEAR_SURE}")
    corp = check.Corpus(surv, [text_of[i] for i in surv])
    for idx_dir in idx_dirs:
        idx = SearchIndex(b.spark, idx_dir)
        b.expect(idx.n_docs == len(surv), "index n_docs == survivors")
        b.expect(abs(idx.avgdl - corp.avgdl()) <= 1e-9 * corp.avgdl(),
                 "index avgdl matches the text")
        sum_df = sum(pq.read_table(idx.cat.postings_dir(), columns=["df"])
                     .column("df").to_pylist())
        b.expect(sum_df == corp.sum_df(),
                 "sum of df == sum of distinct terms per surviving page")
    return surv, idx


def timed_alone(b: Bench, name: str, frame) -> None:
    """Time one operator on its own, forcing every output row."""
    _, t = b.call(name, lambda: frame.write.format("noop")
                  .mode("overwrite").save())
    if t is not None:
        b.layer[f"{name}_s"] = t


def trace_clean_build(b: Bench, path: str, table, surv) -> None:
    import numpy as np
    import pandas as pd

    import check
    from pysearchlite_spark import codec, tokenizer
    from pysearchlite_spark.functions import text as T
    from pysearchlite_spark.operators import dedup as D
    from pysearchlite_spark.operators.cluster import dedup_clusters
    spark = b.spark
    text_of = dict(zip(table.column("doc_id").to_pylist(),
                       table.column("text").to_pylist()))
    df = spark.read.parquet(path).select("doc_id", "text")
    timed_alone(b, "text.quality_stats", T.quality_stats(df))
    timed_alone(b, "text.repetition_stats", T.repetition_stats(df))
    timed_alone(b, "dedup.exact_dedup", D.exact_dedup(df))
    reg: list = []
    pairs, t = b.call("dedup.minhash_lsh_pairs",
                      lambda: D.minhash_lsh_pairs(df, _registry=reg,
                                                  **NEAR).toPandas())
    if pairs is not None:
        b.layer["dedup.minhash_lsh_pairs_s"] = t
        b.layer["dedup.minhash_lsh_pairs.pairs"] = len(pairs)
        good = sum(check.jaccard(text_of[int(x)], text_of[int(y)])
                   >= NEAR["threshold"] for x, y in zip(pairs.a, pairs.b))
        b.layer["dedup.minhash_pair_precision"] = (good / len(pairs)
                                                   if len(pairs) else 1.0)
        pdf = spark.createDataFrame(pairs[["a", "b"]])
        timed_alone(b, "cluster.dedup_clusters",
                    dedup_clusters(df, pairs=pdf))
    for f in reg:
        f.unpersist()
    for name in ("pipeline.prepare_corpus", "builder.build_index"):
        b.spark_layer(name)
    b.layer["builder.build_index_s"] = b.per_call_s("builder.build_index")
    # pure-Python kernels on the survivors' text
    texts = pd.Series([text_of[i] for i in surv])
    mb = texts.str.len().sum() / 1e6
    t = time.perf_counter()
    tokenizer.tf_series(texts)
    b.layer["tokenizer.tf_series_mb_per_s"] = mb / (time.perf_counter() - t)
    corp = check.Corpus(range(len(texts)), texts)
    lists = [(d, f.astype(np.int64), corp.dl[d]) for d, f in
             corp.post.values()]
    t = time.perf_counter()
    for d, f, dl in lists:
        codec.pack_postings(d, f, dl, corp.avgdl())
    b.layer["codec.pack_postings_mb_per_s"] = \
        sum(d.size for d, _f, _l in lists) * 24 / 1e6 / (
            time.perf_counter() - t)


# ---------------------------------------------------------------------------
# search: scan path, then preloaded path

SEARCH_DOCS = 4000
# Calls per scan-mix query and round, by kind.  Top-10 runs three times so
# that its p90 over 17 queries rests on medians, not on single samples.
# The filtered top-10 runs on every FILTER_EVERY-th query and topk_batch
# BATCH_REPEAT times a round.
# The preloaded path is cheap, so it runs a mix WARM_MIX times as large (its
# first queries are the scan mix), which smooths its latency median.
REPEAT = {"topk": 3, "count": 1, "filtered": 1, "warm": 5}
FILTER_EVERY = 2
BATCH_REPEAT = 5
WARM_MIX = 8


def search(b: Bench) -> dict:
    import numpy as np
    import pandas as pd

    import gen
    with b.own():
        table, _ = gen.corpus(b.seed, SEARCH_DOCS)
        path = corpus_file(b, "corpus", table)
        texts = table.column("text").to_pylist()
        warm_mix = gen.query_mix(b.seed, texts, repeat=WARM_MIX)
        mix = warm_mix[:len(gen.MIX)]
        rng = np.random.default_rng(b.seed + 17)
        allow = np.sort(rng.choice(SEARCH_DOCS, SEARCH_DOCS // 3,
                                   replace=False))
    spark = b.start_spark()
    from pysearchlite_spark.engine import SearchIndex
    from pysearchlite_spark.plans.builder import build_index
    idx_dir = os.path.join(b.work, "idx")
    res, _ = b.call("builder.build_index", build_index, spark,
                    spark.read.parquet(path), idx_dir, id_col="doc_id",
                    url_col="url")
    if res is None:
        return {}
    idx = SearchIndex(spark, idx_dir)
    warm = SearchIndex(spark, idx_dir)
    t = time.perf_counter()
    warm.preload()
    b.layer["engine.preload_s"] = time.perf_counter() - t
    allow_df = spark.createDataFrame(pd.DataFrame({"doc_id": allow}),
                                     "doc_id long")
    calls = {
        "topk": lambda q: b.call("engine.topk", idx.topk, q, 10),
        "count": lambda q: b.call("engine.count", idx.count, q),
        "filtered": lambda q: b.call("engine.filtered_topk", idx.topk, q,
                                     10, filter_ids=allow_df),
        "warm": lambda q: b.call("engine.warm_topk", warm.topk, q, 10),
        "batch": lambda qs: b.call("engine.topk_batch", idx.topk_batch, qs,
                                   10)}
    lat = {k: {} for k in calls}
    rounds = []

    def one_round(repeat, n_batch):
        """The whole mix, every kind of call interleaved query by query, so
        that each metric samples the whole timed phase alike."""
        got = {k: [] for k in calls}
        got["warm"] = [None] * len(warm_mix)
        for i, q in enumerate(mix):
            for kind in ("topk", "count", "filtered"):
                if kind == "filtered" and i % FILTER_EVERY:
                    continue
                got[kind].append(repeated(kind, q, repeat[kind], i))
            for j in range(i, len(warm_mix), len(mix)):
                got["warm"][j] = repeated("warm", warm_mix[j],
                                          repeat["warm"], j)
        got["batch"] = repeated("batch", mix, n_batch, 0, len(mix))
        rounds.append(got)

    def repeated(kind, arg, n, key, per=1):
        """The result of n calls of one kind on the same argument, each of
        which must return it; latencies go to lat[kind][key], per query."""
        out = None
        for c in range(n):
            r, t = calls[kind](arg)
            lat[kind].setdefault(key, []).append(t and t / per)
            if c == 0:
                out = r
            else:
                b.expect(r == out, f"repeated {kind} of {arg!r} returns "
                         "the same result")
        return out

    # A first round, one call of each kind per query, is part of set-up:
    # the JVM is still compiling the scan path's code and later calls run
    # faster, so the timed rounds start from a warmer state.
    one_round(dict.fromkeys(REPEAT, 1), 1)
    setup = b.setup_s()
    for v in lat.values():
        v.clear()
    t_run = time.perf_counter()
    while len(rounds) < 2 or time.perf_counter() - t_run < b.seconds:
        one_round(REPEAT, BATCH_REPEAT)
    b.end_timed(len(rounds) - 1)

    # ---- checks ----------------------------------------------------------
    import check
    first = rounds[0]
    b.expect(all(r == first for r in rounds[1:]),
             "every round returns the same results")
    ids = table.column("doc_id").to_pylist()
    corp = check.Corpus(ids, texts)
    allowed = np.zeros(len(ids), dtype=bool)
    allowed[[corp.index[i] for i in allow]] = True
    for i, q in enumerate(mix):
        terms = list(dict.fromkeys(check.tokens(q)))
        top = first["topk"][i]
        b.expect(top is not None and corp.same_topk(top, terms),
                 f"scan top-10 of {q!r}")
        b.expect(first["count"][i] == corp.and_count(terms),
                 f"AND count of {q!r}")
        for other in ("batch", "warm"):
            o = (first[other] or [None] * len(mix))[i]
            b.expect(o is not None and top is not None and len(o) == len(top)
                     and all(a[0] == c[0] and abs(a[1] - c[1]) <= check.TIE
                             for a, c in zip(o, top)),
                     f"{other} result equals the scan result for {q!r}")
        if i % FILTER_EVERY == 0:
            r = first["filtered"][i // FILTER_EVERY]
            b.expect(r is not None
                     and corp.same_topk(r, terms, allowed=allowed),
                     f"filtered top-10 of {q!r}")
    for q, r in list(zip(warm_mix, first["warm"]))[len(mix):]:
        b.expect(r is not None and corp.same_topk(
            r, list(dict.fromkeys(check.tokens(q)))),
            f"preloaded top-10 of {q!r}")

    if b.trace:
        trace_search(b, idx, mix, allow_df,
                     sum(lat["warm"].values(), []))
    if any(None in v for d in lat.values() for v in d.values()):
        return {}
    kinds = {"topk": per_query(lat["topk"], 50),
             "count": per_query(lat["count"], 50),
             "filtered_topk": per_query(lat["filtered"], 50),
             "topk_batch": median(lat["batch"][0]),   # per query
             "warm_topk": per_query(lat["warm"], 50)}
    b.detail.update(
        scan_topk_p50_ms=kinds["topk"] * 1e3,
        scan_topk_p90_ms=per_query(lat["topk"], 90) * 1e3,
        scan_count_p50_ms=kinds["count"] * 1e3,
        scan_filtered_topk_p50_ms=kinds["filtered_topk"] * 1e3,
        batch_topk_qps=1 / kinds["topk_batch"],
        warm_topk_p50_ms=kinds["warm_topk"] * 1e3)
    return end_to_end(b, setup, kinds, idx)


def trace_search(b: Bench, idx, mix, allow_df, warm_lat) -> None:
    from pysearchlite_spark import codec
    from pysearchlite_spark import engine as E
    from pysearchlite_spark.operators import intersect as I
    from pysearchlite_spark.operators import wand as W
    from pysearchlite_spark.tokenizer import query_terms
    for kind, name in (("topk", "engine.topk"), ("count", "engine.count"),
                       ("filtered_topk", "engine.filtered_topk"),
                       ("batch", "engine.topk_batch")):
        b.layer[f"engine.jobs_per_query.{kind}"] = b.per_call(name, "jobs")
        b.layer[f"engine.tasks_per_query.{kind}"] = b.per_call(name, "tasks")
    b.spark_layer("builder.build_index")
    b.layer["builder.build_index_s"] = b.per_call_s("builder.build_index")
    ws = [x * 1e3 for x in warm_lat]
    b.layer["engine.warm_topk_p90_ms"] = pct(ws, 90)
    b.layer["engine.warm_topk_p99_ms"] = pct(ws, 99)
    fetch_ms, nbytes, fetched = [], [], []
    for q in mix:
        terms = query_terms(q)
        t = time.perf_counter()
        pdf = idx.postings_df(terms).select(*E.QUERY_COLS).toPandas()
        fetch_ms.append((time.perf_counter() - t) * 1e3)
        rows = pdf.to_dict("records")
        nbytes.append(sum(len(r["docs"]) + len(r["tfs"]) + len(r["dls"])
                          for r in rows))
        fetched.append((terms, rows))
    b.layer["engine.postings_df_ms"] = median(fetch_ms)
    b.layer["engine.postings_bytes_per_query"] = median(nbytes)
    t = time.perf_counter()
    idx.prepare_filter(allow_df).by_seg()
    b.layer["engine.filter_resolve_ms"] = (time.perf_counter() - t) * 1e3
    # kernels on the rows fetched above
    all_rows = [r for _t, rows in fetched for r in rows]
    t = time.perf_counter()
    for r in all_rows:
        codec.unpack_docs(r["docs"], int(r["df"]))
    b.layer["codec.unpack_docs_mb_per_s"] = \
        sum(len(r["docs"]) for r in all_rows) / 1e6 / (
            time.perf_counter() - t)
    score_ms, merge_ms, inter_ms, bm = [], [], [], []
    for terms, rows in fetched:
        if not rows:
            continue
        idfs = idx._idfs(idx.global_dfs(rows, terms))
        parts = []
        for _seg, srows in sorted(idx._rows_by_seg(rows).items()):
            bm.append(bool(W.decide_blockmax(srows, idfs, 10)))
            t = time.perf_counter()
            parts.append(E.score_segment_rows(srows, idfs, len(terms), 10,
                                              "or", "auto", idx.avgdl))
            score_ms.append((time.perf_counter() - t) * 1e3)
            if len(srows) > 1:
                t = time.perf_counter()
                I.intersect_packed(srows)
                inter_ms.append((time.perf_counter() - t) * 1e3)
        t = time.perf_counter()
        W.topk_merge(parts, 10)
        merge_ms.append((time.perf_counter() - t) * 1e3)
    b.layer["engine.score_segment_rows_ms"] = median(score_ms)
    b.layer["wand.topk_merge_ms"] = median(merge_ms)
    b.layer["wand.blockmax_share"] = sum(bm) / len(bm)
    b.layer["intersect.intersect_packed_ms"] = median(inter_ms)


# ---------------------------------------------------------------------------
# maintain: one append, deletes and reads, then compaction

# An append costs about 10 s whatever its size, so a cycle holds one.
BASE_DOCS, SEGMENT_DOCS, APPEND_DOCS = 1000, 500, 200
# live base ids per call and calls per cycle; the first call in a JVM is
# cold, so the median of five is a warm call
DELETES, DELETE_CALLS = 6, 5
PROBES = ["h", "m", "t", "a", "hm", "hmt", "hh", "mt"]
# sweeps over the probes per snapshot, so that each query's median latency
# rests on four samples and one slow sample does not move it
PROBE_SWEEPS = 2


def maintain(b: Bench) -> dict:
    import numpy as np

    import gen
    with b.own():
        words = gen.vocabulary(np.random.default_rng(b.seed))
        base, _ = gen.corpus(b.seed, BASE_DOCS, words=words)
        base_path = corpus_file(b, "base", base)
        batch, _ = gen.corpus(b.seed * 100 + 1, APPEND_DOCS, words=words,
                              url_prefix="a/")
        batch_path = corpus_file(b, "batch", batch)
        probes = gen.query_mix(b.seed, base.column("text").to_pylist(),
                               PROBES)
        rng = np.random.default_rng(b.seed + 29)
        dels = [sorted(int(x) for x in c) for c in rng.choice(
            BASE_DOCS, DELETE_CALLS * DELETES, replace=False).reshape(
                DELETE_CALLS, DELETES)]
    spark = b.start_spark()
    from pysearchlite_spark.engine import SearchIndex
    from pysearchlite_spark.plans.builder import build_index
    from pysearchlite_spark.plans.compaction import compact_segments
    from pysearchlite_spark.plans.deletes import delete_docs
    from pysearchlite_spark.streaming.ingest import append_batch
    base_dir = os.path.join(b.work, "base_idx")
    res, _ = b.call("builder.build_index", build_index, spark,
                    spark.read.parquet(base_path), base_dir,
                    id_col="doc_id", url_col="url",
                    segment_docs=SEGMENT_DOCS)
    if res is None:
        return {}
    setup = b.setup_s()

    lat = {"append": [], "delete": [], "compact": [], "open": []}
    probe_lat: dict = {}     # probe query -> latencies
    states = []    # (label, docmap, live count, probe results, index)

    def probe(idx_dir, label):
        """Top-10 of every probe on a freshly opened snapshot; returns the
        time spent reading the docmap for the checks."""
        t = time.perf_counter()
        idx = SearchIndex(spark, idx_dir)
        lat["open"].append(time.perf_counter() - t)
        res = [None] * len(probes)
        for sweep in range(PROBE_SWEEPS):
            for j, q in enumerate(probes):
                r, t = b.call("engine.topk", idx.topk, q, 10)
                if sweep:
                    b.expect(r == res[j], f"probe {q!r} repeats after {label}")
                else:
                    res[j] = r
                probe_lat.setdefault(j, []).append(t)
        t_own = time.perf_counter()
        dm = idx.docmap_df(live=False).select("doc_id", "url").toPandas()
        live = idx.docmap_df(live=True).count()
        states.append((label, dict(zip(dm.doc_id, dm.url)), live, res, idx))
        return time.perf_counter() - t_own

    t_run = time.perf_counter()
    n_cycle = 0
    while not n_cycle or time.perf_counter() - t_run < b.seconds:
        idx_dir = os.path.join(b.work, f"idx{n_cycle}")
        shutil.copytree(base_dir, idx_dir)
        _, t = b.call("ingest.append_batch", append_batch, spark,
                      spark.read.parquet(batch_path), idx_dir, url_col="url")
        lat["append"].append(t)
        for ids in dels:
            _, t = b.call("deletes.delete_docs", delete_docs, spark,
                          idx_dir, ids)
            lat["delete"].append(t)
        paused = probe(idx_dir, "written")
        if b.trace:
            snap = states[-1][-1]
            b.layer["catalog.segments"] = len(snap.snapshot.get(
                "posting_segments", snap.snapshot["segments"]))
            b.layer["catalog.pending_delete_files"] = len(snap.delete_files)
        _, t = b.call("compaction.compact_segments", compact_segments,
                      spark, idx_dir)
        lat["compact"].append(t)
        paused += probe(idx_dir, "compacted")
        t_run += paused      # checking is not part of the measured time
        n_cycle += 1
    b.end_timed(n_cycle)

    # ---- checks ----------------------------------------------------------
    import check
    base_urls = base.column("url").to_pylist()
    batch_urls = batch.column("url").to_pylist()
    keys = base_urls + batch_urls
    texts = (base.column("text").to_pylist()
             + batch.column("text").to_pylist())
    # documented doc-id order: the base in id order, then the batch
    order = [(0, i, "") for i in range(len(base_urls))] + [
        (1,) + check.url_order(u) for u in batch_urls]
    pos = [0] * len(keys)
    for p, i in enumerate(sorted(range(len(keys)), key=order.__getitem__)):
        pos[i] = p
    corp = check.Corpus(keys, texts, order=pos)
    deleted = {base_urls[i] for ids in dels for i in ids}
    corp.live = np.array([k not in deleted for k in keys])
    for label, id_url, live, res, _idx in states:
        # before compaction the statistics still count the pending deletes
        corp.stats_live = corp.live if label == "compacted" \
            else np.ones(len(keys), dtype=bool)
        b.expect(live == BASE_DOCS + APPEND_DOCS - len(deleted),
                 f"live count after {label}")
        by_url = sorted(id_url, key=lambda i: pos[corp.index[id_url[i]]])
        b.expect(by_url == sorted(id_url),
                 f"doc ids follow the documented order after {label}")
        for q, r in zip(probes, res):
            terms = list(dict.fromkeys(check.tokens(q)))
            got = None if r is None else [(id_url.get(d), s) for d, s in r]
            b.expect(got is not None and not any(g[0] in deleted
                                                 for g in got),
                     f"no deleted page in {q!r} after {label}")
            b.expect(got is not None and corp.same_topk(got, terms),
                     f"probe {q!r} after {label}")

    if b.trace:
        b.spark_layer("builder.build_index")
        b.layer["builder.build_index_s"] = b.per_call_s("builder.build_index")
        for name in ("ingest.append_batch", "deletes.delete_docs",
                     "compaction.compact_segments"):
            b.spark_layer(name)
        b.layer["engine.open_ms"] = median(lat["open"]) * 1e3
        snap = states[-1][-1]
        b.layer["compaction.bytes_rewritten_mb"] = sum(
            dir_bytes(os.path.join(snap.cat.postings_dir(), f"seg={s}"))
            for s in snap.snapshot.get("posting_segments",
                                       snap.snapshot["segments"])) / 1e6
    vals = lat["append"] + lat["delete"] + lat["compact"] + sum(
        probe_lat.values(), [])
    if None in vals:
        return {}
    kinds = {"append_batch": median(lat["append"]),
             "delete_docs": median(lat["delete"]),
             "compact_segments": median(lat["compact"]),
             "topk": per_query(probe_lat, 50)}
    b.detail.update(
        append_docs_per_s=APPEND_DOCS / kinds["append_batch"],
        delete_p50_ms=kinds["delete_docs"] * 1e3,
        compact_s=kinds["compact_segments"],
        post_write_topk_p50_ms=kinds["topk"] * 1e3)
    return end_to_end(b, setup, kinds, states[-1][-1])


# ---------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path[:0] = [ROOT, HERE]
    import pysearchlite_spark  # fail fast without the program
    if not os.path.abspath(pysearchlite_spark.__file__).startswith(ROOT):
        log("pysearchlite_spark is not the checkout's own copy")
        return 1

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    b = Bench(args, work)
    try:
        metrics = globals()[args.workload](b)
        if args.trace and metrics:
            b.close()
            b.read_event_log()
            for name in ("pipeline.prepare_corpus", "builder.build_index"):
                b.spark_layer(name, ("shuffle_mb",))
            e2e, metrics = metrics, b.per_layer()
            with open(os.path.join(ROOT, ".perfbench_work",
                                   f"trace-{args.workload}-{args.seed}.json"),
                      "w") as f:
                # the traced run's end-to-end figures, for the overhead
                json.dump({"spans": b.spans, "layer": b.layer,
                           "per_layer": {k: v for k, (v, _u)
                                         in metrics.items()},
                           "end_to_end": {k: v for k, (v, _u)
                                          in e2e.items()},
                           "detail": b.detail}, f)
    finally:
        log(f"workload done at {time.perf_counter() - T0:.1f} s")
        b.close()
        shutil.rmtree(work, ignore_errors=True)
    if not metrics:
        log("no metrics:", b.errors)
        return 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        want = {m["name"]: m["unit"] for m in json.load(f)[
            "per_layer" if args.trace else "end_to_end"]}
    got = {k: u for k, (_v, u) in metrics.items()}
    if got != want:
        log("the metrics differ from BENCHMARK.json's:", got, want)
        return 1
    out = {"correct": not any(e.startswith("check failed")
                              for e in b.errors),
           "attempted": b.attempted, "failed": b.failed,
           "metrics": {k: {"value": float(v), "unit": u}
                       for k, (v, u) in sorted(metrics.items())}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
