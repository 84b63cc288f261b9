"""append_batch writes segments with build_index's own writer: the same
docIDs, docmap rows and postings as a build over the same pages, in a
bounded number of Spark jobs."""

import numpy as np
import pytest

from pysearchlite_spark import codec
from pysearchlite_spark.datagen import PAGES_SCHEMA, pages_pdf
from pysearchlite_spark.plans.builder import _stage_runs, build_index
from pysearchlite_spark.sources.catalog import (DOCMAP_SCHEMA,
                                                POSTINGS_SCHEMA, IndexCatalog)
from pysearchlite_spark.streaming.ingest import append_batch


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(pages_pdf(7, 0, 60), PAGES_SCHEMA)


def _docmap(spark, d):
    return sorted(tuple(r) for r in spark.read.schema(DOCMAP_SCHEMA)
                  .parquet(f"{d}/docmap")
                  .select("doc_id", "url", "doc_len").collect())


def _postings(spark, d):
    """term → (doc_ids, tfs, dls), decoded and concatenated over segments."""
    out: dict = {}
    for r in (spark.read.schema(POSTINGS_SCHEMA).parquet(f"{d}/postings")
              .select("term", "seg", "df", "docs", "tfs", "dls")
              .orderBy("term", "seg").collect()):
        df = int(r["df"])
        cols = (codec.unpack_docs(bytes(r["docs"]), df),
                codec.unpack_stream(bytes(r["tfs"]), df),
                codec.unpack_stream(bytes(r["dls"]), df))
        prev = out.get(r["term"])
        out[r["term"]] = cols if prev is None else tuple(
            np.concatenate([a, b]) for a, b in zip(prev, cols))
    return {t: tuple(c.astype(np.int64).tolist() for c in v)
            for t, v in out.items()}


@pytest.mark.parametrize("payload", ["text", "html"])
def test_append_into_empty_dir_matches_build(spark, pages, tmp_path,
                                             payload):
    kw = {"html_col": "html"} if payload == "html" else {}
    src = pages.select("url", payload)
    built, appended = str(tmp_path / "built"), str(tmp_path / "appended")
    build_index(spark, src, built, url_col="url", segment_docs=25, **kw)
    append_batch(spark, src, appended, url_col="url", segment_docs=25, **kw)

    dm = _docmap(spark, built)
    assert len(dm) == 60 and [r[0] for r in dm] == list(range(60))
    assert _docmap(spark, appended) == dm
    post = _postings(spark, built)
    assert post and _postings(spark, appended) == post
    sources = {r["source"] for r in
               spark.read.parquet(f"{appended}/build_log").collect()}
    assert sources == {"streaming.append_batch"}


def _build_log(spark, d):
    return sorted((r["seg"], r["tb"], r["n_terms"], r["n_postings"],
                   r["bytes_packed"], r["source"])
                  for r in spark.read.parquet(f"{d}/build_log").collect())


def test_scheme_path_writers_match_sink(spark, pages, tmp_path, monkeypatch):
    """Paths with a scheme (hdfs://, s3://) take the JVM writers; a file://
    URI runs them here and must give what the worker-direct sinks give."""
    src = pages.select("url", "text")
    kw = dict(text_col="text", id_col=None, url_col="url", html_col=None,
              lang_filter=None, segment_docs=25, n_buckets=16)
    local = _stage_runs(spark, src, str(tmp_path / "s1"), **kw)
    assert sum(n for n, _ in local.values()) == 60
    assert _stage_runs(spark, src, "file://" + str(tmp_path / "s2"),
                       **kw) == local

    sink, jvm = str(tmp_path / "sink"), str(tmp_path / "jvm")
    append_batch(spark, src, sink, url_col="url", segment_docs=25)
    for name in ("postings_dir", "build_log_dir"):
        orig = getattr(IndexCatalog, name)
        monkeypatch.setattr(IndexCatalog, name,
                            lambda self, _o=orig: "file://" + _o(self))
    append_batch(spark, src, jvm, url_col="url", segment_docs=25)
    monkeypatch.undo()
    assert _docmap(spark, jvm) == _docmap(spark, sink)
    assert _postings(spark, jvm) == _postings(spark, sink)
    assert _build_log(spark, jvm) == _build_log(spark, sink)


def test_append_job_count(spark, pages, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, pages.limit(50), d, url_col="url", segment_docs=25)
    batch = spark.createDataFrame(pages_pdf(8, 100, 110), PAGES_SCHEMA)
    sc = spark.sparkContext
    group = "test-append-job-count"
    sc.setJobGroup(group, "append_batch onto a two-segment index")
    try:
        append_batch(spark, batch, d, url_col="url")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # bucket counts, stage 0, docmap write, pack (+ AQE's own) — the
    # docmap/postings writer threads' jobs carry the caller's group too
    assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= 8
