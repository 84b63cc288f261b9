"""Positional postings + exact-phrase queries.

The reference has no phrase operator (do_query.py:9-24 is COUNT/TOP_10
boolean AND) — this is the standard positional-index extension. The
oracle here is brute force: tokenize with the reference tokenizer
(ASCII runs, lowercased) and check for the consecutive subsequence.
"""

import random
import re

import numpy as np
import pytest

from pysearchlite_spark import codec
from pysearchlite_spark.engine import SearchIndex
from pysearchlite_spark.plans.builder import build_index


def _toks(text):
    return [t.lower() for t in re.findall(r"[a-zA-Z0-9]+", text)]


def _brute_phrase(corpus, phrase):
    pt = _toks(phrase)
    L = len(pt)
    out = []
    for name, text in corpus:
        toks = _toks(text)
        if any(toks[i:i + L] == pt for i in range(len(toks) - L + 1)):
            out.append(name)
    return out


# --------------------------------------------------------------- codec ----

def _rand_lists(rng, n_rows, max_docs=400):
    rows = []
    for _ in range(n_rows):
        df = rng.randint(1, max_docs)
        docs = np.array(sorted(rng.sample(range(10_000), df)), dtype=np.int64)
        tfs = np.array([rng.randint(1, 5) for _ in range(df)], dtype=np.int64)
        dls = np.array([rng.randint(1, 100) for _ in range(df)],
                       dtype=np.int64)
        # ascending in-doc positions per doc
        pos = np.concatenate([
            np.array(sorted(rng.sample(range(500), int(t))), dtype=np.int64)
            for t in tfs])
        rows.append((docs, tfs, dls, pos))
    return rows


@pytest.mark.parametrize("shuffle_rows", [False, True])
def test_pack_flat_positions_roundtrip(shuffle_rows):
    rng = random.Random(11 + shuffle_rows)
    rows = _rand_lists(rng, 13)
    if shuffle_rows:
        # scramble docID order inside each row to force the lexsort path;
        # each doc's position run must follow its doc through the sort
        scrambled = []
        for docs, tfs, dls, pos in rows:
            perm = rng.sample(range(docs.size), docs.size)
            occ = np.concatenate(([0], np.cumsum(tfs)))
            pos_perm = np.concatenate([pos[occ[j]:occ[j + 1]] for j in perm])
            scrambled.append((docs[perm], tfs[perm], dls[perm], pos_perm))
        packed_rows = scrambled
    else:
        packed_rows = rows
    row_lens = np.array([r[0].size for r in packed_rows], dtype=np.int64)
    pf = codec.pack_flat(
        np.concatenate([r[0] for r in packed_rows]),
        np.concatenate([r[1] for r in packed_rows]),
        np.concatenate([r[2] for r in packed_rows]),
        row_lens, avgdl=10.0,
        pos=np.concatenate([r[3] for r in packed_rows]))
    assert pf.enc_pos is not None
    for i, (docs, tfs, dls, pos) in enumerate(rows):  # canonical order
        lo, hi = pf.row_pos_offs[i], pf.row_pos_offs[i + 1]
        got = codec.unpack_positions(bytes(pf.enc_pos[lo:hi]), tfs)
        np.testing.assert_array_equal(got, pos)


def test_block_positions_align_with_skip_blocks():
    rng = random.Random(5)
    (docs, tfs, dls, pos), = _rand_lists(rng, 1, max_docs=400)
    df = docs.size
    pf = codec.pack_flat(docs, tfs, dls,
                         np.array([df], dtype=np.int64), 10.0, pos=pos)
    occ = np.concatenate(([0], np.cumsum(tfs)))
    nblocks = pf.first_docs.size
    assert nblocks > 1  # need a multi-block row to prove alignment
    for b in range(nblocks):
        lo, hi = b * 128, min((b + 1) * 128, df)
        tfs_b = codec.unpack_block_stream(
            bytes(pf.enc_tfs), pf.blk_tf_offs, df, b).astype(np.int64)
        np.testing.assert_array_equal(tfs_b, tfs[lo:hi])
        got = codec.unpack_block_positions(
            bytes(pf.enc_pos), pf.blk_pos_offs, tfs_b, b)
        np.testing.assert_array_equal(got, pos[occ[lo]:occ[hi]])


# ------------------------------------------------------------- engine ----

VOCAB = ["the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
         "cat", "runs", "data", "spark"]


@pytest.fixture(scope="module")
def phrase_corpus():
    rng = random.Random(42)
    docs = [(f"d{i:04d}", " ".join(rng.choices(VOCAB, k=rng.randint(1, 50))))
            for i in range(300)]
    docs += [("planted1", "zzz the quick brown fox zzz"),
             ("planted2", "the quick brown cat, The Quick Brown Fox!"),
             ("notadj", "quick the brown fox"),
             ("dupterm", "dog the dog the dog")]
    return docs


@pytest.fixture(scope="module")
def phrase_idx(spark, tmp_path_factory, phrase_corpus):
    d = tmp_path_factory.mktemp("phrase_idx")
    df = spark.createDataFrame(
        [(i, n, t) for i, (n, t) in enumerate(phrase_corpus)],
        "doc_id long, url string, text string")
    build_index(spark, df, str(d), id_col="doc_id", url_col="url",
                segment_docs=64, with_positions=True)
    return SearchIndex(spark, str(d))


PHRASES = ["the quick brown fox", "quick brown", "dog the dog", "the",
           "fox jumps over", "zzz zzz", "the quick brown cat",
           "lazy dog runs", "missing phrase entirely", "dog the dog the dog"]


def test_phrase_vs_brute(phrase_idx, phrase_corpus):
    for q in PHRASES:
        want = sorted(_brute_phrase(phrase_corpus, q))
        assert sorted(phrase_idx.search_phrase(q)) == want, q
        assert phrase_idx.count_phrase(q) == len(want), q


def test_phrase_distributed_and_search_df(phrase_idx, phrase_corpus):
    for q in PHRASES[:6]:
        want = sorted(_brute_phrase(phrase_corpus, q))
        assert sorted(phrase_idx.search_phrase(q, distributed=True)) == want
        assert phrase_idx.count_phrase(q, distributed=True) == len(want)
        got = sorted(r["url"] for r in
                     phrase_idx.search_df(q, mode="phrase").collect())
        assert got == want


def test_positionality_cannot_flip_in_place(spark, tmp_path_factory):
    from pysearchlite_spark.streaming.ingest import append_batch
    d = tmp_path_factory.mktemp("flip_idx")
    df = spark.createDataFrame([(0, "a", "x y z")],
                               "doc_id long, url string, text string")
    build_index(spark, df, str(d), id_col="doc_id", url_col="url")
    # rebuild with the flag flipped → refuse (would recommit position-free
    # segments under has_positions=True and crash phrase decode later)
    with pytest.raises(ValueError, match="has_positions"):
        build_index(spark, df, str(d), id_col="doc_id", url_col="url",
                    with_positions=True)
    # explicit positional append onto a non-positional index → refuse
    # (silent downgrade of the caller's request otherwise)
    batch = spark.createDataFrame([("b", "x y")], "url string, text string")
    with pytest.raises(ValueError, match="without positions"):
        append_batch(spark, batch, str(d), batch_id=1, with_positions=True)


def test_phrase_needs_positional_index(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("nopos_idx")
    df = spark.createDataFrame([(0, "a", "x y z")],
                               "doc_id long, url string, text string")
    build_index(spark, df, str(d), id_col="doc_id", url_col="url")
    si = SearchIndex(spark, str(d))
    with pytest.raises(ValueError, match="positional"):
        si.search_phrase("x y")
    # boolean queries on the same index untouched
    assert si.search("x z") == ["a"]


def test_phrase_after_delete_and_compaction(spark, tmp_path_factory,
                                            phrase_corpus):
    from pysearchlite_spark.plans.compaction import compact_segments
    from pysearchlite_spark.plans.deletes import delete_docs
    d = tmp_path_factory.mktemp("phrase_del")
    df = spark.createDataFrame(
        [(i, n, t) for i, (n, t) in enumerate(phrase_corpus)],
        "doc_id long, url string, text string")
    build_index(spark, df, str(d), id_col="doc_id", url_col="url",
                segment_docs=64, with_positions=True)
    # delete one planted match of "the quick brown fox"
    planted1 = next(i for i, (n, _) in enumerate(phrase_corpus)
                    if n == "planted1")
    delete_docs(spark, str(d), [planted1])
    si = SearchIndex(spark, str(d))
    corpus_after = [nt for i, nt in enumerate(phrase_corpus) if i != planted1]
    for q in ["the quick brown fox", "quick brown", "dog the dog"]:
        want = sorted(_brute_phrase(corpus_after, q))
        assert sorted(si.search_phrase(q)) == want, q
        assert sorted(si.search_phrase(q, distributed=True)) == want, q
    # compaction applies the tombstones and REWRITES position streams
    compact_segments(spark, str(d), group_size=100)
    si2 = SearchIndex(spark, str(d))
    assert si2.stats.get("has_positions") is True
    for q in PHRASES:
        want = sorted(_brute_phrase(corpus_after, q))
        assert sorted(si2.search_phrase(q)) == want, q


def test_phrase_streaming_append_inherits_positions(spark, tmp_path_factory,
                                                    phrase_corpus):
    from pysearchlite_spark.streaming.ingest import append_batch
    d = tmp_path_factory.mktemp("phrase_append")
    df = spark.createDataFrame(phrase_corpus[:100], "url string, text string")
    append_batch(spark, df, str(d), segment_docs=64, batch_id=0,
                 with_positions=True)
    # second batch does NOT pass the flag: positionality is pinned by stats
    df2 = spark.createDataFrame(phrase_corpus[100:], "url string, text string")
    append_batch(spark, df2, str(d), segment_docs=64, batch_id=1)
    si = SearchIndex(spark, str(d))
    assert si.stats.get("has_positions") is True
    for q in PHRASES:
        want = sorted(_brute_phrase(phrase_corpus, q))
        assert sorted(si.search_phrase(q)) == want, q


def test_phrase_preload_warm_path(spark, tmp_path_factory, phrase_corpus):
    d = tmp_path_factory.mktemp("phrase_warm")
    df = spark.createDataFrame(
        [(i, n, t) for i, (n, t) in enumerate(phrase_corpus)],
        "doc_id long, url string, text string")
    build_index(spark, df, str(d), id_col="doc_id", url_col="url",
                segment_docs=64, with_positions=True)
    si = SearchIndex(spark, str(d))
    # plain preload: phrase path must NOT trust the position-free cache
    si.preload()
    assert si._cache_has_pos is False
    for q in PHRASES[:4]:
        want = sorted(_brute_phrase(phrase_corpus, q))
        assert sorted(si.search_phrase(q)) == want, q
    # positional preload resets to one coherent positional frame; phrase
    # AND boolean queries now both run warm off it
    si.preload(with_positions=True)
    assert si._cache_has_pos is True
    for q in PHRASES:
        want = sorted(_brute_phrase(phrase_corpus, q))
        got = si.search_phrase_ids(q)
        assert sorted(si._urls_for_ids(got)) == want, q
    assert si.search("quick fox")  # boolean off the positional cache
    # guard: positional preload needs a positional index
    d2 = tmp_path_factory.mktemp("phrase_warm_nopos")
    build_index(spark, df, str(d2), id_col="doc_id", url_col="url",
                segment_docs=64)
    si2 = SearchIndex(spark, str(d2))
    with pytest.raises(ValueError, match="positional"):
        si2.preload(with_positions=True)


def test_phrase_random_property(spark, phrase_idx, phrase_corpus):
    """Random phrases sampled FROM documents (guaranteed non-trivial hits)
    plus random vocab phrases, vs brute force."""
    rng = random.Random(7)
    queries = []
    for _ in range(15):
        _, text = phrase_corpus[rng.randrange(len(phrase_corpus))]
        toks = _toks(text)
        if len(toks) < 2:
            continue
        k = rng.randint(2, min(5, len(toks)))
        s = rng.randrange(len(toks) - k + 1)
        queries.append(" ".join(toks[s:s + k]))
    queries += [" ".join(rng.choices(VOCAB, k=rng.randint(2, 4)))
                for _ in range(10)]
    for q in queries:
        want = sorted(_brute_phrase(phrase_corpus, q))
        assert sorted(phrase_idx.search_phrase(q)) == want, q


def test_phrase_auto_routes_agree(phrase_idx, monkeypatch):
    """'auto' must return the same ids whichever side its probe picks:
    force the auto probe down both routes and compare with the explicit
    paths."""
    import numpy as np
    q = "the quick brown fox"
    want = phrase_idx.search_phrase_ids(q, distributed=False)
    # auto with a tiny corpus floor + tiny dist threshold -> probe fires
    # and (total df > 0) picks distributed
    monkeypatch.setenv("PSL_PHRASE_AUTO_MIN_DOCS", "0")
    monkeypatch.setenv("PSL_PHRASE_AUTO_DIST_MIN", "0")
    assert np.array_equal(phrase_idx.search_phrase_ids(q, distributed="auto"),
                          want)
    # probe fires and a huge threshold keeps it on the driver
    monkeypatch.setenv("PSL_PHRASE_AUTO_DIST_MIN", "10000000000")
    assert np.array_equal(phrase_idx.search_phrase_ids(q, distributed="auto"),
                          want)
    wantn = phrase_idx.search_near_ids(q, 2, distributed=False, in_order=False)
    monkeypatch.setenv("PSL_PHRASE_AUTO_DIST_MIN", "0")
    assert np.array_equal(
        phrase_idx.search_near_ids(q, 2, distributed="auto", in_order=False),
        wantn)
