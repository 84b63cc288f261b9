"""Seeded input generator for the benchmark.

Everything here is numpy: a pseudo-word vocabulary, Zipfian token draws and
the planted duplicates are all vectorised, and nothing from
`pysearchlite_spark` is imported, so a change to the program cannot change
the inputs.  Each corpus is written as ONE parquet file with ONE row group,
the layout of the engine's real corpora.

A corpus row is (doc_id, url, text).  `plant` holds the generator's own
record of what it planted, keyed by doc_id:

    exact   copy id -> source id (byte-identical text)
    near    copy id -> source id (one token replaced)
    junk    ids of too-short pages (fewer than JUNK_MAX_TOKENS tokens)
    rep     ids of repetitive pages (a 5-token phrase looped)

For each planted pair the copy is the member with the LARGER id, because
the cleaning pipeline keeps the minimum id of a duplicate group.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from check import tokens

ZIPF_S = 1.0
VOCAB = 20_000
DOC_MIN_TOKENS, DOC_MAX_TOKENS = 40, 160
JUNK_MAX_TOKENS = 12            # quality threshold is min_n_tokens = 20
REP_PHRASE, REP_LOOPS = 5, (10, 15)

_CONS = list("bcdfghjklmnprstvwz") + ["ch", "sh", "th", "ph"]
_VOWS = ["a", "e", "i", "o", "u"]
_SYL = np.array([c + v for c in _CONS for v in _VOWS], dtype=object)  # 110


def vocabulary(rng: np.random.Generator, n: int = VOCAB) -> np.ndarray:
    """n distinct lowercase pseudo-words in a seed-dependent Zipf rank
    order.  Word i is i written in base len(_SYL) with syllables as digits,
    plus a length syllable, so every word is unique and ASCII-only."""
    base = len(_SYL)
    i = np.arange(n)
    words = _SYL[i % base] + _SYL[(i // base) % base]
    long_ = i >= base * base
    words[long_] = words[long_] + _SYL[(i[long_] // (base * base)) % base]
    return words[rng.permutation(n)]


class Zipf:
    """Finite-vocabulary Zipf sampler: P(rank r) proportional to 1/r^s."""

    def __init__(self, n: int, s: float = ZIPF_S) -> None:
        w = 1.0 / np.arange(1, n + 1) ** s
        self.cdf = np.cumsum(w) / w.sum()

    def draw(self, rng: np.random.Generator, size: int) -> np.ndarray:
        return np.minimum(np.searchsorted(self.cdf, rng.random(size)),
                          self.cdf.size - 1)


def render(rng: np.random.Generator, words: np.ndarray, ids: np.ndarray,
           lens: np.ndarray) -> list:
    """Token ids -> page texts.  Some tokens are capitalised and some are
    followed by punctuation, so the tokenizer's lowercasing and separator
    handling are exercised; the token sequence itself is exactly `ids`."""
    caps = np.char.capitalize(words.astype(str)).astype(object)
    toks = np.where(rng.random(ids.size) < 0.08, caps[ids], words[ids])
    u = rng.random(ids.size)
    seps = np.where(u < 0.06, ". ", np.where(u < 0.10, ", ", " "))
    seps = seps.astype(object)
    offs = np.concatenate(([0], np.cumsum(lens)))
    seps[offs[1:] - 1] = "."
    pieces = toks + seps
    return ["".join(pieces[offs[i]:offs[i + 1]]) for i in range(lens.size)]


def _draw_docs(rng, zipf, n, lo, hi):
    lens = rng.integers(lo, hi + 1, size=n)
    return zipf.draw(rng, int(lens.sum())), lens


def _split(ids, lens):
    offs = np.concatenate(([0], np.cumsum(lens)))
    return [ids[offs[i]:offs[i + 1]] for i in range(lens.size)]


def corpus(seed: int, n_docs: int, *, n_exact: int = 0, n_near: int = 0,
           n_junk: int = 0, n_rep: int = 0, url_prefix: str = "doc/",
           id_base: int = 0, words=None):
    """(pyarrow Table, plant dict).  `n_docs` counts the normal pages; the
    planted pages come on top."""
    rng = np.random.default_rng(seed)
    words = vocabulary(np.random.default_rng(seed)) if words is None \
        else words
    zipf = Zipf(words.size)
    ids, lens = _draw_docs(rng, zipf, n_docs, DOC_MIN_TOKENS, DOC_MAX_TOKENS)
    toks = _split(ids, lens)
    sources = rng.choice(n_docs, size=n_exact + n_near, replace=False)
    src = [-1] * n_docs + [int(s) for s in sources]
    kind = ["doc"] * n_docs + ["exact"] * n_exact + ["near"] * n_near
    for s in sources[n_exact:]:
        d = toks[s].copy()
        p = int(rng.integers(d.size))
        new = d[p]
        while new == d[p]:
            new = int(zipf.draw(rng, 1)[0])
        d[p] = new
        toks.append(d)
    jids, jlens = _draw_docs(rng, zipf, n_junk, 3, JUNK_MAX_TOKENS)
    toks += _split(jids, jlens)
    for _ in range(n_rep):
        phrase = zipf.draw(rng, REP_PHRASE)
        toks.append(np.tile(phrase, int(rng.integers(*REP_LOOPS))))
    kind += ["junk"] * n_junk + ["rep"] * n_rep
    src += [-1] * (n_junk + n_rep)
    texts = render(rng, words, np.concatenate(toks),
                   np.array([d.size for d in toks]))
    # exact copies repeat the rendered page byte for byte
    texts[n_docs:n_docs] = [texts[s] for s in sources[:n_exact]]

    n = len(texts)
    doc_id = rng.permutation(n).astype(np.int64) + id_base
    plant = {"exact": {}, "near": {}, "junk": [], "rep": []}
    for i in range(n):
        if kind[i] in ("exact", "near"):
            a, b = int(doc_id[i]), int(doc_id[src[i]])
            plant[kind[i]][max(a, b)] = min(a, b)
        elif kind[i] in ("junk", "rep"):
            plant[kind[i]].append(int(doc_id[i]))
    order = np.argsort(doc_id)
    table = pa.table({
        "doc_id": pa.array(doc_id[order], pa.int64()),
        "url": pa.array([f"{url_prefix}{i}" for i in doc_id[order]]),
        "text": pa.array([texts[i] for i in order]),
    })
    return table, plant


# term classes of the query mix, by document frequency df over N pages:
# head terms are the HEAD_POOL terms with df nearest N/2, mid terms the
# MID_POOL terms with df nearest N/50, tail terms have df in [1, 3] and
# absent terms df = 0.  Narrow pools keep the cost of each class the same
# from seed to seed, so a seed changes the words but not the work.  The
# pattern fixes the mix's make-up: six queries without a head term, five
# with one and six with several.  A latency median then falls inside the
# middle group instead of in the gap between the cheap and the expensive
# queries.
MIX = ["m", "t", "a", "mt", "ma", "mmta",
       "h", "hm", "hmt", "tmh", "hmmt",
       "hh", "hhm", "hht", "hhh", "hhmt", "hhhh"]
HEAD_POOL, MID_POOL = 6, 24


def query_mix(seed: int, texts, pattern=MIX, repeat: int = 1) -> list:
    """Seeded 1-4-term queries over the classes above, `repeat` times the
    pattern; df is counted from the text with the checker's tokens."""
    df = Counter()
    for t in texts:
        df.update(set(tokens(t)))
    n = len(texts)
    terms = np.array(sorted(df), dtype=object)
    dfs = np.array([df[t] for t in terms])

    def nearest(target, size):
        return terms[np.argsort(np.abs(dfs - target), kind="stable")[:size]]

    pools = {"h": nearest(n / 2, HEAD_POOL), "m": nearest(n / 50, MID_POOL),
             "t": terms[dfs <= 3]}
    rng = np.random.default_rng(seed + 7919)
    out = []
    for i, classes in enumerate(pattern * repeat):
        q = []
        for c in classes:
            if c == "a":
                q.append(f"zq{int(rng.integers(10**6))}x")
                continue
            term = str(rng.choice(pools[c]))
            while term in q:         # distinct terms: "hh" is two head terms
                term = str(rng.choice(pools[c]))
            q.append(term)
        if i % 5 == 0:          # the engine lowercases query terms too
            q[0] = q[0].upper()
        out.append(" ".join(q))
    return out


def write(table: pa.Table, path: str) -> None:
    """One file, one row group."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))

