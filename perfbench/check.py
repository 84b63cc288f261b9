"""Independent checker: the expected outputs, computed from the generated
text alone.

Nothing here imports the engine, its codec, `pysearchlite_spark.oracle` or
any other part of the program.  Tokens are `[A-Za-z0-9]+` runs, lowercased;
BM25 uses k1 = 1.2, b = 0.75 and idf = ln(1 + (N - df + 0.5)/(df + 0.5));
ties break by the documented doc-id order (ascending id; pages appended
later sort after every earlier page, and inside one appended batch by
(crc32(url) % 256, url)).
"""

from __future__ import annotations

import math
import re
import zlib
from collections import defaultdict

import numpy as np

TOKEN = re.compile(r"[A-Za-z0-9]+")
K1, B = 1.2, 0.75
TIE = 1e-9


def tokens(text: str) -> list:
    return [t.lower() for t in TOKEN.findall(text)]


def url_order(url: str) -> tuple:
    """Order of pages inside one appended batch."""
    return (zlib.crc32(url.encode("utf-8")) % 256, url)


class Corpus:
    """Term statistics of a set of pages.  `keys` name the pages (doc ids or
    urls), `order` ranks them for tie-breaks, `live` masks deleted pages
    out of results while `stats_live` says which pages the statistics
    (N, avgdl, df) count."""

    def __init__(self, keys, texts, order=None) -> None:
        self.keys = list(keys)
        self.index = {k: i for i, k in enumerate(self.keys)}
        n = len(self.keys)
        self.order = np.arange(n) if order is None else np.asarray(order)
        post = defaultdict(lambda: ([], []))
        self.dl = np.zeros(n, dtype=np.int64)
        for i, text in enumerate(texts):
            toks = tokens(text)
            self.dl[i] = len(toks)
            u, c = np.unique(np.asarray(toks, dtype=object),
                             return_counts=True) if toks else ((), ())
            for t, f in zip(u, c):
                post[t][0].append(i)
                post[t][1].append(int(f))
        self.post = {t: (np.asarray(d, np.int64), np.asarray(f, np.float64))
                     for t, (d, f) in post.items()}
        self.live = np.ones(n, dtype=bool)
        self.stats_live = np.ones(n, dtype=bool)

    # ---- corpus statistics ------------------------------------------
    def n_docs(self) -> int:
        return int(self.stats_live.sum())

    def avgdl(self) -> float:
        return float(self.dl[self.stats_live].mean())

    def df(self, term: str) -> int:
        d = self.post.get(term)
        return 0 if d is None else int(self.stats_live[d[0]].sum())

    def sum_df(self) -> int:
        return sum(self.df(t) for t in self.post)

    # ---- queries ----------------------------------------------------
    def and_count(self, terms) -> int:
        hit = self.live.copy()
        for t in terms:
            m = np.zeros_like(hit)
            d = self.post.get(t)
            if d is not None:
                m[d[0]] = True
            hit &= m
        return int(hit.sum())

    def scores(self, terms) -> np.ndarray:
        """BM25 OR scores of every page (0 where no term matches)."""
        n, avgdl = self.n_docs(), self.avgdl()
        s = np.zeros(len(self.keys))
        for t in terms:
            d = self.post.get(t)
            df = self.df(t)
            if d is None or df == 0:
                continue
            docs, tf = d
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            dl = self.dl[docs].astype(np.float64)
            s[docs] += idf * tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * dl / avgdl))
        return s

    def matched(self, terms) -> np.ndarray:
        m = np.zeros(len(self.keys), dtype=bool)
        for t in terms:
            d = self.post.get(t)
            if d is not None:
                m[d[0]] = True
        return m & self.live

    def topk(self, terms, k: int = 10, allowed=None) -> list:
        """[(key, score)] by score desc, then doc order."""
        s = self.scores(terms)
        m = self.matched(terms)
        if allowed is not None:
            m &= allowed
        idx = np.flatnonzero(m)
        top = idx[np.lexsort((self.order[idx], -s[idx]))][:k]
        return [(self.keys[i], float(s[i])) for i in top]

    def same_topk(self, got, terms, k: int = 10, allowed=None) -> bool:
        """`got` [(key, score)] equals the expected top-k: the same scores
        position by position within TIE, and the same pages except where two
        pages' scores lie within TIE of each other (a float near-tie the
        engine may order either way)."""
        want = self.topk(terms, k, allowed)
        if len(got) != len(want):
            return False
        s = self.scores(terms)
        ok_set = self.matched(terms) if allowed is None \
            else self.matched(terms) & allowed
        keys = [g[0] for g in got]
        if len(set(keys)) != len(keys):
            return False
        for (gk, gs), (wk, ws) in zip(got, want):
            i = self.index.get(gk)
            if i is None or not ok_set[i] or abs(gs - ws) > TIE \
                    or abs(s[i] - gs) > TIE:
                return False
            if gk != wk and abs(s[i] - ws) > TIE:
                return False
        return True


# ---- cleaning expectations -------------------------------------------

def shingles(text: str, k: int = 3) -> set:
    t = tokens(text)
    if len(t) < k:
        return {tuple(t)}
    return {tuple(t[i:i + k]) for i in range(len(t) - k + 1)}


def jaccard(a: str, b: str) -> float:
    x, y = shingles(a), shingles(b)
    return len(x & y) / len(x | y) if x | y else 0.0


def dup_ngram_frac(text: str, n: int = 5) -> float:
    t = tokens(text)
    grams = [tuple(t[i:i + n]) for i in range(len(t) - n + 1)]
    return 1.0 - len(set(grams)) / len(grams) if grams else 0.0


def expected_cleaning(ids, texts, *, min_tokens: int, max_dup5: float):
    """Survivors of each stage as the method defines it: quality keeps
    pages with at least `min_tokens` tokens, repetition keeps pages whose
    duplicate 5-gram fraction is at most `max_dup5`, exact dedup keeps the
    minimum id per byte-identical text."""
    text_of = dict(zip(ids, texts))
    quality = {i for i in ids if len(tokens(text_of[i])) >= min_tokens}
    rep = {i for i in quality if dup_ngram_frac(text_of[i]) <= max_dup5}
    first = {}
    for i in sorted(rep):
        first.setdefault(text_of[i], i)
    exact = set(first.values())
    return {"quality": quality, "repetition": rep, "exact_dedup": exact}
