"""Tokenization with exact pysearchlite semantics.

Reference: /root/reference/pysearchlite/tokenize.py:3-7 — tokens are maximal
ASCII ``[A-Za-z0-9]+`` runs, lowercased; every other byte (unicode letters,
punctuation, whitespace) is a separator and is dropped.

The SAME compiled regex drives both the single-node oracle and the Spark-side
pandas UDF, so tokenizer parity is by construction (SURVEY.md §7.5:
Spark-native regex classes can differ on unicode, so we never use them for
tokenization — only the vectorized pandas path below).
"""

from __future__ import annotations

import re
from typing import List

import numpy as np
import pandas as pd

# ASCII-exact by construction: the class enumerates byte ranges, so Python's
# unicode-aware `re` cannot widen it (no \w, no re.UNICODE effect).
ASCII_TOKEN = re.compile(r"[A-Za-z0-9]+")


def normalized_tokens(s: str) -> List[str]:
    """Exact reference semantics (tokenize.py:6-7): findall + lower, order
    preserved, duplicates preserved."""
    return [t.lower() for t in ASCII_TOKEN.findall(s)]


def tokens_series(texts: pd.Series) -> pd.Series:
    """Vectorized tokenizer over a pandas string Series → Series of lists.

    Order of operations matters for parity: the reference matches ASCII runs
    on the ORIGINAL string and lowercases each match (tokenize.py:6-7).
    Lowercasing the whole string first would create spurious matches for
    unicode chars whose lower() contains ASCII (e.g. 'K' U+212A → 'k',
    'İ' U+0130 → 'i' + U+0307), so: findall first, then lowercase the
    matches. The matches are pure [A-Za-z0-9], so joining them with NUL and
    lowering the joined string is an exact, fully vectorized equivalent of
    per-token .lower().
    """
    matches = texts.fillna("").str.findall(ASCII_TOKEN)
    joined = matches.str.join("\x00").str.lower()
    out = joined.str.split("\x00")
    empty = joined.eq("")
    if empty.any():
        # "" splits to [""] — restore the true empty token list.
        out = out.copy()
        out[empty] = pd.Series([[] for _ in range(int(empty.sum()))],
                               index=out.index[empty])
    return out



def tf_series(texts: pd.Series):
    """Vectorized per-doc term frequencies.

    Returns (terms, tfs, doc_lens): for each input row, the DISTINCT tokens,
    their counts, and the total token count. One factorize over the
    flattened (row, token) pairs — C-speed, no per-row Python loops."""
    flat, lens = flat_tokens(texts)
    n = len(texts)
    if n == 0 or flat.size == 0:
        empty_s = pd.Series([[] for _ in range(n)], index=texts.index)
        empty_i = pd.Series([[] for _ in range(n)], index=texts.index)
        return empty_s, empty_i, pd.Series(lens, index=texts.index)
    out_rows, out_codes, counts, uniques = _tf_flat(flat, lens, n)
    # out_rows is non-decreasing (see _tf_flat): slice per row
    bounds = np.searchsorted(out_rows, np.arange(n + 1))
    per_row_terms = uniques[out_codes]
    return (pd.Series([per_row_terms[s:e] for s, e in
                       zip(bounds[:-1], bounds[1:])], index=texts.index),
            pd.Series([counts[s:e] for s, e in zip(bounds[:-1], bounds[1:])],
                      index=texts.index),
            pd.Series(lens, index=texts.index))


def flat_tokens(texts: pd.Series):
    """Flat tokenization for batch consumers: ONE object array of all
    tokens (row-major) + per-row token counts.

    The lowercase+split runs over a SINGLE joined string for the whole
    batch instead of one str_map pass per row — findall is the only
    unavoidable per-row regex pass. Profiled: the per-row join/lower/split
    trio cost as much as the findall itself on web-page batches."""
    from itertools import chain
    matches = texts.fillna("").str.findall(ASCII_TOKEN)
    n = len(texts)
    lens = np.fromiter((len(m) for m in matches), dtype=np.int64, count=n)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=object), lens
    big = "\x00".join(chain.from_iterable(matches)).lower()
    flat = np.array(big.split("\x00"), dtype=object)
    return flat, lens


def occurrence_codes(texts: pd.Series):
    """(occ_rows, codes, uniques, lens): one entry per token OCCURRENCE in
    row-major order — the raw material for tf counting and inversion.
    occ_rows is non-decreasing by construction."""
    flat, lens = flat_tokens(texts)
    n = len(texts)
    if flat.size == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=object), lens
    rows = np.repeat(np.arange(n, dtype=np.int64), lens)
    codes, uniques = pd.factorize(flat)
    return rows, codes, np.asarray(uniques, dtype=object), lens


def _tf_flat(flat: np.ndarray, lens: np.ndarray, n: int):
    """Flat (row, term) pair counts over flat_tokens output.

    Returns (out_rows, out_codes, counts, uniques): one entry per DISTINCT
    (row, token) pair — the row index, the token's code into `uniques`, and
    its in-row frequency. NO sort anywhere: the flattened tokens are in
    row-major order, so the combined keys' FIRST OCCURRENCES are already
    grouped by row and `out_rows` is non-decreasing. (A previous
    np.unique(key, return_counts=True) version sorted the full occurrence
    array and was the single most expensive line of the build.)"""
    rows = np.repeat(np.arange(n, dtype=np.int64), lens)
    codes, uniques = pd.factorize(flat)
    key = rows * np.int64(len(uniques)) + codes
    kcodes, uniq_keys = pd.factorize(key)
    counts = np.bincount(kcodes)
    out_rows = uniq_keys // len(uniques)
    out_codes = uniq_keys % len(uniques)
    return out_rows, out_codes, counts, np.asarray(uniques, dtype=object)


def query_terms(query: str, dedup: bool = True) -> List[str]:
    """Tokenize a query string. The reference keeps duplicate query terms and
    intersects a list with itself (SURVEY.md §2.3) — idempotent, so deduping
    (first-occurrence order preserved) is semantics-preserving and cheaper."""
    toks = normalized_tokens(query)
    if not dedup:
        return toks
    return list(dict.fromkeys(toks))
