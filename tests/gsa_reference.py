"""Generalized suffix array (GSA): the reference implementation of the
substring tier's verification kernel.

The GSA is the BASELINE.json north_star's named structure. The distributed
shape is winnowing-for-candidates + per-pair verification instead, because
a GLOBAL suffix array over 100 TB of text cannot be built without an
O(corpus) shuffle per doubling round (log n rounds over every character),
while winnowed fingerprints shuffle ~2 % of corpus chars ONCE and
verification runs on co-located candidate texts only (BASELINE.md).

``suffix_array`` + ``lcp_array`` are the GSA reference implementation of
that verification; the HOT PATH (``verify_substring_pairs``) uses the
vectorized rolling-hash search instead
(``operators/substring.longest_common_substring_span``) — same LENGTH
always; when several distinct longest substrings tie, the kernel
deterministically reports the span of the earliest occurrence in text a
(the GSA argmaxes over suffix-array order and can pick a different tied
span), with no per-char interpreter loop (Kasai's h-counter walk cost
~100x a numpy kernel per pair). test_substring.py and
test_property_kernels.py pin the two implementations against each other
and against an O(nm) DP oracle.
"""

from __future__ import annotations

import numpy as np

from cargo_dupes_spark.operators.substring import longest_common_substring_span


def suffix_array(arr: np.ndarray) -> np.ndarray:
    """Suffix array of an int array — Manber-Myers doubling, O(n log² n),
    fully vectorized (lexsort per doubling round)."""
    n = len(arr)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    rank = np.unique(arr, return_inverse=True)[1].astype(np.int64)
    k = 1
    order = np.argsort(rank, kind="stable")
    while True:
        rank2 = np.full(n, -1, dtype=np.int64)
        rank2[: n - k] = rank[k:]
        order = np.lexsort((rank2, rank))
        changed = (rank[order[1:]] != rank[order[:-1]]) | (
            rank2[order[1:]] != rank2[order[:-1]]
        )
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[order] = np.concatenate(([0], np.cumsum(changed)))
        rank = new_rank
        if rank[order[-1]] == n - 1:
            return order
        k *= 2


def lcp_array(arr: np.ndarray, sa: np.ndarray) -> np.ndarray:
    """Kasai LCP: lcp[i] = |common prefix of suffixes sa[i-1], sa[i]|.
    O(n) total work (the h counter only grows n times)."""
    n = len(arr)
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    lcp = np.zeros(n, dtype=np.int64)
    h = 0
    for i in range(n):
        r = rank[i]
        if r > 0:
            j = sa[r - 1]
            while i + h < n and j + h < n and arr[i + h] == arr[j + h]:
                h += 1
            lcp[r] = h
            if h:
                h -= 1
        else:
            h = 0
    return lcp


def longest_common_substring_len(sa: str, sb: str, min_len: int) -> int:
    """Exact LCS length (in code points) if >= min_len else 0 — the
    length of ``longest_common_substring_span``."""
    return longest_common_substring_span(sa, sb, min_len)[0]
