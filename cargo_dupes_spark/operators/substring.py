"""Substring tier [X1-X3]: winnowed fingerprints + exact LCS verification.

The reference's third tier extracts sub-units (if-branches, match arms, loop
bodies; ``dupes-core/src/extractor.rs:18-133``), reindexes them context-free
(``node.rs:343-358``) and reruns exact matching. The webtext analog detects
**cross-document repeated substrings >= L chars**.

Candidate generation uses winnowing (Schleimer, Wilkerson & Aiken,
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03 — the
MOSS scheme): hash every k-gram, keep the minimum hash of every w-length
window. GUARANTEE: any common substring of length >= k + w - 1 shares at
least one selected fingerprint, so with k + w - 1 <= min_substring_len the
candidate stage has perfect recall. Selected fingerprints are position-
independent (the "reindex from offset 0" analog: a k-gram hashes the same
wherever it occurs). ``with_winnow_keys`` is the one place a document
becomes winnow keys: ``substring_candidates`` explodes them into buckets,
and the streaming substring tier probes its state with them.

Verification computes the exact longest-common-substring length per pair
(binary search over length with vectorized uint64 rolling hashes + literal
string confirmation on hash hits — no false positives). Each pair's two
texts attach through ``verify.reassemble_pairs``, the pair-reassembly shape
every verify step shares: the full document text crosses one exchange,
sized by the candidate set.

Scale shape: fingerprints explode to ~n_chars/w rows per doc (≈2% of
corpus chars at w=49), shuffle once on the 8-byte fingerprint, pair within
buckets (same cap/accounting as LSH), verify only candidates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PipelineConfig
from .verify import reassemble_pairs

_B = np.uint64(0x9E3779B97F4A7C15)  # odd => invertible mod 2^64
_B_INV = np.uint64(pow(int(_B), -1, 1 << 64))


def _kgram_hashes(data: np.ndarray, k: int) -> np.ndarray:
    """uint64 rolling hashes of all k-grams of a uint8 array (vectorized).

    H[i] = sum_j data[i+j] * B^(k-1-j)  (mod 2^64), computed from prefix
    sums of data[j] * B^(-j) — B odd makes B^-1 exist mod 2^64.
    """
    n = len(data)
    if n < k:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        idx = np.arange(n, dtype=np.uint64)
        inv_pows = np.empty(n, dtype=np.uint64)
        inv_pows[0] = np.uint64(1)
        np.cumprod(np.full(n - 1, _B_INV, dtype=np.uint64), out=inv_pows[1:])
        pows = np.empty(n, dtype=np.uint64)
        pows[0] = np.uint64(1)
        np.cumprod(np.full(n - 1, _B, dtype=np.uint64), out=pows[1:])
        weighted = data.astype(np.uint64) * inv_pows
        prefix = np.zeros(n + 1, dtype=np.uint64)
        np.cumsum(weighted, out=prefix[1:])
        window = prefix[k:] - prefix[:-k]  # wraps correctly mod 2^64
        h = window * pows[: n - k + 1] * pows[k - 1]
    return h


def winnow(text: str, k: int, w: int) -> np.ndarray:
    """Distinct selected fingerprints of one document (MOSS winnowing)."""
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    h = _kgram_hashes(data, k)
    if len(h) == 0:
        return np.empty(0, dtype=np.int64)
    if len(h) <= w:
        return np.unique(h.min(keepdims=True)).view(np.int64)
    windows = np.lib.stride_tricks.sliding_window_view(h, w)
    mins = windows.min(axis=1)
    return np.unique(mins).view(np.int64)


def winnow_udf(k: int, w: int):
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _winnow(texts: pd.Series) -> pd.Series:
        return pd.Series([winnow(t or "", k, w) for t in texts])

    return _winnow


def with_winnow_keys(docs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """docs (url, lang, norm_text, ...) -> the docs that can hold a
    qualifying repeat, plus ``band_keys`` = their winnowed fingerprints
    keyed xxhash64(lang, fph): the one rule that turns a document into its
    substring-tier bucket keys, shared by ``substring_candidates`` and the
    streaming substring tier.

    Docs shorter than min_substring_len can't contain a qualifying repeat
    and are gated out before the winnow UDF runs (the min_sub_nodes gate,
    X2). lang is folded into the key, so cross-lang pairs never co-locate."""
    fph = winnow_udf(cfg.winnow_kgram, cfg.winnow_window)(F.col("norm_text"))
    return docs.filter(
        F.length("norm_text") >= cfg.min_substring_len
    ).withColumn("band_keys", F.transform(fph, lambda h: F.xxhash64("lang", h)))


def substring_candidates(
    fingerprints: DataFrame,
    cfg: PipelineConfig,
    collect_flagged: bool = True,
) -> tuple[DataFrame, list[Row] | None]:
    """docs -> (candidate pairs tier='substring', flagged mega-buckets as
    returned by ``pairs_from_buckets``)."""
    from .lsh import pairs_from_buckets

    # pin the winnow keys: PASS 1 (mega-bucket sizing) and PASS 2 (pair
    # expansion) in pairs_from_buckets both traverse this plan, and without
    # the checkpoint the winnow UDF — the expensive per-char kernel — runs
    # over the whole corpus TWICE per invocation (guide §1.2: don't compute
    # things twice). Pinning BEFORE the explode also matters: the filter
    # Spark infers for explode(band_keys) (size > 0) would otherwise be
    # pushed below the projection and evaluate the UDF a second time. The
    # pinned rows are one key array per doc (~2% of corpus chars),
    # MEMORY_AND_DISK so oversized partitions spill rather than OOM.
    keys = with_winnow_keys(fingerprints, cfg).select(
        "url", "band_keys"
    ).localCheckpoint(eager=False)
    bucketed = keys.select(
        "url",
        F.lit(0).alias("band_id"),
        F.explode("band_keys").alias("band_key"),
    )
    return pairs_from_buckets(
        bucketed, cfg, "substring", urls=keys,
        collect_flagged=collect_flagged,
    )


# Verification: winnowing finds the candidates and a per-pair kernel
# verifies them — a global suffix array over the corpus would need an
# O(corpus) shuffle per doubling round. The generalized-suffix-array
# formulation is the kernel's test reference (tests/gsa_reference.py).


def _first_common_kgram(
    a: np.ndarray, b: np.ndarray, length: int
) -> tuple[int, int] | None:
    """Smallest i (plus one matching j) with a[i:i+length] == b[j:j+length],
    or None. Vectorized throughout: rolling hashes of every k-gram on both
    sides, sort+searchsorted to align them, then a LITERAL confirmation of
    the hash hit (no false positives at 64-bit collisions). The Python loop
    below runs once per *false* collision — i.e. effectively never; the
    first flagged (i, j) confirms immediately on real matches."""
    ha = _kgram_hashes(a, length)
    hb = _kgram_hashes(b, length)
    if len(ha) == 0 or len(hb) == 0:
        return None
    order = np.argsort(hb, kind="stable")
    hb_sorted = hb[order]
    lo = np.searchsorted(hb_sorted, ha, side="left")
    hi = np.searchsorted(hb_sorted, ha, side="right")
    for i in np.flatnonzero(lo < hi):  # ascending i
        for p in range(int(lo[i]), int(hi[i])):
            j = int(order[p])
            if np.array_equal(a[i : i + length], b[j : j + length]):
                return int(i), j
    return None


def _extend_match(a: np.ndarray, b: np.ndarray, i: int, j: int) -> int:
    """Length of the common run starting at a[i], b[j] (vectorized)."""
    n = min(len(a) - i, len(b) - j)
    diff = np.flatnonzero(a[i : i + n] != b[j : j + n])
    return int(diff[0]) if len(diff) else n


# lo+1 probes before the search falls back to bisection: each probe that
# succeeds jumps to the end of a whole common run, so real text converges
# in one or two; the cap bounds inputs built from many nested runs
_GALLOP_PROBES = 4


def longest_common_substring_span(
    sa_text: str, sb_text: str, min_len: int
) -> tuple[int, int, int]:
    """(lcs_len, pos_a, pos_b) of the longest common substring, or (0,0,0)
    if shorter than min_len. Positions are CHARACTER offsets (the kernel
    runs over code points, not utf-8 bytes) of the FIRST occurrence in each
    text — deterministic and equal to SQL strpos()-1, so the spans are
    oracle-checkable. Analog of the reference's member line ranges
    (dupes-core/src/code_unit.rs:41-55).

    Kernel: a search over the length with the vectorized rolling-hash
    matcher (_first_common_kgram) — O(n log n) numpy work per probe,
    replacing the per-pair pure-Python Kasai LCP loop whose interpreter
    constant made the verify stage ~2x the whole substring query (round-2
    bench). Every witness found is extended greedily to the end of its
    common run, which raises the lower bound past the probed length; the
    search then probes lo+1 (galloping), so a pair whose earliest long-
    enough match IS its longest (the common case: one shared span) costs
    two probes instead of a full bisection's log2(n). After
    _GALLOP_PROBES probes it bisects. The GSA formulation (suffix array +
    LCP, tests/gsa_reference.py) is the reference implementation it is
    cross-checked against in tests/test_substring.py.

    Among equal-length longest substrings the one whose first occurrence
    in `sa_text` is earliest wins; pos_b is the first occurrence in
    `sb_text` of that exact substring. The final witness already is that
    earliest one: it is the smallest i matching the last successful probe
    length p <= lcs_len, and any i matching lcs_len also matches p."""
    la, lb = len(sa_text), len(sb_text)
    if min(la, lb) < min_len or min_len <= 0:
        return 0, 0, 0
    a = np.frombuffer(sa_text.encode("utf-32-le"), dtype=np.uint32)
    b = np.frombuffer(sb_text.encode("utf-32-le"), dtype=np.uint32)
    best = _first_common_kgram(a, b, min_len)
    if best is None:
        return 0, 0, 0
    # invariant: a common substring of length lo exists, witnessed by best
    lo, hi = _extend_match(a, b, *best), min(la, lb)
    probes = 0
    while lo < hi:
        mid = lo + 1 if probes < _GALLOP_PROBES else (lo + hi + 1) // 2
        probes += 1
        m = _first_common_kgram(a, b, mid)
        if m is None:
            hi = mid - 1
        else:
            best, lo = m, _extend_match(a, b, *m)
    start = best[0]
    sub = sa_text[start : start + lo]
    return lo, start, sb_text.find(sub)


_SPAN_RESULT = T.StructType(
    [
        T.StructField("lcs_len", T.LongType()),
        T.StructField("span_a_start", T.LongType()),
        T.StructField("span_b_start", T.LongType()),
    ]
)


def verify_substring_pairs(
    pairs: DataFrame, fingerprints: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Candidate pairs -> verified substring edges WITH span offsets.

    The vectorized rolling-hash binary search (longest_common_substring_span;
    GSA-equivalent in length, see the block comment above) yields the exact
    longest common substring and its first-occurrence character offsets in
    both texts — the analog of the reference's member line ranges
    (dupes-core/src/code_unit.rs:41-55,
    SURVEY X3 span_a/span_b). similarity := lcs_len / min(len_a, len_b) in
    CHARACTERS — 1.0 means full containment (doc B inside doc A), the shape
    of the reference's sub-unit duplicates. Spans are half-open char ranges
    [start, end) into norm_text.
    """
    # single-shuffle text reassembly (verify.reassemble_pairs): norm_text
    # is the heaviest payload in the whole pipeline — the former two
    # aliased joins scanned fingerprints twice and moved the full document
    # text through two exchanges. The reassembly width is pinned there:
    # the LCS kernel downstream is CPU-dense, and AQE's byte-based
    # coalescing was serializing it onto one task at bench scale.
    joined = reassemble_pairs(
        pairs,
        fingerprints,
        ["norm_text"],
        site="verify_substring_pairs(fingerprints)",
    )
    min_len = cfg.min_substring_len

    @F.pandas_udf(_SPAN_RESULT)
    def _lcs_span(ta: pd.Series, tb: pd.Series) -> pd.DataFrame:
        out = []
        for sa, sb in zip(ta, tb):
            out.append(longest_common_substring_span(sa or "", sb or "", min_len))
        return pd.DataFrame(
            out, columns=["lcs_len", "span_a_start", "span_b_start"]
        )

    return (
        joined.withColumn("_s", _lcs_span("norm_text_a", "norm_text_b"))
        .filter(F.col("_s.lcs_len") > 0)
        .select(
            "url_a",
            "url_b",
            "tier",
            (
                F.col("_s.lcs_len")
                / F.least(F.length("norm_text_a"), F.length("norm_text_b"))
            ).alias("similarity"),
            F.col("_s.span_a_start").alias("span_a_start"),
            (F.col("_s.span_a_start") + F.col("_s.lcs_len")).alias("span_a_end"),
            F.col("_s.span_b_start").alias("span_b_start"),
            (F.col("_s.span_b_start") + F.col("_s.lcs_len")).alias("span_b_end"),
        )
    )
