"""Candidate verification [J4/J5] — exact Jaccard on shingle sets.

The reference verifies candidates with an exact Dice tree-compare
(``dupes-core/src/similarity.rs:13-46``); here candidates are verified with
EXACT Jaccard over distinct shingle arrays (not the MinHash estimate — the
recall gate requires the verify step to never drop a true pair,
SURVEY §7.4 risk 2). Dice and Jaccard are monotone-related (D = 2J/(1+J)).

Implementation is fully JVM-side and shuffles the heavy shingle payload
ONCE. The previous shape (two aliased joins pulling each side's signatures)
scanned the signatures table twice and moved the shingle-array mass through
two exchanges — the measured cause of the verify stage scaling only 1.4-1.9x
from 2->8 cores (DRAM-bound; VERDICT r3 #1). Now ``reassemble_pairs``:

  1. candidate pairs explode to two light rows (pair key, nid, side) —
     ~130 B/row, no arrays, so AQE can broadcast them outright;
  2. ONE inner join pulls signatures (single scan, single exchange at most);
  3. a groupBy on the pair key reassembles (shingles_a, shingles_b) —
     the only exchange that carries arrays, sized by the candidate set
     (pairs << corpus at scale), not by the corpus.

That helper is the package's ONE pair-reassembly shape: the substring
verify (norm_text), the ANN re-rank (vectors) and, through these verify
calls, the streaming near/substring tiers all attach payloads with it.

SimHash-tier candidates get a cheap bit_count(xor) Hamming prefilter before
the Jaccard check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..contracts import assert_unique_ids
from ..functions.shingles import jaccard_col
from ..functions.simhash import hamming_col


def reassembly_partitions(df: DataFrame) -> int:
    """Partition count for the pair-reassembly exchange of
    ``reassemble_pairs``: the session's configured shuffle width — what a
    non-AQE plan would use. The reassembly groupBy
    feeds CPU-DENSE work (exact Jaccard over shingle arrays, the LCS
    kernel, cosine re-rank) whose cost per shuffled byte is far above
    typical, so AQE's byte-based coalescing (advisory 4 MB) lands it on
    1-2 tasks and serializes the verify compute (measured: the minhash and
    substring verify jobs each ran 0.7+ s on ONE task at bench scale). An
    explicit repartition(N, pair_key) is exempt from AQE coalescing and
    adds NO extra exchange — the groupBy on a superset of the keys reuses
    the partitioning. Scale-adaptive: N is the cluster-sized shuffle
    width, never a local constant."""
    try:
        return int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):  # 'auto' or unset -> core count
        return df.sparkSession.sparkContext.defaultParallelism


def reassemble_pairs(
    pairs: DataFrame,
    payload: DataFrame,
    cols: list[str] | tuple[str, ...],
    ids: tuple[str, str] = ("url_a", "url_b"),
    id_col: str = "url",
    site: str = "reassemble_pairs",
) -> DataFrame:
    """Attach both sides' payload to each candidate pair, shuffling the
    payload ONCE — the one reassembly shape behind verify_pairs,
    verify_substring_pairs (operators/substring.py) and the ANN re-rank's
    _pair_vectors (operators/similarity.py):

      1. each pair explodes to two light (pair, nid, side) rows, with
         nid = xxhash64(id) — an 8-byte probe key instead of the id;
      2. ONE inner join on nid pulls ``cols`` from ``payload``, then an id
         equality filter drops rows that an nid collision (two ids hashing
         alike) attached — the true row always survives it, the foreign
         one never reaches the group;
      3. a groupBy on the pair columns reassembles ``<col>_a``/``<col>_b``
         behind a pinned repartition(reassembly_partitions(...), id_a,
         id_b) — the only exchange carrying the payload, sized by the
         candidate set, not the corpus.

    Every column of ``pairs`` is kept. A pair with either side absent from
    ``payload`` (or whose first payload column is NULL there) drops:
    inner-join semantics.

    CONTRACT: ``payload`` is one row per id. The side-masked first() is
    deterministic only then; a duplicate id silently collapses to one
    arbitrary row. Set CARGO_DUPES_DEBUG_CONTRACTS=1 to assert it per call
    (contracts.py), the error naming ``site``.
    """
    assert_unique_ids(payload, id_col, site)
    id_a, id_b = ids
    keys = pairs.columns
    side = F.col("_side")
    exploded = pairs.select(
        *keys,
        F.explode(
            F.array(
                F.struct(
                    F.xxhash64(id_a).alias("_nid"), F.lit("a").alias("_side")
                ),
                F.struct(
                    F.xxhash64(id_b).alias("_nid"), F.lit("b").alias("_side")
                ),
            )
        ).alias("_e"),
    ).select(*keys, "_e._nid", "_e._side")
    rows = payload.select(
        F.xxhash64(id_col).alias("_nid"), F.col(id_col).alias("_id"), *cols
    )
    matched = exploded.join(rows, "_nid", "inner").filter(
        F.when(side == "a", F.col(id_a) == F.col("_id")).otherwise(
            F.col(id_b) == F.col("_id")
        )
    )
    # exactly one row per (pair, side) survives the id filter, so first()
    # over the side-masked column is deterministic
    return (
        matched.repartition(reassembly_partitions(matched), id_a, id_b)
        .groupBy(*keys)
        .agg(
            *[
                F.first(F.when(side == s, F.col(c)), ignorenulls=True).alias(
                    f"{c}_{s}"
                )
                for c in cols
                for s in ("a", "b")
            ]
        )
        .filter(
            F.col(f"{cols[0]}_a").isNotNull()
            & F.col(f"{cols[0]}_b").isNotNull()
        )
    )


def verify_pairs(
    pairs: DataFrame, signatures: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """(url_a, url_b, tier) -> verified edges with exact similarity: the
    shingle arrays reassemble through ``reassemble_pairs`` (one join keyed
    on nid = xxhash64(url), the same 8-byte surrogate discipline as the
    candidate stage, operators/lsh.py), then exact Jaccard. AQE handles
    residual skew (hot urls appear in many pairs).

    When ``signatures`` carries ``simhash``, simhash-tier pairs must also
    pass the Hamming prefilter; the streaming near tier's signatures have
    no simhash (and no simhash-tier pairs).

    Set CARGO_DUPES_DEBUG_CONTRACTS=1 to assert the one-row-per-url
    contract on ``signatures`` per call (contracts.py, ADVICE r4).
    """
    with_simhash = "simhash" in signatures.columns
    joined = reassemble_pairs(
        pairs,
        signatures,
        ["shingles", "simhash"] if with_simhash else ["shingles"],
        site="verify_pairs(signatures)",
    )
    if with_simhash:
        # Hamming prefilter only constrains simhash-tier candidates
        joined = joined.filter(
            (F.col("tier") != F.lit("simhash"))
            | (hamming_col("simhash_a", "simhash_b") <= cfg.hamming_threshold)
        )
    return (
        joined.withColumn(
            "similarity", jaccard_col("shingles_a", "shingles_b")
        )
        .filter(F.col("similarity") >= cfg.jaccard_threshold)
        .select("url_a", "url_b", "tier", "similarity")
    )
