"""Opt-in runtime contract checks for the single-shuffle reassembly.

Every verify/re-rank step attaches pair payloads through ONE helper,
``operators/verify.py`` ``reassemble_pairs`` (called by ``verify_pairs``,
``verify_substring_pairs``, ``_pair_vectors`` and, through the first two,
the streaming tiers). It relies on the payload side being ONE ROW PER ID:
the side-masked ``first(ignorenulls=True)`` reassembly is deterministic only
then. A duplicate id silently collapses to one arbitrary row, where the old
two-aliased-joins shape would have fanned the pair out visibly (ADVICE r4).
The pipeline's own tables satisfy the contract by construction (signatures
and fingerprints are one-row-per-url, the synthetic embeddings table is
one-row-per-vec_id); the exposure is PUBLIC callers handing in their own
frames — lsh_topk / ivf_topk / embedding_near_dup_pairs / verify_* — where a
violation produces nondeterministic output with no error.

Set ``CARGO_DUPES_DEBUG_CONTRACTS=1`` to make the helper assert uniqueness
before building its plan: one aggregate job over the id column alone
(column-pruned — the payload bytes never move), raising ``ValueError``
naming the site and the duplicate count. Off by default: an extra scan per
call is the wrong default at 100 TB, and in-contract pipelines pay nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def contracts_enabled() -> bool:
    """True when CARGO_DUPES_DEBUG_CONTRACTS is set to a non-empty, non-'0'
    value. Read per call (not cached) so tests and REPL sessions can toggle."""
    return os.environ.get("CARGO_DUPES_DEBUG_CONTRACTS", "0") not in ("", "0")


def assert_unique_ids(
    df: DataFrame, id_col: str | Column, site: str
) -> None:
    """Debug-mode gate: raise if ``df`` has duplicate ids.

    No-op unless contracts are enabled. The check selects ONLY the id column
    (Catalyst prunes everything else at the scan), so even on a wide
    embeddings table the job reads one column and shuffles two counters.
    """
    if not contracts_enabled():
        return
    col = F.col(id_col) if isinstance(id_col, str) else id_col
    row = df.select(
        (F.count(col) - F.count_distinct(col)).alias("dups")
    ).first()
    dups = row["dups"] if row else 0
    if dups:
        name = id_col if isinstance(id_col, str) else str(id_col)
        raise ValueError(
            f"{site}: one-row-per-id contract violated — {dups} duplicate "
            f"{name!r} row(s). Duplicates would silently collapse to one "
            "arbitrary row in the single-shuffle reassembly; deduplicate "
            "the input (or pick the row you mean) before calling."
        )
