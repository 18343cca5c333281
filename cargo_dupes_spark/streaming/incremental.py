"""Structured Streaming ingest: incremental dedup of arriving web pages.

The reference is a batch CLI (one ``analyze()`` per invocation,
``dupes-core/src/lib.rs:41-70``); a 100 TB training-data pipeline instead
sees web pages ARRIVE (new WARC drops land as files in a table location) and
must dedup each increment against everything already ingested without
re-scanning the corpus. This module is that incremental path:

  * ``read_web_pages_stream`` — file-source ``readStream`` over the same
    WEB_PAGES schema the batch pipeline uses (on a real cluster: Iceberg /
    Kafka source, identical downstream code).
  * ``incremental_dedup`` — foreachBatch: fingerprint the micro-batch
    (the batch tier's own prepare_columns UDFs), probe the accumulated
    fingerprint state table for hits, append new fingerprints to state and
    dup memberships to the output table. State lives in the Catalog
    (Iceberg/parquet), NOT in executor memory: state size is
    corpus-bounded, so it belongs in a table joined per-batch.
  * NEAR tier (``tiers=("exact", "near")``): each batch's canonical docs
    are checked against accumulated MinHash band-key state with the batch
    tier's exact shingle/signature config and verified by exact Jaccard —
    see ``_process_near_tier`` for the state layout and replay contract.
  * SUBSTRING tier (``tiers`` includes 'substring'): canonical docs'
    winnowed fingerprints probe accumulated fingerprint state and
    candidates verify with the exact rolling-hash LCS — see
    ``_process_substring_tier``.
  * ``windowed_doc_stats`` — watermark + windowed aggregation (late-data
    tolerant ingest monitoring: docs/tokens per lang per window).

State layout. The three PROBE tables — ``stream_fps`` (exact),
``stream_bands`` (near) and ``stream_winnow`` (substring) — are flat and
read whole by every batch. They are keyed by hashes, and a batch of B
distinct keys leaves on average N·((N-1)/N)^B of N hash buckets untouched
(0.6 of 64 at B = 300), so a bucketed layout never pruned; it only
multiplied each append into one file per bucket per writer task. The two
PAYLOAD tables — ``stream_sigs`` and ``stream_texts`` — stay partitioned
by pmod(xxhash64(url), cfg.stream_fp_buckets): a batch fetches them only
for the few urls its probe matched, and that fetch does prune
(``matched_payload``). ``_flatten_probe_tables`` rewrites probe tables
that an earlier revision wrote bucketed, once, at stream start.

Exactly-once notes: the streaming checkpoint (``checkpointLocation``) makes
the file source replay a failed batch; the state/membership appends are
at-least-once under replay. Replays are no-ops by construction: a replayed
batch's first-seen urls are already in state, so (a) the self-match filter
(url != matched_url) keeps them out of the dup stream and (b) the anti-join
against state keeps them out of the state append — the re-append is
provably EMPTY, so state stays one row per url without any read-time window
dedup. Residual insurance (a crash between the two appends re-committing
identical rows) is a full-row dropDuplicates at read: replayed rows carry
the SAME batch_id, so duplicates are exact-row duplicates and the dedup is
deterministic. ``load_stream_dups`` likewise dedups on (url, matched_url).
The exact tier's commit runs concurrently with the near/substring tiers
(they read only the exact probe's canonical docs), so a crash can leave
either side committed without the other; both orders replay to the state
a clean run writes (``_process_exact_tier``).
"""

from __future__ import annotations

import os
import shutil
import threading
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.exact import apply_gates, prepare_columns
from ..schemas import WEB_PAGES
from ..sources.catalog import Catalog

STATE_TABLE = "stream_fps"
DUPS_TABLE = "stream_dups"
BANDS_TABLE = "stream_bands"
SIGS_TABLE = "stream_sigs"
NEAR_DUPS_TABLE = "stream_near_dups"
WINNOW_TABLE = "stream_winnow"
TEXTS_TABLE = "stream_texts"
SUBSTR_DUPS_TABLE = "stream_substring_dups"


def read_web_pages_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of web_pages parquet drops (schema fixed, never
    inferred — a corrupt drop fails loudly instead of widening the schema).

    maxFilesPerTrigger bounds micro-batch size so one giant WARC drop cannot
    blow executor memory; at real scale this is the knob that shapes
    batch-size vs latency.
    """
    return (
        spark.readStream.schema(WEB_PAGES)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )


def _fingerprint_batch(
    batch: DataFrame, cfg: PipelineConfig, with_text: bool = False
) -> DataFrame:
    """Micro-batch -> (url[, lang, norm_text], fingerprint, n_tokens): the
    batch tier's own normalize/fingerprint UDFs (byte-identical norm_text
    contract), gated the same way so boilerplate/tiny docs never enter
    dedup state. lang/norm_text ride along only when the near tier needs
    them — the exact-only mode must not drag full document text into the
    per-batch localCheckpoint.

    A drop may repeat a url (re-crawls, a writer's retry). Every table and
    pair join downstream assumes one row per url, so the batch keeps one
    deterministic row per url here, where untrusted input enters: the
    minimum of its (fingerprint, ...) structs."""
    cols = ["fingerprint", "n_tokens"] + (
        ["lang", "norm_text"] if with_text else []
    )
    return (
        apply_gates(prepare_columns(batch, cfg), cfg)
        .groupBy("url")
        .agg(F.min(F.struct(*cols)).alias("_row"))
        .select("url", *[F.col(f"_row.{c}").alias(c) for c in cols])
    )


def _process_exact_tier(
    fps: DataFrame, catalog: Catalog, cfg: PipelineConfig, batch_id: int
) -> tuple[DataFrame, Callable[[], None]]:
    """Exact tier of one micro-batch: one probe, then the state/dup appends.
    Returns the batch's CANONICAL docs (with whatever columns ``fps``
    carried) — the near tier's input (exact dups are pre-excluded from near
    candidacy, the streaming analog of the batch tier's J1 representative
    rule) — and the tier's COMMIT, which the caller runs (possibly
    concurrently with the other tiers, which read only the canonical docs).

    The probe is materialized once: every batch fp row with the batch's
    first-seen url for its fp and the fp's prior owner in state. The state
    append, the dup append and the canonical docs are filters over it, so
    the state scan and join run once per batch, not once per consumer.

    Canonical = first-seen-in-batch AND (absent from exact state OR present
    under the doc's OWN url). The second disjunct is the replay bridge: a
    batch that crashed AFTER the exact-state commit but BEFORE the near
    tier's commits replays with its docs already in stream_fps — dropping
    them here would leave their band/shingle state missing forever, so they
    flow to the near tier, whose own replay detection appends exactly the
    missing state and nothing else. The opposite crash (near committed,
    exact not) replays with an exact probe identical to the first run's, so
    the same canonical docs reach a near tier whose replay detection finds
    their committed state and appends none of it again."""
    # one canonical row per fp within the batch (earliest url wins,
    # deterministic ordering)
    first = fps.groupBy("fingerprint").agg(F.min("url").alias("first_url"))
    probe = fps.join(first, "fingerprint")
    if catalog.exists(STATE_TABLE):
        # earliest prior owner per fp (state holds one row per fp; min() is
        # cheap insurance against partial-commit residue). The semi-join
        # keeps the aggregate's shuffle batch-sized, not state-sized.
        owner = (
            catalog.read(STATE_TABLE)
            .join(first.select("fingerprint"), "fingerprint", "left_semi")
            .groupBy("fingerprint")
            .agg(F.min("url").alias("matched_url"))
        )
        probe = probe.join(owner, "fingerprint", "left")
    else:
        probe = probe.withColumn("matched_url", F.lit(None).cast("string"))
    probe = probe.localCheckpoint()

    url, matched = F.col("url"), F.col("matched_url")
    first_seen = url == F.col("first_url")
    batch_col = F.lit(int(batch_id)).alias("batch_id")
    state_rows = probe.filter(first_seen & matched.isNull()).select(
        "url", "fingerprint", "n_tokens", batch_col
    )
    # an in-batch dup matches its fp's first-seen url, a first-seen url its
    # prior owner. url == matched_url is a batch REPLAYED after a crash
    # (state append committed, streaming checkpoint not) finding its own
    # first-seen urls in state — not a duplicate of itself.
    dup_rows = probe.select(
        "fingerprint",
        "url",
        F.when(first_seen, matched).otherwise(F.col("first_url")).alias(
            "matched_url"
        ),
        batch_col,
    ).filter(matched.isNotNull() & (url != matched))
    canonical = probe.filter(
        first_seen & (matched.isNull() | (url == matched))
    ).drop("fingerprint", "n_tokens", "first_url", "matched_url")

    def commit() -> None:
        catalog.append(state_rows, STATE_TABLE)
        catalog.append(dup_rows, DUPS_TABLE)

    return canonical, commit


def _process_near_tier(
    new_docs: DataFrame, catalog: Catalog, cfg: PipelineConfig, batch_id: int
) -> None:
    """Near tier of one micro-batch, reusing the batch tier's machinery
    end-to-end (north_rule: recall is measured at identical
    shingle/signature config): shingle -> fused MinHash UDF -> the SAME
    32-band LSH keys as operators/lsh.py, probed against accumulated
    band-key state, verified by EXACT Jaccard against matched state docs'
    shingles (reference analog: the near tier grouper.rs:95-220, applied
    per increment).

    State layout (two tables; see the module docstring for why only one is
    partitioned):
      * stream_bands (url, band_key), flat — the candidate probe joins the
        batch's band keys against the whole table.
      * stream_sigs (url, lang, shingles) partitioned by
        sig_bucket = pmod(xxhash64(url), N) — the verify step fetches
        shingles for MATCHED state urls only, pruned to their buckets.
    Probe fan-out is bounded on BOTH sides (never silent, SURVEY §7.4
    risk 4): in-batch pairing routes through the batch tier's own
    capped/salted/accounted ``nid_pairs_from_buckets``; state band keys
    matching more than cfg.max_bucket_size rows are excluded from the
    cross probe and ACCOUNTED ('dropped_band_keys' metric); a true near
    pair shares many other bands.

    Replay safety mirrors the exact tier: a replayed doc finds its OWN
    band keys in state -> (a) the url != matched_url filter keeps
    self-matches out of the dup stream, (b) docs whose url already owns
    band state are excluded from the state re-append. The sigs append runs
    BEFORE the bands append and replay detection keys on bands (the later
    commit), so a crash between the two re-appends sigs as exact-row
    duplicates — collapsed by the full-row dropDuplicates at every read.
    Chains are edge semantics: matched_url may itself be a near-dup of an
    earlier doc (transitive closure is the batch tier's CC job)."""
    from ..functions.shingles import jaccard_col, with_shingles
    from ..functions.signatures import signature_udf
    from ..operators.lsh import minhash_band_keys_col

    sig_fn = signature_udf(
        cfg.num_perm, cfg.minhash_seed, want_minhash=True, want_simhash=False
    )
    sigs = (
        with_shingles(
            new_docs.select("url", "lang", "norm_text"),
            "norm_text",
            cfg.shingle_k,
            cfg.shingle_seed,
        )
        .drop("norm_text")
        .withColumn("minhash", sig_fn(F.col("shingles"))["minhash"])
        .withColumn("band_keys", minhash_band_keys_col(cfg))
        .select("url", "lang", "shingles", "band_keys")
        .localCheckpoint()  # one Arrow pass; many downstream consumers
    )
    batch_bands = sigs.select(
        "url", F.explode("band_keys").alias("band_key")
    )

    batch_shingles = sigs.select("url", "shingles")
    near = None
    replayed = None
    if catalog.exists(BANDS_TABLE):
        state_bands = catalog.read(BANDS_TABLE).select(
            F.col("url").alias("state_url"), "band_key"
        )
        # cap probe fan-out: a boilerplate band key owned by a huge slice of
        # the corpus would fan the join out quadratically per batch
        sizes = state_bands.groupBy("band_key").agg(
            F.count(F.lit(1)).alias("sz")
        )
        hot = sizes.filter(F.col("sz") > cfg.max_bucket_size)
        n_hot = hot.count()
        if n_hot:
            catalog.record_metrics(
                "stream_near", {"dropped_band_keys": float(n_hot)}
            )
            state_bands = state_bands.join(
                F.broadcast(hot.select("band_key")), "band_key", "left_anti"
            )
        matches = batch_bands.join(state_bands, "band_key").localCheckpoint()
        replayed = (
            matches.filter(F.col("url") == F.col("state_url"))
            .select("url")
            .distinct()
        )
        cross = (
            matches.filter(F.col("url") != F.col("state_url"))
            .select("url", F.col("state_url").alias("matched_url"))
            .distinct()
        )
        state_sigs = matched_payload(catalog, cfg, SIGS_TABLE, cross)
        if state_sigs is not None:
            state_sigs = state_sigs.select(
                F.col("url").alias("matched_url"),
                F.col("shingles").alias("m_shingles"),
            )
            # threshold on the RAW jaccard (rounding only at output) so a
            # borderline pair classifies identically to the batch tier's
            # verify_pairs
            near = (
                cross.join(batch_shingles, "url")
                .join(state_sigs, "matched_url")
                .withColumn(
                    "similarity", jaccard_col("shingles", "m_shingles")
                )
                .filter(F.col("similarity") >= cfg.jaccard_threshold)
                .select("url", "matched_url", "similarity")
            )

    # in-batch near pairs through the batch tier's capped/salted/accounted
    # pair machinery (a hot boilerplate band key inside one availableNow
    # backfill batch would otherwise self-join quadratically); the smaller
    # url is the canonical side (deterministic, batch-internal)
    from ..operators.lsh import pairs_from_buckets

    ib_pairs, ib_flagged = pairs_from_buckets(
        batch_bands.select("url", F.lit(0).alias("band_id"), "band_key"),
        cfg,
        "near",
        urls=sigs,
    )
    ib_rows = getattr(ib_flagged, "_cds_local_rows", None)
    n_ib_flagged = len(ib_rows) if ib_rows is not None else ib_flagged.count()
    if n_ib_flagged:
        catalog.record_metrics(
            "stream_near", {"flagged_batch_buckets": float(n_ib_flagged)}
        )
    # single-shuffle shingle reassembly (the verify_pairs restructure,
    # operators/verify.py) — batch-bounded either way, but the shingle
    # payload still crosses one exchange instead of two
    ib_exploded = ib_pairs.select(
        "url_a",
        "url_b",
        F.explode(
            F.array(
                F.struct(F.col("url_a").alias("u"), F.lit("a").alias("side")),
                F.struct(F.col("url_b").alias("u"), F.lit("b").alias("side")),
            )
        ).alias("_e"),
    ).select("url_a", "url_b", "_e.u", "_e.side")
    ib_near = (
        ib_exploded.join(
            batch_shingles.select(F.col("url").alias("u"), "shingles"), "u"
        )
        .groupBy("url_a", "url_b")
        .agg(
            F.first(
                F.when(F.col("side") == "a", F.col("shingles")),
                ignorenulls=True,
            ).alias("m_shingles"),
            F.first(
                F.when(F.col("side") == "b", F.col("shingles")),
                ignorenulls=True,
            ).alias("shingles"),
        )
        .filter(
            F.col("shingles").isNotNull() & F.col("m_shingles").isNotNull()
        )
        .withColumn("similarity", jaccard_col("shingles", "m_shingles"))
        .filter(F.col("similarity") >= cfg.jaccard_threshold)
        # the smaller url (url_a) is the canonical side -> matched_url
        .select(
            F.col("url_b").alias("url"),
            F.col("url_a").alias("matched_url"),
            "similarity",
        )
    )
    near = ib_near if near is None else near.unionByName(ib_near)

    batch_col = F.lit(int(batch_id)).alias("batch_id")
    near = near.select(
        "url", "matched_url", F.round("similarity", 6).alias("similarity"),
        batch_col,
    ).localCheckpoint()
    catalog.append(near, NEAR_DUPS_TABLE)

    # canonical docs enter near state: not a near-dup this batch, not
    # already owning band state (replay)
    to_state = sigs.join(
        near.select("url").distinct(), "url", "left_anti"
    )
    if replayed is not None:
        to_state = to_state.join(replayed, "url", "left_anti")
    to_state = to_state.localCheckpoint()  # sigs + bands appends both read it
    catalog.append(
        to_state.select(
            "url", "lang", "shingles", batch_col,
            _url_bucket_col(cfg, SIGS_TABLE),
        ),
        SIGS_TABLE,
        partition_by=[_PAYLOAD_BUCKETS[SIGS_TABLE]],
    )
    catalog.append(
        to_state.select(
            "url", F.explode("band_keys").alias("band_key"), batch_col
        ),
        BANDS_TABLE,
    )


def _process_substring_tier(
    new_docs: DataFrame, catalog: Catalog, cfg: PipelineConfig, batch_id: int
) -> None:
    """Substring tier of one micro-batch (VERDICT r4 #5): a drained batch
    whose doc CONTAINS (or is contained in) a prior doc at
    >= min_substring_len chars is detected, reusing the batch tier's
    winnowing candidate generation + exact rolling-hash LCS verify
    (operators/substring.py) against accumulated fingerprint state.

    State layout (the near tier's shape: a flat probe table, a url-bucketed
    payload table):
      * stream_winnow (url, band_key), flat — winnowed fingerprints (~2% of
        chars), probed by joining the batch's fingerprints against the
        whole table.
      * stream_texts (url, lang, norm_text) partitioned by
        text_bucket = pmod(xxhash64(url), N) — the verify step fetches
        norm_text for MATCHED state urls only, pruned to their buckets.
    Hot fingerprint keys (boilerplate runs shared corpus-wide) are excluded
    from the cross probe above cfg.max_bucket_size and ACCOUNTED
    ('dropped_winnow_keys'); in-batch pairing routes through the
    capped/salted/accounted pair machinery. Replay safety mirrors the near
    tier: self-matches filter out of the dup stream, docs whose url already
    owns winnow state skip the state re-append, texts append before winnow
    (replay detection keys on the later commit)."""
    from ..operators.lsh import pairs_from_buckets
    from ..operators.substring import verify_substring_pairs, winnow_udf

    eligible = (
        new_docs.filter(F.length("norm_text") >= cfg.min_substring_len)
        .select("url", "lang", "norm_text")
        .localCheckpoint()
    )
    fps = eligible.select(
        "url",
        F.explode(
            winnow_udf(cfg.winnow_kgram, cfg.winnow_window)(F.col("norm_text"))
        ).alias("fph"),
        "lang",
    ).select(
        "url", F.xxhash64("lang", "fph").alias("band_key")
    ).localCheckpoint()

    edges = None
    replayed = None
    if catalog.exists(WINNOW_TABLE):
        state_fps = catalog.read(WINNOW_TABLE).select(
            F.col("url").alias("state_url"), "band_key"
        )
        sizes = state_fps.groupBy("band_key").agg(
            F.count(F.lit(1)).alias("sz")
        )
        hot = sizes.filter(F.col("sz") > cfg.max_bucket_size)
        n_hot = hot.count()
        if n_hot:
            catalog.record_metrics(
                "stream_substring", {"dropped_winnow_keys": float(n_hot)}
            )
            state_fps = state_fps.join(
                F.broadcast(hot.select("band_key")), "band_key", "left_anti"
            )
        matches = fps.join(state_fps, "band_key").localCheckpoint()
        replayed = (
            matches.filter(F.col("url") == F.col("state_url"))
            .select("url")
            .distinct()
        )
        cross = (
            matches.filter(F.col("url") != F.col("state_url"))
            .select("url", F.col("state_url").alias("matched_url"))
            .distinct()
        )
        state_texts = matched_payload(catalog, cfg, TEXTS_TABLE, cross)
        if state_texts is not None:
            state_texts = (
                state_texts.select("url", "norm_text")
                # a url present in BOTH batch and state (re-sent url) must
                # contribute ONE text row — the batch's wins
                .join(eligible.select("url"), "url", "left_anti")
            )
            texts = eligible.select("url", "norm_text").unionByName(
                state_texts
            )
            cross_pairs = cross.select(
                F.col("matched_url").alias("url_a"),
                F.col("url").alias("url_b"),
                F.lit("substring").alias("tier"),
            )
            edges = verify_substring_pairs(cross_pairs, texts, cfg).select(
                F.col("url_b").alias("url"),
                F.col("url_a").alias("matched_url"),
                (F.col("span_a_end") - F.col("span_a_start")).alias("lcs_len"),
                "similarity",
            )

    # in-batch pairs through the capped/salted/accounted machinery
    ib_pairs, ib_flagged = pairs_from_buckets(
        fps.select("url", F.lit(0).alias("band_id"), "band_key"),
        cfg,
        "substring",
        urls=eligible,
    )
    ib_rows = getattr(ib_flagged, "_cds_local_rows", None)
    n_ib_flagged = len(ib_rows) if ib_rows is not None else ib_flagged.count()
    if n_ib_flagged:
        catalog.record_metrics(
            "stream_substring", {"flagged_batch_buckets": float(n_ib_flagged)}
        )
    ib_edges = verify_substring_pairs(ib_pairs, eligible, cfg).select(
        # the smaller url (url_a) is the canonical side -> matched_url
        F.col("url_b").alias("url"),
        F.col("url_a").alias("matched_url"),
        (F.col("span_a_end") - F.col("span_a_start")).alias("lcs_len"),
        "similarity",
    )
    edges = ib_edges if edges is None else edges.unionByName(ib_edges)

    batch_col = F.lit(int(batch_id)).alias("batch_id")
    edges = edges.select(
        "url", "matched_url", "lcs_len",
        F.round("similarity", 6).alias("similarity"), batch_col,
    ).localCheckpoint()
    catalog.append(edges, SUBSTR_DUPS_TABLE)

    # canonical docs enter substring state: not a substring-dup this batch,
    # not already owning winnow state (replay)
    to_state = eligible.join(
        edges.select("url").distinct(), "url", "left_anti"
    )
    if replayed is not None:
        to_state = to_state.join(replayed, "url", "left_anti")
    to_state = to_state.localCheckpoint()
    catalog.append(
        to_state.select(
            "url", "lang", "norm_text", batch_col,
            _url_bucket_col(cfg, TEXTS_TABLE),
        ),
        TEXTS_TABLE,
        partition_by=[_PAYLOAD_BUCKETS[TEXTS_TABLE]],
    )
    catalog.append(
        fps.join(to_state.select("url"), "url", "inner").select(
            "url", "band_key", batch_col
        ),
        WINNOW_TABLE,
    )


def incremental_dedup(
    stream: DataFrame,
    catalog: Catalog,
    cfg: PipelineConfig,
    checkpoint_dir: str,
    tiers: tuple[str, ...] = ("exact",),
    available_now: bool = True,
):
    """Start the incremental dedup query; returns the StreamingQuery.

    Per micro-batch (foreachBatch — the sink is several table appends, not
    expressible as a single streaming sink):
      1. fingerprint the batch with the batch-tier UDFs,
      2. EXACT tier: probe ``stream_fps``, append hits to ``stream_dups``
         and first-seen fps to state,
      3. NEAR tier (``tiers`` includes 'near'): the batch's canonical docs
         are MinHash-banded with the batch tier's exact config, probed
         against ``stream_bands``, exact-Jaccard-verified against matched
         docs' shingles from ``stream_sigs``, and appended to
         ``stream_near_dups`` (see ``_process_near_tier``).
    Step 2's appends run on a driver thread while step 3 (and the
    substring tier) run; the batch returns only after all of them commit.

    With ``available_now`` the query drains everything currently in the
    directory and stops — the deterministic test/backfill mode; without it
    the query runs continuously (production tail -f of the drop dir).
    """
    unknown = set(tiers) - {"exact", "near", "substring"}
    if unknown:
        raise ValueError(f"unknown streaming tiers: {sorted(unknown)}")
    if "exact" not in tiers:
        # near/substring build on the exact tier's canonical-doc
        # classification — silently running exact anyway would write state
        # the caller opted out of, so an exact-less tier tuple is an error
        raise ValueError(
            "the 'exact' tier is mandatory ('near'/'substring' build on it)"
        )
    _flatten_probe_tables(catalog)
    near = "near" in tiers
    substring = "substring" in tiers

    def _process(batch: DataFrame, batch_id: int) -> None:
        # localCheckpoint: the exact probe reads the fingerprinted batch
        # three times (first-seen aggregate, its join, the state
        # semi-join) — materialize the batch-sized frame once instead of
        # re-normalizing the batch per branch
        fps = _fingerprint_batch(
            batch, cfg, with_text=near or substring
        ).localCheckpoint()
        new_docs, commit_exact = _process_exact_tier(
            fps, catalog, cfg, batch_id
        )
        if not (near or substring):
            commit_exact()
            return
        # near and substring are INDEPENDENT detectors over the same
        # exact-canonical docs (the batch pipeline's parallel-detector
        # shape); neither reads the exact tables, so the exact commit
        # overlaps them
        with _running_alongside(catalog.spark, commit_exact):
            if near:
                _process_near_tier(new_docs, catalog, cfg, batch_id)
            if substring:
                _process_substring_tier(new_docs, catalog, cfg, batch_id)

    writer = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_exact_dedup(
    stream: DataFrame,
    catalog: Catalog,
    cfg: PipelineConfig,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Exact-tier-only incremental dedup (see ``incremental_dedup``)."""
    return incremental_dedup(
        stream, catalog, cfg, checkpoint_dir,
        tiers=("exact",), available_now=available_now,
    )


# Spark keeps job properties per thread: the micro-batch's description
# ("... batch = <id>") and the query's job group (query.stop() cancels it)
_BATCH_JOB_PROPERTIES = ("spark.job.description", "spark.jobGroup.id")


@contextmanager
def _running_alongside(spark: SparkSession, fn: Callable[[], None]):
    """Run ``fn`` on a driver thread while the block runs (Spark schedules
    concurrently submitted jobs side by side). The thread's jobs carry the
    calling thread's batch job properties. Exiting joins the thread and
    re-raises its error, so a failed commit fails the micro-batch."""
    sc = spark.sparkContext
    props = {k: sc.getLocalProperty(k) for k in _BATCH_JOB_PROPERTIES}
    errors: list[BaseException] = []

    def run() -> None:
        try:
            for k, v in props.items():
                sc.setLocalProperty(k, v)
            fn()
        except BaseException as exc:  # re-raised on the calling thread
            errors.append(exc)

    thread = threading.Thread(target=run, name="stream-commit", daemon=True)
    thread.start()
    try:
        yield
    finally:
        thread.join()
    if errors:
        raise errors[0]


# url-keyed payload tables and their partition column
_PAYLOAD_BUCKETS = {SIGS_TABLE: "sig_bucket", TEXTS_TABLE: "text_bucket"}
# probe tables an earlier revision wrote hive-partitioned, and the column
_LEGACY_PROBE_BUCKETS = {
    STATE_TABLE: "fp_bucket",
    BANDS_TABLE: "band_bucket",
    WINNOW_TABLE: "win_bucket",
}


def _url_bucket_col(cfg: PipelineConfig, table: str, url_col: str = "url"):
    return (
        F.pmod(F.xxhash64(url_col), F.lit(cfg.stream_fp_buckets))
        .cast("int")
        .alias(_PAYLOAD_BUCKETS[table])
    )


def matched_payload(
    catalog: Catalog, cfg: PipelineConfig, table: str, cross: DataFrame
) -> DataFrame | None:
    """Rows of a url-keyed payload table (``stream_sigs``/``stream_texts``)
    for the state urls a batch matched (``cross.matched_url``), or None
    when it matched none. The buckets of the matched urls — a handful per
    batch — are collected driver-side, so the isin filter lands as a
    PartitionFilter on the scan (hive layout under the parquet fallback,
    identity partition spec under Iceberg) and every other bucket's files
    are never opened. The full-row dropDuplicates collapses crash residue
    (exact-row duplicates, see ``_process_near_tier``)."""
    bucket = _PAYLOAD_BUCKETS[table]
    buckets = [
        r[0]
        for r in cross.select(_url_bucket_col(cfg, table, "matched_url"))
        .distinct()
        .collect()
    ]
    if not buckets:
        return None
    return (
        catalog.read(table).filter(F.col(bucket).isin(buckets)).dropDuplicates()
    )


def _flatten_probe_tables(catalog: Catalog) -> None:
    """Rewrite probe tables that an earlier revision wrote hive-partitioned
    (``<root>/<bucket>=N/*.parquet``) into the flat layout appends now
    use. Runs at stream start; a flat table is left as it is.

    Spark cannot list a root holding both flat part-files and partition
    directories, so the root is swapped whole, never edited in place:
      1. hard-link every part-file into ``<root>__flat`` (its bucket
         directory prefixed to the name: Spark repeats file names across
         the buckets of one write). Hive layouts keep the bucket column in
         the path, not in the files, so no data is rewritten;
      2. rename ``<root>`` to ``<root>__bucketed``;
      3. rename ``<root>__flat`` to ``<root>``;
      4. delete ``<root>__bucketed``.
    A crash anywhere is repaired by the next start: ``<root>__bucketed``
    exists only once step 1 finished, so step 3 is completed from it if
    needed and the old tree removed; a ``<root>__flat`` without it is an
    unfinished step 1 and is rebuilt from scratch. Iceberg tables are left
    alone: Iceberg evolves a partition spec in place."""
    if catalog.iceberg:  # pragma: no cover - exercised only with the jar
        return
    for name, bucket in _LEGACY_PROBE_BUCKETS.items():
        root = catalog._path(name)
        staged = root.with_name(f"{name}__flat")
        retired = root.with_name(f"{name}__bucketed")
        if retired.exists():
            if not root.exists():
                staged.rename(root)
            shutil.rmtree(retired)
        shutil.rmtree(staged, ignore_errors=True)
        parts = sorted(root.glob(f"{bucket}=*/*.parquet"))
        if not parts:
            continue
        staged.mkdir()
        for part in parts:
            os.link(part, staged / f"{part.parent.name}-{part.name}")
        root.rename(retired)
        staged.rename(root)
        shutil.rmtree(retired)


def load_stream_state(catalog: Catalog) -> DataFrame:
    """Accumulated (url, fingerprint, n_tokens, batch_id) state.

    Replays re-append NOTHING (the probe anti-join sees the first commit's
    rows — module docstring), so this is a plain read; the full-row
    dropDuplicates only defends against a crash between the state and dup
    appends re-committing identical rows (same batch_id -> exact-row dups,
    deterministic dedup). No window, no sort — an O(state) shuffle-free
    hash-dedup instead of the previous row_number over the entire table."""
    return catalog.read(STATE_TABLE).dropDuplicates()


def load_stream_dups(catalog: Catalog) -> DataFrame:
    """Detected duplicate arrivals, replay-safe (one row per url+match)."""
    if not catalog.exists(DUPS_TABLE):
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("fingerprint", T.LongType()),
                T.StructField("url", T.StringType()),
                T.StructField("matched_url", T.StringType()),
                T.StructField("batch_id", T.LongType()),
            ]
        )
        return catalog.spark.createDataFrame([], schema)
    return catalog.read(DUPS_TABLE).dropDuplicates(["url", "matched_url"])


def load_stream_near_dups(catalog: Catalog) -> DataFrame:
    """Detected NEAR-duplicate arrivals (url, matched_url, similarity,
    batch_id), replay-safe (one row per url+match)."""
    if not catalog.exists(NEAR_DUPS_TABLE):
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("matched_url", T.StringType()),
                T.StructField("similarity", T.DoubleType()),
                T.StructField("batch_id", T.LongType()),
            ]
        )
        return catalog.spark.createDataFrame([], schema)
    return catalog.read(NEAR_DUPS_TABLE).dropDuplicates(
        ["url", "matched_url"]
    )


def load_stream_substring_dups(catalog: Catalog) -> DataFrame:
    """Detected SUBSTRING-duplicate arrivals (url, matched_url, lcs_len,
    similarity, batch_id), replay-safe (one row per url+match)."""
    if not catalog.exists(SUBSTR_DUPS_TABLE):
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("url", T.StringType()),
                T.StructField("matched_url", T.StringType()),
                T.StructField("lcs_len", T.LongType()),
                T.StructField("similarity", T.DoubleType()),
                T.StructField("batch_id", T.LongType()),
            ]
        )
        return catalog.spark.createDataFrame([], schema)
    return catalog.read(SUBSTR_DUPS_TABLE).dropDuplicates(
        ["url", "matched_url"]
    )


def windowed_doc_stats(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "15 minutes",
) -> DataFrame:
    """Watermarked windowed ingest stats: docs + token-ish volume per
    (event-time window, lang). Late pages inside the watermark update their
    window; older ones are dropped by the engine (bounded state — the whole
    point of the watermark at 10^12-doc scale).
    """
    return (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_docs",
            "n_chars",
        )
    )
