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
    get their MinHash band keys from the batch tier's own function
    (``operators/lsh.with_signatures``), are checked against accumulated
    band-key state and verified by exact Jaccard (``_process_near_tier``).
  * SUBSTRING tier (``tiers`` includes 'substring'): canonical docs'
    winnow keys, from the batch tier's own function
    (``operators/substring.with_winnow_keys``), probe accumulated
    fingerprint state and candidates verify with the exact rolling-hash LCS
    (``_process_substring_tier``).
  Both run ONE skeleton, ``_probe_tier`` (probe, in-batch pairs, one
  verify call through the batch tier's own ``verify_pairs`` /
  ``verify_substring_pairs``, dup append, state append); see it for the
  replay contract. The tiers differ only in their keys, tables and verify
  call (``_ProbeTier``).
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
(``matched_payload``).

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

import threading
from contextlib import contextmanager
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.exact import apply_gates, prepare_columns
from ..operators.lsh import pairs_from_buckets, with_signatures
from ..operators.substring import verify_substring_pairs, with_winnow_keys
from ..operators.verify import verify_pairs
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


class _ProbeTier(NamedTuple):
    """What tells the near and substring tiers apart; ``_probe_tier`` is
    everything they share."""

    name: str  # pair tier label; metrics stage is stream_<name>
    probe_table: str  # flat (url, band_key, batch_id)
    payload_table: str  # url-bucketed (url, lang, <payload>, batch_id)
    payload: str  # the column the verify step reads
    dups_table: str
    dropped_metric: str
    # (pairs, payload, cfg) -> (url_a, url_b, similarity, *edge_cols)
    verify: Callable[[DataFrame, DataFrame, PipelineConfig], DataFrame]
    edge_cols: tuple[str, ...] = ()


def _verify_substring(
    pairs: DataFrame, texts: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    return verify_substring_pairs(pairs, texts, cfg).withColumn(
        "lcs_len", F.col("span_a_end") - F.col("span_a_start")
    )


_NEAR = _ProbeTier(
    "near", BANDS_TABLE, SIGS_TABLE, "shingles", NEAR_DUPS_TABLE,
    "dropped_band_keys", verify_pairs,
)
_SUBSTRING = _ProbeTier(
    "substring", WINNOW_TABLE, TEXTS_TABLE, "norm_text", SUBSTR_DUPS_TABLE,
    "dropped_winnow_keys", _verify_substring, ("lcs_len",),
)


def _probe_tier(
    tier: _ProbeTier,
    docs: DataFrame,
    catalog: Catalog,
    cfg: PipelineConfig,
    batch_id: int,
) -> None:
    """One micro-batch of a probe tier. ``docs`` are the batch's canonical
    docs, one row per url: (url, lang, <tier.payload>, band_keys).

      1. The batch's keys probe the flat probe table. Probe fan-out is
         bounded (never silent, SURVEY §7.4 risk 4): a state key the batch
         hit that more than cfg.max_bucket_size state rows share is
         excluded and ACCOUNTED (``tier.dropped_metric``); a true pair
         shares many other keys. The sizing aggregates only the state rows
         of the batch's keys, never the whole table.
      2. A match under the doc's OWN url is a replay; any other match is a
         cross pair (matched state url, batch url).
      3. In-batch pairs come from the batch tier's capped/salted/accounted
         ``pairs_from_buckets`` (a hot key inside one availableNow backfill
         batch would otherwise self-join quadratically); the smaller url is
         the canonical side.
      4. ONE verify call (the batch tier's own, so a borderline pair
         classifies identically) checks cross and in-batch pairs against
         ONE payload: the batch rows plus the matched state rows of urls
         not in the batch. A re-sent url's batch copy wins, so the payload
         stays one row per url, and its cross pairs take the in-batch
         orientation; a pair found both ways merges in the reassembly
         groupBy.
      5. Edges append to ``tier.dups_table`` with url = url_b and
         matched_url = url_a (the state side, or the smaller url).
      6. Docs that are neither a dup this batch nor a replay enter state.

    Replay safety mirrors the exact tier: a replayed doc finds its OWN keys
    in state -> (a) step 2 keeps self-matches out of the dup stream,
    (b) step 6 skips its state re-append. The payload append runs BEFORE
    the probe append and replay detection keys on the probe table (the
    later commit), so a crash between the two re-appends payload rows as
    exact-row duplicates — collapsed by the full-row dropDuplicates at
    every read. Chains are edge semantics: matched_url may itself be a dup
    of an earlier doc (transitive closure is the batch tier's CC job)."""
    stage = f"stream_{tier.name}"
    keys = docs.select("url", F.explode("band_keys").alias("band_key"))
    pairs, flagged = pairs_from_buckets(
        keys.select("url", F.lit(0).alias("band_id"), "band_key"),
        cfg,
        tier.name,
        urls=docs,
    )
    if flagged:
        catalog.record_metrics(
            stage, {"flagged_batch_buckets": float(len(flagged))}
        )

    payload = docs.select("url", tier.payload)
    replayed = None
    if catalog.exists(tier.probe_table):
        state = catalog.read(tier.probe_table).select(
            F.col("url").alias("state_url"), "band_key"
        )
        hot = (
            state.join(keys.select("band_key"), "band_key", "left_semi")
            .groupBy("band_key")
            .count()
            .filter(F.col("count") > cfg.max_bucket_size)
            .select("band_key")
        )
        n_hot = hot.count()
        if n_hot:
            catalog.record_metrics(stage, {tier.dropped_metric: float(n_hot)})
            state = state.join(F.broadcast(hot), "band_key", "left_anti")
        matches = keys.join(state, "band_key").localCheckpoint()
        own = F.col("url") == F.col("state_url")
        replayed = matches.filter(own).select("url").distinct()
        cross = (
            matches.filter(~own)
            .select("url", F.col("state_url").alias("matched_url"))
            .distinct()
        )
        fetched = matched_payload(catalog, cfg, tier.payload_table, cross)
        if fetched is not None:
            payload = payload.unionByName(
                fetched.select("url", tier.payload).join(
                    docs.select("url"), "url", "left_anti"
                )
            )
            # a re-sent url is verified by its batch copy, so its cross
            # pairs are in-batch pairs: smaller url first, as
            # pairs_from_buckets orients them
            resent = docs.select(
                F.col("url").alias("matched_url"), F.lit(True).alias("_b")
            )
            in_batch = F.col("_b").isNotNull()
            pairs = (
                cross.join(resent, "matched_url", "left")
                .select(
                    F.when(in_batch, F.least("url", "matched_url"))
                    .otherwise(F.col("matched_url"))
                    .alias("url_a"),
                    F.when(in_batch, F.greatest("url", "matched_url"))
                    .otherwise(F.col("url"))
                    .alias("url_b"),
                    F.lit(tier.name).alias("tier"),
                )
                .unionByName(pairs)
            )

    batch_col = F.lit(int(batch_id)).alias("batch_id")
    # threshold on the RAW similarity inside verify, round only at output.
    # The verify runs at the pinned reassembly width; its output (a few
    # rows per batch doc) is read back as one partition, so the dup append
    # writes one file instead of one per reassembly partition.
    edges = (
        tier.verify(pairs, payload, cfg)
        .select(
            F.col("url_b").alias("url"),
            F.col("url_a").alias("matched_url"),
            *tier.edge_cols,
            F.round("similarity", 6).alias("similarity"),
            batch_col,
        )
        .localCheckpoint()
        .coalesce(1)
    )
    catalog.append(edges, tier.dups_table)

    to_state = docs.join(edges.select("url"), "url", "left_anti")
    if replayed is not None:
        to_state = to_state.join(replayed, "url", "left_anti")
    to_state = to_state.localCheckpoint()  # both appends read it
    catalog.append(
        to_state.select(
            "url", "lang", tier.payload, batch_col,
            _url_bucket_col(cfg, tier.payload_table),
        ),
        tier.payload_table,
        partition_by=[_PAYLOAD_BUCKETS[tier.payload_table]],
    )
    catalog.append(
        to_state.select(
            "url", F.explode("band_keys").alias("band_key"), batch_col
        ),
        tier.probe_table,
    )


def _process_near_tier(
    new_docs: DataFrame, catalog: Catalog, cfg: PipelineConfig, batch_id: int
) -> None:
    """Near tier of one micro-batch, reusing the batch tier's machinery
    end-to-end (north_rule: recall is measured at identical
    shingle/signature config): ``with_signatures`` builds the SAME band
    keys the pipeline's signatures stage stores, probed against accumulated
    band-key state, verified by EXACT Jaccard (``verify_pairs``) against
    matched state docs' shingles (reference analog: the near tier
    grouper.rs:95-220, applied per increment). ``_probe_tier`` runs it.

    State layout (see the module docstring for why only one table is
    partitioned):
      * stream_bands (url, band_key), flat — the probe joins the batch's
        band keys against the table.
      * stream_sigs (url, lang, shingles) partitioned by
        sig_bucket = pmod(xxhash64(url), N) — the verify step fetches
        shingles for MATCHED state urls only, pruned to their buckets.
    Hot band keys are accounted as 'dropped_band_keys'."""
    sigs = with_signatures(
        new_docs, cfg, minhash=True, simhash=False
    ).localCheckpoint()  # one Arrow pass; many downstream consumers
    _probe_tier(_NEAR, sigs, catalog, cfg, batch_id)


def _process_substring_tier(
    new_docs: DataFrame, catalog: Catalog, cfg: PipelineConfig, batch_id: int
) -> None:
    """Substring tier of one micro-batch (VERDICT r4 #5): a drained batch
    whose doc CONTAINS (or is contained in) a prior doc at
    >= min_substring_len chars is detected, reusing the batch tier's
    winnow keys (``with_winnow_keys``, the function behind
    ``substring_candidates``) + exact rolling-hash LCS verify
    (operators/substring.py) against accumulated fingerprint state.
    ``_probe_tier`` runs it.

    State layout (the near tier's shape: a flat probe table, a url-bucketed
    payload table):
      * stream_winnow (url, band_key), flat — winnowed fingerprints (~2% of
        chars) keyed xxhash64(lang, fph), probed by joining the batch's
        fingerprints against the table.
      * stream_texts (url, lang, norm_text) partitioned by
        text_bucket = pmod(xxhash64(url), N) — the verify step fetches
        norm_text for MATCHED state urls only, pruned to their buckets.
    Hot fingerprint keys (boilerplate runs shared corpus-wide) are
    accounted as 'dropped_winnow_keys'."""
    docs = with_winnow_keys(
        new_docs.select("url", "lang", "norm_text"), cfg
    ).localCheckpoint()
    _probe_tier(_SUBSTRING, docs, catalog, cfg, batch_id)


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
         ``stream_near_dups`` (see ``_probe_tier``).
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
    (exact-row duplicates, see ``_probe_tier``)."""
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
