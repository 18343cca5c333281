"""Structured Streaming incremental dedup: two arrival waves, cross-wave
exact-dup detection against accumulated state, checkpoint-based resume (the
second query run must NOT reprocess wave-1 files), and watermarked windowed
ingest stats."""

from __future__ import annotations

import datetime as dt

import pytest

from cargo_dupes_spark.config import PipelineConfig
from cargo_dupes_spark.schemas import WEB_PAGES
from cargo_dupes_spark.sources.catalog import Catalog
from cargo_dupes_spark.streaming.incremental import (
    incremental_exact_dedup,
    load_stream_dups,
    load_stream_state,
    read_web_pages_stream,
    windowed_doc_stats,
)

TS = dt.datetime(2026, 1, 1, 12, 0, 0)


def _pages(spark, rows):
    data = [
        (url, ts, None, text, lang) for (url, ts, text, lang) in rows
    ]
    return spark.createDataFrame(data, WEB_PAGES)


WAVE1 = [
    ("http://a.example/1", TS, "alpha beta gamma delta epsilon zeta one", "en"),
    ("http://a.example/2", TS, "alpha beta gamma delta epsilon zeta one", "en"),
    ("http://a.example/3", TS, "totally different content words here now two", "en"),
]
WAVE2 = [
    # byte-identical to wave-1 url /1 -> cross-wave dup
    ("http://b.example/9", TS, "alpha beta gamma delta epsilon zeta one", "en"),
    ("http://b.example/10", TS, "fresh new never seen text in wave two", "en"),
]


@pytest.fixture()
def stream_env(spark, tmp_path):
    cfg = PipelineConfig(warehouse=str(tmp_path / "wh"))
    catalog = Catalog(spark, cfg.warehouse, cfg.config_hash())
    drop_dir = tmp_path / "drops"
    drop_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    return cfg, catalog, str(drop_dir), ckpt


def _drain(stream_df, catalog, cfg, ckpt):
    q = incremental_exact_dedup(stream_df, catalog, cfg, ckpt)
    q.awaitTermination(120)
    assert not q.isActive


def test_incremental_dedup_two_waves(spark, stream_env):
    cfg, catalog, drop_dir, ckpt = stream_env

    _pages(spark, WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    state1 = {r.url for r in load_stream_state(catalog).collect()}
    dups1 = {(r.url, r.matched_url) for r in load_stream_dups(catalog).collect()}
    # in-batch dup: /2 matched to /1 (earliest url); state holds one row per fp
    assert state1 == {"http://a.example/1", "http://a.example/3"}
    assert dups1 == {("http://a.example/2", "http://a.example/1")}

    _pages(spark, WAVE2).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    state2 = {r.url for r in load_stream_state(catalog).collect()}
    dups2 = {(r.url, r.matched_url) for r in load_stream_dups(catalog).collect()}
    # cross-wave dup detected against state; only the genuinely new doc
    # entered state; wave-1 rows were NOT reprocessed (their dup row count
    # is unchanged — checkpoint resume skipped the already-read file)
    assert state2 == state1 | {"http://b.example/10"}
    assert dups2 == dups1 | {("http://b.example/9", "http://a.example/1")}
    # replay-safety: state reader collapses to one row per url
    assert load_stream_state(catalog).count() == 3


def test_replayed_batch_is_noop(spark, stream_env, tmp_path):
    """Crash-replay contract: state appends committed but the streaming
    checkpoint lost -> the same files replay as a fresh batch against the
    committed state. The replay must append nothing to state and record no
    self-duplicates (url == matched_url)."""
    cfg, catalog, drop_dir, ckpt = stream_env
    _pages(spark, WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    state1 = sorted(
        (r.url, r.fingerprint) for r in load_stream_state(catalog).collect()
    )
    dups1 = {(r.url, r.matched_url) for r in load_stream_dups(catalog).collect()}

    # replay: fresh checkpoint dir, same drops, same committed state
    _drain(
        read_web_pages_stream(spark, drop_dir), catalog, cfg,
        str(tmp_path / "ckpt_replay"),
    )
    state2 = sorted(
        (r.url, r.fingerprint) for r in load_stream_state(catalog).collect()
    )
    dups2 = {(r.url, r.matched_url) for r in load_stream_dups(catalog).collect()}
    assert state2 == state1
    assert dups2 == dups1
    assert all(u != m for u, m in dups2)


def test_cli_stream_subcommand(spark, stream_env, tmp_path):
    """`cli stream <dir>` drains available drops in a fresh process and
    reports the duplicate-arrival count (wiring test for the O3 surface)."""
    import subprocess
    import sys

    cfg, _, drop_dir, _ = stream_env
    _pages(spark, WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    proc = subprocess.run(
        [
            sys.executable, "-m", "cargo_dupes_spark.cli",
            "--warehouse", cfg.warehouse,
            "--parallelism", "4",
            "stream", drop_dir,
        ],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "1 duplicate arrivals recorded" in proc.stdout


def test_windowed_doc_stats(spark, stream_env):
    _, _, drop_dir, ckpt = stream_env
    rows = [
        ("u1", dt.datetime(2026, 1, 1, 12, 5), "aa bb cc dd ee ff", "en"),
        ("u2", dt.datetime(2026, 1, 1, 12, 40), "gg hh ii jj kk ll", "en"),
        ("u3", dt.datetime(2026, 1, 1, 13, 10), "mm nn oo pp qq rr", "de"),
    ]
    _pages(spark, rows).coalesce(1).write.mode("append").parquet(drop_dir)

    out = windowed_doc_stats(read_web_pages_stream(spark, drop_dir))
    q = (
        out.writeStream.format("memory")
        .queryName("win_stats")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start.hour, r.lang): r.n_docs
        for r in spark.table("win_stats").collect()
    }
    assert got == {(12, "en"): 2, (13, "de"): 1}


# ---------------------------------------------------------------------------
# NEAR tier (VERDICT r3 #4): band-key state + exact-Jaccard verify
# ---------------------------------------------------------------------------
_WORDS = [a + b for a in "abcdefgh" for b in "abcdefgh"]  # survive masking
_LONG = " ".join(_WORDS[:40])
_LONG_EDITED = _LONG + " zz"  # one appended token: shingle Jaccard 38/39
_LONG_EDITED2 = _LONG + " qq"

NEAR_WAVE1 = [
    ("http://n.example/1", TS, _LONG, "en"),
    # in-batch near pair: suffix-edited copy arriving in the same wave
    ("http://n.example/2", TS, _LONG_EDITED, "en"),
    ("http://n.example/3", TS, " ".join(_WORDS[40:64]), "en"),
]
NEAR_WAVE2 = [
    # cross-wave NEAR dup of wave-1 /1 (the VERDICT's done-criterion case)
    ("http://o.example/9", TS, _LONG_EDITED2, "en"),
    ("http://o.example/10", TS, " ".join(reversed(_WORDS[:30])), "en"),
]


def _drain_near(stream_df, catalog, cfg, ckpt):
    from cargo_dupes_spark.streaming.incremental import incremental_dedup

    q = incremental_dedup(
        stream_df, catalog, cfg, ckpt, tiers=("exact", "near")
    )
    q.awaitTermination(180)
    assert not q.isActive


def test_incremental_near_dedup_two_waves(spark, stream_env):
    from cargo_dupes_spark.streaming.incremental import (
        BANDS_TABLE,
        SIGS_TABLE,
        load_stream_near_dups,
    )

    cfg, catalog, drop_dir, ckpt = stream_env

    _pages(spark, NEAR_WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_near(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    near1 = {
        (r.url, r.matched_url): r.similarity
        for r in load_stream_near_dups(catalog).collect()
    }
    # in-batch near pair detected, matched to the smaller url
    assert set(near1) == {("http://n.example/2", "http://n.example/1")}
    assert near1[("http://n.example/2", "http://n.example/1")] >= cfg.jaccard_threshold
    # only canonical docs own band/sig state
    state_urls = {r.url for r in catalog.read(SIGS_TABLE).collect()}
    assert state_urls == {"http://n.example/1", "http://n.example/3"}
    assert {r.url for r in catalog.read(BANDS_TABLE).collect()} == state_urls

    _pages(spark, NEAR_WAVE2).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_near(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    near2 = {
        (r.url, r.matched_url)
        for r in load_stream_near_dups(catalog).collect()
    }
    # suffix-edited copy arriving in wave 2 matches wave 1's original
    assert near2 == set(near1) | {("http://o.example/9", "http://n.example/1")}
    state_urls2 = {r.url for r in catalog.read(SIGS_TABLE).collect()}
    assert state_urls2 == state_urls | {"http://o.example/10"}


def test_near_replayed_batch_is_noop(spark, stream_env, tmp_path):
    from cargo_dupes_spark.streaming.incremental import (
        BANDS_TABLE,
        load_stream_near_dups,
    )

    cfg, catalog, drop_dir, ckpt = stream_env
    _pages(spark, NEAR_WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_near(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    near1 = {
        (r.url, r.matched_url)
        for r in load_stream_near_dups(catalog).collect()
    }
    bands1 = sorted(
        (r.url, r.band_key) for r in catalog.read(BANDS_TABLE).collect()
    )

    # replay: fresh checkpoint, same drops, same committed state
    _drain_near(
        read_web_pages_stream(spark, drop_dir), catalog, cfg,
        str(tmp_path / "ckpt_replay_near"),
    )
    near2 = {
        (r.url, r.matched_url)
        for r in load_stream_near_dups(catalog).collect()
    }
    bands2 = sorted(
        (r.url, r.band_key) for r in catalog.read(BANDS_TABLE).collect()
    )
    assert near2 == near1
    assert bands2 == bands1
    assert all(u != m for u, m in near2)


def test_legacy_flat_state_resumes_as_is(spark, stream_env, tmp_path):
    """A warehouse whose stream_fps is flat part-files without any bucket
    column (the oldest layout, and the current one) resumes untouched and
    keeps detecting cross-wave dups."""
    cfg, catalog, drop_dir, ckpt = stream_env
    _pages(spark, WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    # the same rows, written by hand as one flat file in a fresh warehouse
    legacy_rows = load_stream_state(catalog).select(
        "url", "fingerprint", "n_tokens", "batch_id"
    )
    wh2 = tmp_path / "wh_legacy"
    catalog2 = Catalog(spark, str(wh2), cfg.config_hash())
    legacy_rows.coalesce(1).write.parquet(str(wh2 / "stream_fps"))
    root = wh2 / "stream_fps"
    legacy_files = sorted(p.name for p in root.glob("*.parquet"))
    assert legacy_files

    drops2 = tmp_path / "drops2"
    drops2.mkdir()
    _pages(spark, WAVE2).coalesce(1).write.mode("append").parquet(str(drops2))
    _drain(
        read_web_pages_stream(spark, str(drops2)), catalog2, cfg,
        str(tmp_path / "ckpt_legacy"),
    )
    # the legacy files are still there, next to the new flat appends
    assert set(legacy_files) <= {p.name for p in root.glob("*.parquet")}
    assert not [p for p in root.iterdir() if p.is_dir()]
    dups = {
        (r.url, r.matched_url) for r in load_stream_dups(catalog2).collect()
    }
    assert ("http://b.example/9", "http://a.example/1") in dups
    state = load_stream_state(catalog2)
    assert state.columns == ["url", "fingerprint", "n_tokens", "batch_id"]
    assert state.count() == 3  # 2 legacy + 1 new, no duplicates


def test_near_state_recovers_after_partial_crash(spark, stream_env, tmp_path):
    """Crash bridge: a batch that committed EXACT state but crashed before
    the near tier's commits must, on replay, still populate band/shingle
    state for its canonical docs (they are in stream_fps under their own
    urls) — otherwise every future near-dup of those docs is silently
    missed. Simulated by draining exact-only first (exact state committed,
    near state absent), then replaying the same drops with the near tier
    on a fresh checkpoint."""
    from cargo_dupes_spark.streaming.incremental import (
        SIGS_TABLE,
        load_stream_near_dups,
    )

    cfg, catalog, drop_dir, ckpt = stream_env
    _pages(spark, NEAR_WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    # "crashed" run: only the exact tier committed
    _drain(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    assert not catalog.exists(SIGS_TABLE)

    # replay with the near tier enabled (fresh checkpoint = lost checkpoint)
    _drain_near(
        read_web_pages_stream(spark, drop_dir), catalog, cfg,
        str(tmp_path / "ckpt_bridge"),
    )
    state_urls = {r.url for r in catalog.read(SIGS_TABLE).collect()}
    assert state_urls == {"http://n.example/1", "http://n.example/3"}

    # and a later near-dup arrival is detected against the recovered state
    _pages(spark, NEAR_WAVE2).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_near(
        read_web_pages_stream(spark, drop_dir), catalog, cfg,
        str(tmp_path / "ckpt_bridge"),
    )
    near = {
        (r.url, r.matched_url)
        for r in load_stream_near_dups(catalog).collect()
    }
    assert ("http://o.example/9", "http://n.example/1") in near


def test_empty_gated_batch_does_not_brick_state(spark, stream_env):
    """A first batch whose docs are ALL gated out (tiny docs) must not leave
    schema-less table dirs that brick the next batch's state probe."""
    cfg, catalog, drop_dir, ckpt = stream_env
    tiny = [("http://t.example/1", TS, "too short", "en")]
    _pages(spark, tiny).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_near(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    # second batch with real docs must process cleanly
    _pages(spark, NEAR_WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_near(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    state = {r.url for r in load_stream_state(catalog).collect()}
    assert "http://n.example/1" in state


# ---------------------------------------------------------------------------
# substring tier (VERDICT r4 #5): a drained doc containing (or contained in)
# a prior doc at >= min_substring_len chars is detected against winnow state
# ---------------------------------------------------------------------------
# distinct letter-only words (digits would mask to a repeating pattern under
# number masking, making a text contain its own reversal)
_BASE_TEXT = " ".join(
    f"{a}{b}ward" for a in "abcdefgh" for b in "klmnopqr"
)  # 64 distinct 6-char words, ~450 chars


SUB_WAVE1 = [
    ("http://s.example/1", TS, _BASE_TEXT, "en"),
    ("http://s.example/2", TS, " ".join(reversed(_BASE_TEXT.split())), "en"),
]
SUB_WAVE2 = [
    # contains wave-1 url /1's full text plus fresh prefix/suffix
    (
        "http://t.example/9",
        TS,
        "fresh preamble words " + _BASE_TEXT + " trailing addendum",
        "en",
    ),
    (
        "http://t.example/10",
        TS,
        # long enough to clear the min_substring_len eligibility gate
        "nothing shared with anything here at all "
        "separate vocabulary entirely distinct material unrelated prose",
        "en",
    ),
]


def _drain_substr(stream_df, catalog, cfg, ckpt):
    from cargo_dupes_spark.streaming.incremental import incremental_dedup

    q = incremental_dedup(
        stream_df, catalog, cfg, ckpt, tiers=("exact", "substring")
    )
    q.awaitTermination(180)
    assert not q.isActive


def test_incremental_substring_dedup_two_waves(spark, stream_env):
    from cargo_dupes_spark.functions.normalize import normalize_text_col
    from cargo_dupes_spark.streaming.incremental import (
        TEXTS_TABLE,
        WINNOW_TABLE,
        load_stream_substring_dups,
    )

    cfg, catalog, drop_dir, ckpt = stream_env

    _pages(spark, SUB_WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_substr(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    # wave 1: no containment (same tokens, different order -> no >=64-char
    # common run); both docs enter state
    assert load_stream_substring_dups(catalog).count() == 0
    state_urls = {r.url for r in catalog.read(TEXTS_TABLE).collect()}
    assert state_urls == {"http://s.example/1", "http://s.example/2"}
    assert {r.url for r in catalog.read(WINNOW_TABLE).collect()} == state_urls

    _pages(spark, SUB_WAVE2).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_substr(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    dups = {
        (r.url, r.matched_url): r
        for r in load_stream_substring_dups(catalog).collect()
    }
    assert set(dups) == {("http://t.example/9", "http://s.example/1")}
    row = dups[("http://t.example/9", "http://s.example/1")]
    # the contained side is the full wave-1 norm_text -> lcs == its length,
    # similarity == 1.0 (full containment)
    norm_len = len(
        spark.createDataFrame([(_BASE_TEXT,)], "text string")
        .select(normalize_text_col("text", cfg).alias("n"))
        .first()
        .n
    )
    assert row.lcs_len == norm_len
    assert row.similarity == 1.0
    # only canonical (non-dup) docs joined state
    state2 = {r.url for r in catalog.read(TEXTS_TABLE).collect()}
    assert state2 == state_urls | {"http://t.example/10"}


def test_substring_in_batch_detection(spark, stream_env):
    from cargo_dupes_spark.streaming.incremental import (
        load_stream_substring_dups,
    )

    cfg, catalog, drop_dir, ckpt = stream_env
    both = SUB_WAVE1 + [
        ("http://s.example/3", TS, _BASE_TEXT + " extra suffix words", "en")
    ]
    _pages(spark, both).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_substr(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    dups = {
        (r.url, r.matched_url)
        for r in load_stream_substring_dups(catalog).collect()
    }
    # in-batch containment, matched to the smaller url
    assert dups == {("http://s.example/3", "http://s.example/1")}


def test_substring_replayed_batch_is_noop(spark, stream_env, tmp_path):
    from cargo_dupes_spark.streaming.incremental import (
        WINNOW_TABLE,
        load_stream_substring_dups,
    )

    cfg, catalog, drop_dir, ckpt = stream_env
    _pages(spark, SUB_WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_substr(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    dups1 = {
        (r.url, r.matched_url)
        for r in load_stream_substring_dups(catalog).collect()
    }
    fps1 = sorted(
        (r.url, r.band_key) for r in catalog.read(WINNOW_TABLE).collect()
    )

    # replay: fresh checkpoint, same drops, same committed state
    _drain_substr(
        read_web_pages_stream(spark, drop_dir), catalog, cfg,
        str(tmp_path / "ckpt_replay_substr"),
    )
    dups2 = {
        (r.url, r.matched_url)
        for r in load_stream_substring_dups(catalog).collect()
    }
    fps2 = sorted(
        (r.url, r.band_key) for r in catalog.read(WINNOW_TABLE).collect()
    )
    assert dups2 == dups1
    assert fps2 == fps1
    assert all(u != m for u, m in dups2)


# ---------------------------------------------------------------------------
# state layout: flat probe tables, url-bucketed payload tables
# ---------------------------------------------------------------------------
def _drain_tiers(stream_df, catalog, cfg, ckpt, tiers):
    from cargo_dupes_spark.streaming.incremental import incremental_dedup

    q = incremental_dedup(stream_df, catalog, cfg, ckpt, tiers=tiers)
    q.awaitTermination(180)
    assert not q.isActive


def _rows(catalog, table, *cols):
    return {tuple(r) for r in catalog.read(table).select(*cols).collect()}


def test_probe_appends_one_file_per_writer_task(spark, stream_env):
    """Each trigger adds at most one part-file per writer task to each
    probe table, straight under the table root (a hash-bucketed layout
    wrote one file per bucket per task)."""
    from cargo_dupes_spark.streaming.incremental import (
        BANDS_TABLE,
        STATE_TABLE,
        WINNOW_TABLE,
    )

    cfg, catalog, drop_dir, ckpt = stream_env
    probes = (STATE_TABLE, BANDS_TABLE, WINNOW_TABLE)
    tasks = {}
    real_append = catalog.append

    def counting_append(df, name, partition_by=None):
        real_append(df, name, partition_by)
        if name in probes:
            tasks[name] = tasks.get(name, 0) + df.rdd.getNumPartitions()

    catalog.append = counting_append
    tiers = ("exact", "near", "substring")
    files = {}
    for wave in (NEAR_WAVE1 + SUB_WAVE1, NEAR_WAVE2 + SUB_WAVE2):
        tasks.clear()
        _pages(spark, wave).coalesce(1).write.mode("append").parquet(drop_dir)
        _drain_tiers(
            read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt, tiers
        )
        for name in probes:
            root = catalog._path(name)
            assert not [p for p in root.iterdir() if p.is_dir()], name
            now = len(list(root.glob("*.parquet")))
            assert 0 < now - files.get(name, 0) <= tasks[name], name
            files[name] = now


def test_sigs_fetch_prunes_partitions(spark, stream_env):
    """The pruning that remains: fetching shingles for matched state urls
    lands as a PartitionFilter on sig_bucket and returns only those
    buckets' rows."""
    from pyspark.sql import functions as F

    from cargo_dupes_spark.streaming.incremental import (
        SIGS_TABLE,
        matched_payload,
    )

    cfg, catalog, drop_dir, ckpt = stream_env
    _pages(spark, NEAR_WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_near(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    cross = spark.createDataFrame(
        [("http://o.example/9", "http://n.example/1")], "url string, matched_url string"
    )
    fetch = matched_payload(catalog, cfg, SIGS_TABLE, cross)
    plan = fetch._jdf.queryExecution().executedPlan().toString()
    parts = plan.split("PartitionFilters:", 1)
    assert len(parts) == 2 and "sig_bucket" in parts[1][:300], plan
    bucket = (
        catalog.read(SIGS_TABLE)
        .filter(F.col("url") == "http://n.example/1")
        .first()
        .sig_bucket
    )
    got = fetch.collect()
    assert {r.sig_bucket for r in got} == {bucket}
    assert "http://n.example/1" in {r.url for r in got}
    assert matched_payload(catalog, cfg, SIGS_TABLE, cross.limit(0)) is None


EXACT_NEAR_WAVE1 = NEAR_WAVE1 + [
    # byte-identical to /1 -> in-batch exact dup
    ("http://n.example/4", TS, _LONG, "en"),
]


def test_crash_before_exact_commit_replays_clean(
    spark, stream_env, tmp_path
):
    """The exact commit overlaps the near tier, so a batch can crash with
    its near state committed and its exact state not. Replaying it must
    leave the same exact, dup and near tables as a clean run. The failed
    commit also shows that the commit thread's jobs carry the batch's job
    description."""
    from cargo_dupes_spark.streaming.incremental import (
        BANDS_TABLE,
        NEAR_DUPS_TABLE,
        SIGS_TABLE,
        STATE_TABLE,
        incremental_dedup,
        load_stream_near_dups,
    )

    cfg, catalog, drop_dir, ckpt = stream_env
    _pages(spark, EXACT_NEAR_WAVE1).coalesce(1).write.mode("append").parquet(
        drop_dir
    )
    _drain_near(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    def tables(cat):
        return (
            _rows(cat, STATE_TABLE, "url", "fingerprint"),
            {(r.url, r.matched_url) for r in load_stream_dups(cat).collect()},
            {
                (r.url, r.matched_url, r.similarity)
                for r in load_stream_near_dups(cat).collect()
            },
            _rows(cat, SIGS_TABLE, "url"),
            _rows(cat, BANDS_TABLE, "url", "band_key"),
        )

    clean = tables(catalog)
    assert clean[1] == {("http://n.example/4", "http://n.example/1")}

    wh2 = tmp_path / "wh_crash"
    crashed = Catalog(spark, str(wh2), cfg.config_hash())
    ckpt2 = str(tmp_path / "ckpt_crash")
    real_append = crashed.append
    descriptions = []

    def crash_on_exact(df, name, partition_by=None):
        if name == STATE_TABLE:
            descriptions.append(
                spark.sparkContext.getLocalProperty("spark.job.description")
            )
            raise RuntimeError("simulated crash before the exact commit")
        real_append(df, name, partition_by)

    crashed.append = crash_on_exact
    q = incremental_dedup(
        read_web_pages_stream(spark, drop_dir), crashed, cfg, ckpt2,
        tiers=("exact", "near"),
    )
    with pytest.raises(Exception, match="simulated crash"):
        q.awaitTermination(180)
    assert descriptions and "batch = 0" in descriptions[0]
    assert crashed.exists(NEAR_DUPS_TABLE) and crashed.exists(BANDS_TABLE)
    assert not crashed.exists(STATE_TABLE)

    crashed.append = real_append
    _drain_near(read_web_pages_stream(spark, drop_dir), crashed, cfg, ckpt2)
    assert tables(crashed) == clean


# ---------------------------------------------------------------------------
# one candidate-key path: the streaming tiers' state keys are the bucket keys
# the batch tier builds for the same docs
# ---------------------------------------------------------------------------
def test_stream_band_keys_match_pipeline_signatures(spark, stream_env, tmp_path):
    from pyspark.sql import functions as F

    from cargo_dupes_spark.plans.pipeline import Pipeline
    from cargo_dupes_spark.streaming.incremental import BANDS_TABLE

    cfg, catalog, drop_dir, ckpt = stream_env
    # three docs no two of which are near dups: all enter band state
    rows = [NEAR_WAVE1[0], NEAR_WAVE1[2], NEAR_WAVE2[1]]
    _pages(spark, rows).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_near(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    got = {(r.url, r.band_key) for r in catalog.read(BANDS_TABLE).collect()}

    batch_cfg = PipelineConfig(warehouse=str(tmp_path / "wh_batch"))
    out = Pipeline(spark, batch_cfg, detectors=("minhash",)).run(
        _pages(spark, rows)
    )
    want = {
        (r.url, r.band_key)
        for r in out["signatures"]
        .select("url", F.explode("band_keys").alias("band_key"))
        .collect()
    }
    assert {u for u, _ in want} == {r[0] for r in rows}
    assert got == want


def test_stream_winnow_keys_match_substring_candidates(
    spark, stream_env, monkeypatch
):
    from cargo_dupes_spark.operators import lsh
    from cargo_dupes_spark.operators.exact import apply_gates, prepare_columns
    from cargo_dupes_spark.operators.substring import substring_candidates
    from cargo_dupes_spark.streaming.incremental import WINNOW_TABLE

    cfg, catalog, drop_dir, ckpt = stream_env
    _pages(spark, SUB_WAVE1).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_substr(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    got = {(r.url, r.band_key) for r in catalog.read(WINNOW_TABLE).collect()}

    # the bucket rows substring_candidates hands to pair generation
    seen = []
    real = lsh.pairs_from_buckets

    def spy(bucketed, *args, **kwargs):
        seen.append({(r.url, r.band_key) for r in bucketed.collect()})
        return real(bucketed, *args, **kwargs)

    monkeypatch.setattr(lsh, "pairs_from_buckets", spy)
    fps = apply_gates(prepare_columns(_pages(spark, SUB_WAVE1), cfg), cfg)
    substring_candidates(fps, cfg)
    assert {u for u, _ in got} == {r[0] for r in SUB_WAVE1}
    assert seen == [got]


def test_repeated_url_in_drop_keeps_one_row(spark, stream_env):
    """A drop that repeats a url — once with the same text, once with a
    different one — enters state once per url and yields no duplicate or
    self pairs on the near and substring tiers."""
    from cargo_dupes_spark.streaming.incremental import (
        NEAR_DUPS_TABLE,
        SIGS_TABLE,
        STATE_TABLE,
        SUBSTR_DUPS_TABLE,
        TEXTS_TABLE,
    )

    cfg, catalog, drop_dir, ckpt = stream_env
    rows = [
        ("http://r.example/1", TS, _LONG, "en"),
        ("http://r.example/1", TS, _LONG, "en"),
        ("http://r.example/2", TS, _LONG_EDITED, "en"),
        ("http://r.example/2", TS, _LONG_EDITED2, "en"),
        ("http://r.example/3", TS, _BASE_TEXT, "en"),
        ("http://r.example/3", TS, _BASE_TEXT + " extra suffix words", "en"),
        ("http://r.example/4", TS, "fresh preamble words " + _BASE_TEXT, "en"),
    ]
    _pages(spark, rows).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_tiers(
        read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt,
        ("exact", "near", "substring"),
    )
    for table in (STATE_TABLE, SIGS_TABLE, TEXTS_TABLE):
        urls = [r.url for r in catalog.read(table).collect()]
        assert len(urls) == len(set(urls)), (table, urls)
    for table in (NEAR_DUPS_TABLE, SUBSTR_DUPS_TABLE):
        pairs = [(r.url, r.matched_url) for r in catalog.read(table).collect()]
        assert len(pairs) == len(set(pairs)), (table, pairs)
        assert all(u != m for u, m in pairs), (table, pairs)
    near = _rows(catalog, NEAR_DUPS_TABLE, "url", "matched_url")
    assert ("http://r.example/2", "http://r.example/1") in near
    substr = _rows(catalog, SUBSTR_DUPS_TABLE, "url", "matched_url")
    assert ("http://r.example/4", "http://r.example/3") in substr


def _jaccard(spark, cfg, text_a, text_b):
    """Exact shingle Jaccard of two texts, through the stream's own
    normalize and shingle code."""
    from cargo_dupes_spark.functions.shingles import with_shingles
    from cargo_dupes_spark.streaming.incremental import _fingerprint_batch

    docs = _fingerprint_batch(
        _pages(spark, [("a", TS, text_a, "en"), ("b", TS, text_b, "en")]),
        cfg,
        with_text=True,
    )
    sh = {
        r.url: set(r.shingles)
        for r in with_shingles(
            docs, "norm_text", cfg.shingle_k, cfg.shingle_seed
        ).collect()
    }
    return len(sh["a"] & sh["b"]) / len(sh["a"] | sh["b"])


@pytest.mark.parametrize("y", ["http://a.example/2", "http://y.example/2"])
def test_resent_url_batch_copy_wins(spark, stream_env, monkeypatch, y):
    """A url re-sent with changed text while another doc of the same batch
    matches the url's STATE copy: the verify payload holds one row per url
    (the contract check raises otherwise), the pair is verified against
    the batch's copy, and it is written once, in the in-batch orientation
    (smaller url matched), whichever url sorts first; no self edge."""
    from cargo_dupes_spark.streaming.incremental import NEAR_DUPS_TABLE

    monkeypatch.setenv("CARGO_DUPES_DEBUG_CONTRACTS", "1")
    cfg, catalog, drop_dir, ckpt = stream_env
    x = "http://x.example/1"
    _pages(spark, [(x, TS, _LONG, "en")]).coalesce(1).write.mode(
        "append"
    ).parquet(drop_dir)
    _drain_near(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    assert not catalog.exists(NEAR_DUPS_TABLE) or not catalog.read(
        NEAR_DUPS_TABLE
    ).count()

    # y is a near copy of x's state text AND of x's new text: a cross pair
    # (through x's state bands) and an in-batch pair, both of x and y
    wave2 = [(x, TS, _LONG_EDITED, "en"), (y, TS, _LONG_EDITED2, "en")]
    _pages(spark, wave2).coalesce(1).write.mode("append").parquet(drop_dir)
    _drain_near(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)

    rows = catalog.read(NEAR_DUPS_TABLE).collect()
    assert [(r.url, r.matched_url) for r in rows] == [(max(x, y), min(x, y))]
    batch_j = round(_jaccard(spark, cfg, _LONG_EDITED, _LONG_EDITED2), 6)
    state_j = round(_jaccard(spark, cfg, _LONG, _LONG_EDITED2), 6)
    assert batch_j != state_j
    assert rows[0].similarity == batch_j


def test_hot_keys_sized_over_batch_keys_only(spark, stream_env, tmp_path):
    """Hot probe keys are sized over the keys the batch carries: of two
    planted hot band keys, only the one a batch doc carries is dropped and
    counted in dropped_band_keys."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from cargo_dupes_spark.streaming.incremental import BANDS_TABLE

    cfg, catalog, drop_dir, ckpt = stream_env
    cfg = replace(cfg, max_bucket_size=4)
    _pages(spark, NEAR_WAVE2).coalesce(1).write.mode("append").parquet(
        drop_dir
    )

    # the band keys the batch carries, from a run into a second warehouse
    keys_run = Catalog(spark, str(tmp_path / "wh_keys"), cfg.config_hash())
    _drain_near(
        read_web_pages_stream(spark, drop_dir), keys_run, cfg,
        str(tmp_path / "ckpt_keys"),
    )
    bands = keys_run.read(BANDS_TABLE)
    carried = {r.band_key for r in bands.collect()}
    hit_key = min(
        r.band_key
        for r in bands.filter(F.col("url") == "http://o.example/10").collect()
    )
    miss_key = next(k for k in range(1, 100) if k not in carried)
    planted = [
        (f"http://hot.example/{k}/{i}", k, -1)
        for k in (hit_key, miss_key)
        for i in range(cfg.max_bucket_size + 1)
    ]
    catalog.append(spark.createDataFrame(planted, bands.schema), BANDS_TABLE)

    _drain_near(read_web_pages_stream(spark, drop_dir), catalog, cfg, ckpt)
    dropped = [
        r.value
        for r in catalog.read_metrics()
        .filter(F.col("metric") == "dropped_band_keys")
        .collect()
    ]
    assert dropped == [1.0]
