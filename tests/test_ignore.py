"""Ignore-list CRUD, anti-join filtering, stale cleanup (ignore.rs:139-308)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cargo_dupes_spark.operators.groups import filter_ignored, stale_ignore_entries
from cargo_dupes_spark.schemas import IGNORE, MEMBERSHIPS
from cargo_dupes_spark.sources.catalog import Catalog
from cargo_dupes_spark.sources.ignore import (
    add_ignore,
    is_ignored,
    load_ignore,
    remove_ignore,
    remove_stale,
)


def _catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "wh"), "cfg0")


def test_crud(spark, tmp_path):
    cat = _catalog(spark, tmp_path)
    assert load_ignore(cat).count() == 0
    assert add_ignore(cat, 42, "known dup")
    assert not add_ignore(cat, 42)  # insert-if-absent (ignore.rs:66-78)
    assert is_ignored(cat, 42)
    assert not is_ignored(cat, 43)
    assert add_ignore(cat, 99)
    assert load_ignore(cat).count() == 2
    assert remove_ignore(cat, 42)
    assert not remove_ignore(cat, 42)
    assert load_ignore(cat).count() == 1


def test_filter_ignored(spark):
    memberships = spark.createDataFrame(
        [("u1", 10, "exact", 1.0), ("u2", 10, "exact", 1.0),
         ("u3", 20, "near", 0.9)],
        MEMBERSHIPS,
    )
    ignore = spark.createDataFrame([(10, "seen")], IGNORE)
    left = filter_ignored(memberships, ignore)
    assert {r.url for r in left.collect()} == {"u3"}


def test_stale_detection_and_cleanup(spark, tmp_path):
    cat = _catalog(spark, tmp_path)
    add_ignore(cat, 10, "live")
    add_ignore(cat, 777, "stale")
    memberships = spark.createDataFrame(
        [("u1", 10, "exact", 1.0)], MEMBERSHIPS
    )
    stale = stale_ignore_entries(load_ignore(cat), memberships)
    assert {r.fingerprint for r in stale.collect()} == {777}
    removed = remove_stale(cat, memberships)
    assert {r.fingerprint for r in removed.collect()} == {777}
    assert {r.fingerprint for r in load_ignore(cat).collect()} == {10}


def test_cli_report_wide_fingerprints(tmp_path):
    """`cli report` at fingerprint_bits = 128 with no ignore table yet: the
    empty ignore list must take the 128-bit (string) schema, so the
    report's anti-join does not fail on a bigint/string mismatch."""
    import subprocess
    import sys
    from pathlib import Path

    cfg_path = tmp_path / "pipeline.toml"
    cfg_path.write_text("[pipeline]\nfingerprint_bits = 128\n")
    proc = subprocess.run(
        [
            sys.executable, "-m", "cargo_dupes_spark.cli",
            "--config", str(cfg_path),
            "--warehouse", str(tmp_path / "wh"),
            "--parallelism", "4",
            "--detectors", "minhash",
            "report",
        ],
        capture_output=True, text=True, timeout=600,
        cwd=Path(__file__).resolve().parents[1],
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
