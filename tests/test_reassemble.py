"""verify.reassemble_pairs — the one pair-reassembly shape that the batch,
substring and ANN verify steps (and through them the streaming tiers)
share."""

from __future__ import annotations

import pytest

from cargo_dupes_spark.operators.verify import reassemble_pairs


def test_two_columns_missing_side_drops_pair_columns_kept(spark):
    pairs = spark.createDataFrame(
        [
            ("u1", "u2", "near", 7),
            ("u1", "u3", "simhash", 8),
            ("u2", "gone", "near", 9),  # url_b absent from the payload
            ("gone", "u3", "near", 10),  # url_a absent from the payload
        ],
        "url_a string, url_b string, tier string, extra int",
    )
    payload = spark.createDataFrame(
        [("u1", "t1", 1), ("u2", "t2", 2), ("u3", "t3", 3)],
        "url string, text string, n int",
    )
    out = reassemble_pairs(pairs, payload, ["text", "n"])
    assert out.columns == [
        "url_a", "url_b", "tier", "extra", "text_a", "text_b", "n_a", "n_b",
    ]
    assert sorted(tuple(r) for r in out.collect()) == [
        ("u1", "u2", "near", 7, "t1", "t2", 1, 2),
        ("u1", "u3", "simhash", 8, "t1", "t3", 1, 3),
    ]


def test_custom_ids_and_contract_site(spark, monkeypatch):
    pairs = spark.createDataFrame([(1, 2)], "nid_a bigint, nid_b bigint")
    payload = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "dup")], "vec_id bigint, v string"
    )
    monkeypatch.setenv("CARGO_DUPES_DEBUG_CONTRACTS", "1")
    with pytest.raises(ValueError, match="my_site"):
        reassemble_pairs(
            pairs, payload, ["v"], ids=("nid_a", "nid_b"), id_col="vec_id",
            site="my_site",
        )
    monkeypatch.delenv("CARGO_DUPES_DEBUG_CONTRACTS")
    out = reassemble_pairs(
        pairs, payload.filter("v != 'dup'"), ["v"],
        ids=("nid_a", "nid_b"), id_col="vec_id",
    )
    assert [tuple(r) for r in out.collect()] == [(1, 2, "a", "b")]
