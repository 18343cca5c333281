"""Driver-contract smoke: entry() + every query vs its DuckDB oracle at
sf0.001 (the cheap mirror of the driver's sf0.01 gate)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{SF}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"id_a", "id_b", "jaccard_e6"}


def test_every_query_has_an_oracle():
    # round 5 closed the last two no_oracle rows (the ANN top-k surfaces now
    # run in exhaustive-candidate configs, making brute-force SQL the exact
    # expected output) — every driver query is oracle-checked
    q = set(entry_mod.queries())
    o = set(entry_mod.oracle_sql())
    assert o == q


def test_ann_real_config_still_runs_deterministically(spark):
    """The REAL (selective) ANN configs remain exercised: approximate by
    design, so pinned as deterministic non-empty output rather than by SQL
    (the driver rows cover the exhaustive configs; recall is covered by the
    planted-recall oracles)."""
    from cargo_dupes_spark.operators.similarity import ivf_topk, lsh_topk
    from pyspark.sql import functions as F

    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    dim = len(emb.select("embedding").first()[0])
    for fn, kw in (
        (lsh_topk, {"n_planes": 8, "n_tables": 8}),
        (ivf_topk, {"n_centroids": 16, "nprobe": 2}),
    ):
        df1 = fn(emb, k=5, dim=dim, **kw).toPandas()
        df2 = fn(emb, k=5, dim=dim, **kw).toPandas()
        assert len(df1) > 0
        assert set(df1.columns) == {"query_id", "neighbor_id", "cosine", "rank"}
        pd.testing.assert_frame_equal(_canon(df1), _canon(df2))


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql()))
def test_query_matches_oracle(spark, duck, name):
    sdf = entry_mod.queries()[name](spark, SF).toPandas()
    ddf = duck.execute(entry_mod.oracle_sql()[name]).fetchdf()
    a, b = _canon(sdf), _canon(ddf)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b), f"{name}: {len(a)} vs {len(b)} rows"
    pd.testing.assert_frame_equal(
        a.astype(str), b.astype(str), check_dtype=False
    )


def test_embedding_dim_at_fallbacks(spark, tmp_path):
    """A corrupt embeddings file or one without an ``embedding`` column
    takes the DataFrame fallback; a NULL first vector still raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    emb = spark.createDataFrame(
        [(1, [0.5, 0.25, 1.0])], "vec_id bigint, embedding array<float>"
    )
    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "embeddings.parquet").write_bytes(b"not a parquet file" * 8)
    assert entry_mod._embedding_dim_at(str(corrupt), emb) == 3

    no_col = tmp_path / "no_col"
    no_col.mkdir()
    pq.write_table(
        pa.table({"vec_id": [1], "vector": [[1.0, 2.0]]}),
        no_col / "embeddings.parquet",
    )
    assert entry_mod._embedding_dim_at(str(no_col), emb) == 3

    null_vec = tmp_path / "null_vec"
    null_vec.mkdir()
    pq.write_table(
        pa.table(
            {"embedding": pa.array([None, [1.0]], pa.list_(pa.float32()))}
        ),
        null_vec / "embeddings.parquet",
    )
    with pytest.raises(ValueError, match="empty .or embedding is NULL"):
        entry_mod._embedding_dim_at(str(null_vec), emb)
