"""Per-kernel throughput on a fixed sample of the workload's documents.

JVM kernels (normalize, shingles, jaccard) run as Spark jobs over a
materialized input and are rated by the executor CPU the status store
records for them. Python kernels (signature_batch, winnow,
longest_common_substring_span) are called directly and rated by this
process's CPU time, which leaves out the Arrow/UDF boundary the pipeline
pays around them.
"""

from __future__ import annotations

import time
from pathlib import Path

from perfbench.sparkstats import StageSnapshot, totals

N_PAIRS = 500


def _jvm_rate(store, df, n: int) -> float:
    snap = StageSnapshot(store)
    df.write.format("noop").mode("overwrite").save()
    return n / max(totals(snap.stages())["cpu_s"], 1e-9)


def _cpu_rate(fn, items) -> float:
    t0 = time.process_time()
    for it in items:
        fn(*it)
    return len(items) / max(time.process_time() - t0, 1e-9)


def measure(spark, store, texts: list[str], work: Path) -> dict[str, float]:
    import pandas as pd
    from pyspark.sql import functions as F

    from cargo_dupes_spark.config import PipelineConfig
    from cargo_dupes_spark.functions.normalize import normalize_text_col
    from cargo_dupes_spark.functions.shingles import jaccard_col, with_shingles
    from cargo_dupes_spark.functions.signatures import signature_batch
    from cargo_dupes_spark.operators.substring import (
        longest_common_substring_span,
        winnow,
    )

    cfg = PipelineConfig()
    n = len(texts)
    raw_path, norm_path = str(work / "k_raw"), str(work / "k_norm")
    spark.createDataFrame(pd.DataFrame({"i": range(n), "text": texts})).write.mode(
        "overwrite"
    ).parquet(raw_path)
    raw = spark.read.parquet(raw_path)
    raw.select("i", normalize_text_col("text", cfg).alias("norm_text")).write.mode(
        "overwrite"
    ).parquet(norm_path)
    norm = spark.read.parquet(norm_path)

    out = {
        "kernel.normalize.docs_per_cpu_s": _jvm_rate(
            store, raw.select(normalize_text_col("text", cfg)), n
        ),
        "kernel.shingles.docs_per_cpu_s": _jvm_rate(
            store, with_shingles(norm, "norm_text", cfg.shingle_k, cfg.shingle_seed), n
        ),
    }
    shingled = with_shingles(norm, "norm_text", cfg.shingle_k, cfg.shingle_seed).select(
        "i", "shingles", "norm_text"
    )
    local = shingled.orderBy("i").collect()
    a = shingled.select(F.col("i"), F.col("shingles").alias("sa"))
    b = shingled.select((F.col("i") - 1).alias("i"), F.col("shingles").alias("sb"))
    pairs = a.join(b, "i").filter(F.col("i") < N_PAIRS)
    out["kernel.jaccard.pairs_per_cpu_s"] = _jvm_rate(
        store, pairs.select(jaccard_col("sa", "sb")), min(N_PAIRS, n - 1)
    )

    shingle_lists = pd.Series([r["shingles"] for r in local])
    t0 = time.process_time()
    signature_batch(shingle_lists, cfg.num_perm, cfg.minhash_seed)
    out["kernel.signature.docs_per_cpu_s"] = n / max(time.process_time() - t0, 1e-9)
    norms = [r["norm_text"] or "" for r in local]
    out["kernel.winnow.docs_per_cpu_s"] = _cpu_rate(
        lambda t: winnow(t, cfg.winnow_kgram, cfg.winnow_window), [(t,) for t in norms]
    )
    lcs_pairs = [(norms[i], norms[i + 1], cfg.min_substring_len) for i in range(min(N_PAIRS, n - 1))]
    out["kernel.lcs_span.pairs_per_cpu_s"] = _cpu_rate(longest_common_substring_span, lcs_pairs)
    return out
