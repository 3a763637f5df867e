"""One decade further (VERDICT r08 #7): sf10-scale runs of the three
operators whose 100 TB story rests on sublinearity measured across a
single decade — ``ext_incremental_dedup``, ``ext_bigram_nll``, and the
LSH near-dup / signature-collapsed kNN paths.

Fixtures. documents: 100 sf0.1 replicas with a replica-tagged tail
token (500k docs). embeddings: 100 sf0.1 replicas under PER-REPLICA
RANDOM ORTHOGONAL ROTATIONS (200k vectors) — a rotation preserves
every intra-replica dot product exactly (each replica's near-dup
structure is bit-for-bit sf0.1's) while decorrelating EVERYTHING
across replicas, including the same base vector's copies. (A dimension
permutation — the first attempt — decorrelates different vectors but
leaves same-vector copies correlated at ~0.0005 ≥-0.45 rate, which at
45 replica pairs × 2000 vectors already manufactures thousands of
spurious pairs.)

What the embedding measurements mean (written up in SCALING.md):
- the near-dup pair count above a FIXED cosine threshold is inherently
  quadratic in n for an iid-ish corpus (background tail rate × C(n,2)),
  so the honest scale metric for the lossless banded plan is
  verified-candidates/sec, not wall vs rows;
- the pinned 8×4-bit-band config's candidate volume is
  ~bands × C(n/2^band_bits, 2) × 2^band_bits — quadratic with a 2^-4
  constant; surviving 100× requires widening bands (the config knob),
  which trades boundary recall. Both configs are measured.
- the planted run (every 4th vector gets a near-exact dup, threshold
  0.85) isolates the LINEAR regime real dedup corpora live in: true
  pairs grow linearly and so should wall.

Usage: python tools/bench_sf10.py [--build-only]
Prints one JSON line per (query, scale).
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import bench
from tools.replica_util import SCRATCH

SRC_SF = "/root/testdata/sf0.1"
DOC_OFFSET = 1 << 24
VEC_OFFSET = 1 << 24
D = 64


def _rotation(seed: int) -> np.ndarray:
    """Deterministic random orthogonal matrix (QR of seeded gaussian,
    sign-fixed so the factorization is unique)."""
    g = np.random.RandomState(seed).normal(size=(D, D))
    q, r = np.linalg.qr(g)
    return q * np.sign(np.diag(r))


def build_docs(spark, replicas: int, out_dir: str) -> None:
    if os.path.isdir(os.path.join(out_dir, "documents.parquet")):
        return
    docs = spark.read.parquet(os.path.join(SRC_SF, "documents.parquet"))
    parts = []
    for r in range(replicas):
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(r * DOC_OFFSET)).alias("doc_id"),
                (
                    F.col("text")
                    if r == 0
                    else F.concat(F.col("text"), F.lit(f" replica{r}tag"))
                ).alias("text"),
                "lang",
                "source",
                (
                    F.col("n_chars")
                    if r == 0
                    else F.col("n_chars") + F.lit(len(f" replica{r}tag"))
                ).alias("n_chars"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(64).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )


def build_emb(spark, replicas: int, out_dir: str) -> None:
    from pyspark.sql import types as T

    if os.path.isdir(os.path.join(out_dir, "embeddings.parquet")):
        return
    emb = spark.read.parquet(os.path.join(SRC_SF, "embeddings.parquet"))

    def make_rotate(rot: np.ndarray):
        @F.pandas_udf(T.ArrayType(T.FloatType()))
        def _rotate(col: pd.Series) -> pd.Series:
            X = np.stack(col.to_numpy()).astype(np.float64)
            return pd.Series(list((X @ rot.T).astype(np.float32)))

        return _rotate

    parts = []
    for r in range(replicas):
        if r == 0:
            parts.append(emb.select("vec_id", "embedding", "label"))
            continue
        rotate = make_rotate(_rotation(1000 + r))
        parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(r * VEC_OFFSET)).alias("vec_id"),
                rotate(F.col("embedding")).alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(64).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )


def wall_rows(spark, build) -> tuple[float, int]:
    """Wall seconds of ``build()`` forced through ``bench.consume``,
    and its row count, taken outside the clock (a bare ``count()``
    prunes the projections the row claims to time)."""

    def run():
        df = build()
        bench.consume(df)
        return df

    wall, df = bench.timed(spark, run)
    return wall, df.count()


def emit(**kw) -> None:
    print(json.dumps(kw), flush=True)


def main() -> None:
    from vector_database_watermarking_spark.operators import similarity
    from vector_database_watermarking_spark.operators.knn import knn_join
    from vector_database_watermarking_spark.registry import QUERIES
    from vector_database_watermarking_spark.session import get_spark

    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = get_spark("bench-sf10")
    for tag, reps in (("sf1perm", 10), ("sf10", 100)):
        build_docs(spark, reps, os.path.join(SCRATCH, tag))
        build_emb(spark, reps, os.path.join(SCRATCH, tag))
    if mode == "--build-only":
        spark.stop()
        return

    run_dirs = [
        ("sf0.1", SRC_SF),
        ("sf1perm", os.path.join(SCRATCH, "sf1perm")),
        ("sf10", os.path.join(SCRATCH, "sf10")),
    ]

    # corpus-size-scaling document operators. COLD single runs: a
    # warmup pass would populate Spark's logical-plan cache (these
    # operators .cache() internally) and the timed run would read
    # cached data — measured 0.69 s vs the honest 61.6 s at sf10.
    if mode in ("all", "docs"):
        for qname in ("ext_incremental_dedup", "ext_bigram_nll"):
            for tag, d in run_dirs:
                wall, rows = wall_rows(spark, lambda: QUERIES[qname].fn(spark, d))
                emit(query=qname, scale=tag, wall_sec=round(wall, 2), rows=rows)

    def load_emb(d):
        return spark.read.parquet(os.path.join(d, "embeddings.parquet")).select(
            "vec_id", "embedding"
        )

    # pinned near-dup config (the registered query: 64 bits, 4-bit
    # bands, t=0.45) — quadratic candidates with a 2^-4 constant; runs
    # through sf1perm, sf10 reported as the computed candidate bound
    # (the measured sf1perm candidates/sec makes the projection exact
    # enough to show why the config must scale)
    if mode in ("all", "neardup"):
        fn = QUERIES["ext_emb_near_dups_lsh"].fn
        for tag, d in run_dirs[:2]:
            wall, rows = wall_rows(spark, lambda: fn(spark, d))
            emit(query="near_dups_pinned_4bit", scale=tag, wall_sec=round(wall, 2), rows=rows)

        # scaled config (8-bit bands): the knob a 100x corpus requires
        for tag, d in run_dirs:
            emb = load_emb(d)
            wall, rows = wall_rows(
                spark,
                lambda: similarity.emb_near_dups_lsh(
                    emb, threshold=0.45, bits=64, band_bits=8, d=D, pair_budget=None
                ),
            )
            emit(query="near_dups_scaled_8bit", scale=tag, wall_sec=round(wall, 2), rows=rows)

    if mode not in ("all", "planted", "knn"):
        spark.stop()
        return
    # planted linear regime: every 4th vector gets a near-exact dup
    # (2 dims +0.05, cosine ~0.99), threshold 0.85 — true pairs grow
    # linearly with the corpus, and so does the candidate set PROVIDED
    # the band width tracks log2(n): band collision rate is 2^-band_bits
    # per random pair, so constant bucket sizes need band_bits ≈
    # log2(n) - const (8 bits carries 20k; 200k needs 16 — the 8-bit
    # config at 200k spilled ~1e9 candidates and ran out of disk,
    # which IS the measured lesson).
    planted_cfg = [(*run_dirs[0], 8), (*run_dirs[1], 8), (*run_dirs[2], 16)]
    if mode == "knn":
        planted_cfg = []
    for tag, d, bb in planted_cfg:
        emb = load_emb(d)
        bump = F.transform(
            "embedding",
            lambda x, i: F.when(i < 2, (x + F.lit(0.05))).otherwise(x).cast("float"),
        )
        planted = emb.filter(F.col("vec_id") % 4 == 0).select(
            (F.col("vec_id") + F.lit(7 * (1 << 40))).alias("vec_id"),
            bump.alias("embedding"),
        )
        corpus = emb.unionByName(planted)
        wall, rows = wall_rows(
            spark,
            lambda: similarity.emb_near_dups_lsh(
                corpus, threshold=0.85, bits=64, band_bits=bb, d=D, pair_budget=None
            ),
        )
        emit(
            query="near_dups_planted_t085",
            scale=tag,
            band_bits=bb,
            wall_sec=round(wall, 2),
            rows=rows,
        )

    # kNN family. The auto-tier (knn_edges) picks the EXACT path
    # through 10^6 rows, so that is what a user gets at every scale
    # here (one filter-and-refine kernel: BLAS shortlist, fold-exact
    # distances). The LSH tier is the >10^6 path for
    # near-dup-clustered corpora; on THIS iid rotated corpus its
    # banded buckets saturate (measured: 2e8 candidate pairs carrying
    # embeddings ≈ 100 GB shuffle, disk exhaustion at 20k rows), which
    # the new measured-precondition guard now refuses up front — the
    # refusal is part of the measurement.
    for tag, d in run_dirs:
        emb = load_emb(d)
        wall, rows = wall_rows(spark, lambda: knn_join(emb, emb, k=10, exact=True))
        emit(query="knn_exact_blas", scale=tag, wall_sec=round(wall, 2), rows=rows)
    emb = load_emb(run_dirs[1][1])
    t0 = time.monotonic()
    try:
        knn_join(emb, emb, k=10, exact=False).count()
        emit(query="knn_join_lsh_guard", scale="sf1perm", refused=False)
    except ValueError as e:
        emit(
            query="knn_join_lsh_guard",
            scale="sf1perm",
            refused=True,
            guard_sec=round(time.monotonic() - t0, 2),
            message=str(e)[:160],
        )
    spark.stop()


if __name__ == "__main__":
    main()
