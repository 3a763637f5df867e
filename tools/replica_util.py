"""Shared replica-fixture helpers for the scale benches.

One implementation of the consistent-FK replication scheme (every key
column offset by r*key_offset per replica r, timestamps shifted r
seconds) used by bench_sf1, bench_sf10_rel, and the wide-part view —
so a fix to the scheme lands once (the round-9 review found the three
copies already drifting: sentinel-table choice, part-offset family).
Every tool's fixtures and scratch state live under :data:`SCRATCH`.
"""
from __future__ import annotations

import os

# the repo's git-ignored _scratch/ dir, wherever the checkout is
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "_scratch"
)


def replicate(
    spark,
    src_dir: str,
    dst_dir: str,
    name: str,
    offsets,
    replicas: int,
    key_offset: int,
    ts_col: str | None = None,
    parts_out: int = 32,
) -> None:
    """Write ``replicas`` offset copies of ``src_dir/name.parquet``
    into ``dst_dir`` with every FK relationship preserved."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(src_dir, f"{name}.parquet"))
    parts = []
    for r in range(replicas):
        p = df
        for col in offsets:
            p = p.withColumn(col, F.col(col) + F.lit(r * key_offset))
        if ts_col is not None and r:
            p = p.withColumn(
                ts_col, F.col(ts_col) + F.expr(f"INTERVAL {r} SECONDS")
            )
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(parts_out).write.mode("overwrite").parquet(
        os.path.join(dst_dir, f"{name}.parquet")
    )


def copy_verbatim(spark, src_dir: str, dst_dir: str, name: str) -> None:
    """Copy a fixed-size dimension (nation/region) unreplicated."""
    spark.read.parquet(os.path.join(src_dir, f"{name}.parquet")).coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(dst_dir, f"{name}.parquet"))

