"""Eager-aggregation crossover probe (VERDICT r13 #5, closing r12 #5).

rel_nation_trade_preagg measured the LOSING side at Q7's collapse
ratio (~4 rows/key at sf100: pre-aggregating lineitem before the join
cost more than it saved). This probe measures BOTH sides of the
transform on a synthetic high-fan-out equi-join where the collapse
ratio c = fact rows / distinct join keys is swept over decades, fixed
fact size, so the crossover is bracketed empirically instead of
modeled.

Shape (the Q7 pattern reduced to its aggregation-pushdown core):
  plain : fact ⋈ dim on k   -> groupBy g (dim attr) -> sum(v)
  preagg: fact.groupBy(k).sum(v) -> ⋈ dim on k -> groupBy g -> sum
The pre-aggregation pays one extra exchange of the fact table's
(k, partial-sum) but shrinks the join input by c; plain joins the full
fact stream. Partial (map-side) aggregation already collapses
duplicates per map task in BOTH plans — which is exactly why small c
does not pay.

Two regimes (SCALING.md round-14 section):
  default — dim broadcast-eligible + low-cardinality final key (the
  Q7-like shape): plain wins at every c.
  --hard  — broadcast thresholds -1 (un-broadcastable dims, the 100 TB
  regime) + high-cardinality final key (keys/2 groups, no map-side
  collapse): preagg wins at every c.

Usage: python tools/preagg_crossover_probe.py [fact_rows] [reps] [--hard]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import bench
from vector_database_watermarking_spark.session import get_spark


def fact(spark, n: int, n_keys: int):
    # deterministic synthetic fact: key spread via xxhash so the join
    # exchange sees uniform partitions (guide §2.5)
    return spark.range(n).select(
        (F.pmod(F.xxhash64("id"), F.lit(n_keys))).alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


def dim(spark, n_keys: int, hard: bool):
    # hard: high-cardinality dim attribute -> the plain plan's final
    # aggregation cannot collapse in the map-side partial step
    n_groups = max(n_keys // 2, 1) if hard else 32
    return spark.range(n_keys).select(
        F.col("id").alias("k"), (F.col("id") % n_groups).alias("g")
    )


def plain(spark, n: int, n_keys: int, hard: bool):
    f, d = fact(spark, n, n_keys), dim(spark, n_keys, hard)
    return f.join(d, "k").groupBy("g").agg(F.sum("v").alias("s"))


def preagg(spark, n: int, n_keys: int, hard: bool):
    f, d = fact(spark, n, n_keys), dim(spark, n_keys, hard)
    fa = f.groupBy("k").agg(F.sum("v").alias("v"))
    return fa.join(d, "k").groupBy("g").agg(F.sum("v").alias("s"))


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--hard"]
    hard = "--hard" in sys.argv[1:]
    n = int(args[0]) if len(args) > 0 else 50_000_000
    reps = int(args[1]) if len(args) > 1 else 3
    ratios = [4, 32, 256] if hard else [2, 8, 32, 128, 512]
    spark = get_spark("preagg_probe")
    if hard:
        # model un-broadcastable 100 TB dims: disable both the static
        # and the AQE broadcast conversion so the join shuffles the
        # fact side, which is the precondition for the transform
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        print("regime: HARD (no broadcast, high-cardinality final key)")
    # warmup both plan shapes
    for fn in (plain, preagg):
        bench.consume(fn(spark, n, 1000, hard))
    print(f"fact rows N={n}, reps={reps}")
    for c in ratios:
        n_keys = max(n // c, 1)
        res = {}
        for tag, fn in (("plain", plain), ("preagg", preagg)):
            samples = []
            for _ in range(reps):
                spark.sparkContext.setJobDescription(f"{tag} c={c}")
                sec, _ = bench.timed(
                    spark, lambda: bench.consume(fn(spark, n, n_keys, hard))
                )
                samples.append(sec)
            res[tag] = samples
        pm, am = min(res["plain"]), min(res["preagg"])
        win = "preagg" if am < pm else "plain"
        print(
            f"c={c:4d} keys={n_keys:>9d}  plain min={pm:7.3f} {res['plain']}"
            f"  preagg min={am:7.3f} {res['preagg']}  -> {win}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
