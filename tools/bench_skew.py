"""Measured skew-join evidence (SCALING.md's skew story had prose but
no numbers): a 20M-row fact table whose hottest key holds 25% of all
rows, joined to a 100k-row dimension, on the host's cores.

The regime matters: a dimension this size BROADCASTS under the
session threshold, and a broadcast join is skew-immune — that is
always the first answer. The shuffle regime (dim too big to
broadcast at 100 TB) is emulated by disabling the broadcast
threshold, then measured three ways:

  1. sort-merge join, AQE skew-split ON (the session default)
  2. sort-merge join, AQE skew-split OFF (the unmitigated hot task)
  3. operators.skew.salted_join (for plans where AQE can't split:
     joins feeding a pinned distribution, build sides past memory)

Usage: python tools/bench_skew.py [--rows 20000000] [--reps 2]
Prints one JSON line per variant. Each variant runs once untimed
before its timed reps, so no rep pays the plan's first-run compile.
"""
from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

HOT_FRAC_MOD = 4  # id % 4 == 0 -> hot key: 25% of fact rows on one key
N_KEYS = 100_000


def tables(spark, n_rows: int):
    from pyspark.sql import functions as F

    fact = spark.range(n_rows).select(
        F.when(F.col("id") % HOT_FRAC_MOD == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(N_KEYS)))
        .alias("key"),
        (F.col("id") % 997).alias("v"),
    )
    dim = spark.range(N_KEYS).select(
        F.col("id").alias("key"), (F.col("id") % 131).alias("w")
    )
    return fact, dim


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=20_000_000)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    from vector_database_watermarking_spark.operators.skew import salted_join
    from vector_database_watermarking_spark.session import get_spark

    spark = get_spark("bench-skew")
    # emulate the big-dim regime: no broadcast escape hatch
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    fact, dim = tables(spark, args.rows)

    from pyspark.sql import functions as F

    def run_plain(tag, df_fn):
        bench.consume(df_fn())  # warm-up: compiles the plan's classes
        reps = [
            round(bench.timed(spark, lambda: bench.consume(df_fn()))[0], 2)
            for _ in range(args.reps)
        ]
        print(json.dumps({"variant": tag, "rows": args.rows, "reps_sec": reps}),
              flush=True)

    def run(tag, skew_on, salted):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_on).lower())
        j = (
            salted_join(fact, dim, on="key", n_salt=32)
            if salted
            else fact.join(dim, on="key")
        )
        run_plain(tag, lambda: j.select(F.sum((j.v + j.w) % 1000003).alias("chk")))

    run("smj_aqe_skew_on", skew_on=True, salted=False)
    run("smj_aqe_skew_off", skew_on=False, salted=False)
    run("salted_join_32", skew_on=False, salted=True)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    # The PINNED-DISTRIBUTION case — where skew actually bites. A
    # window over the hot key puts 25% of all rows in ONE task with no
    # partial aggregation to absorb them (AQE cannot split a window's
    # required distribution). The two-phase rewrite (partial groupBy —
    # which combines map-side — then a join back) computes the same
    # per-key aggregate skew-free; it is the house rule the plan tests
    # pin ("windows partitioned by key", "no global window") measured.
    from pyspark.sql import Window

    w = Window.partitionBy("key")
    run_plain(
        "window_sum_over_hot_key",
        lambda: fact.select(
            "key", F.sum("v").over(w).alias("key_sum")
        ).select(F.sum((F.col("key_sum") % 1000003)).alias("chk")),
    )
    run_plain(
        "twophase_groupby_joinback",
        lambda: fact.join(
            fact.groupBy("key").agg(F.sum("v").alias("key_sum")), on="key"
        ).select(F.sum((F.col("key_sum") % 1000003)).alias("chk")),
    )
    spark.stop()


if __name__ == "__main__":
    main()
