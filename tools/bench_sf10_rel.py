"""Two-decade relational scaling: sf0.1 -> sf1 -> sf10 for the core
TPC-H-shape plans (the round-9 forced-broadcast audit's follow-up —
the plans now rely on the threshold/AQE to pick join strategies, so
this run shows what those strategies do when the data is 100x the
bench scale: 60M lineitem / 15M orders / 10M events on the fixed
32-thread host).

Fixture: sf0.1 replicated 100x with CONSISTENT wide key offsets
(every FK relationship survives: lineitem -> orders/part/supplier,
orders -> customer, events keep per-replica user populations with a
1-second-per-replica time shift). nation/region stay verbatim (fixed
25/5-row dimensions). ~2 GB parquet.

Usage: python tools/bench_sf10_rel.py [--reps 2] [--queries a,b,...]
       python tools/bench_sf10_rel.py --sf100   # third decade: 600M-
       row lineitem, Q1/Q6 only (the single-table scan shapes)
Prints one JSON line per (query, scale-point).
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from tools.bench_sf1 import SF1_DIR, build_widepart_view
from tools.replica_util import SCRATCH, copy_verbatim, replicate

SRC_SF = "/root/testdata/sf0.1"
WARM_SF = os.path.join(os.path.dirname(SRC_SF), "sf0.01")  # codegen warm-up scale
SF10_DIR = os.path.join(SCRATCH, "sf10_rel")
REPLICAS = 100
OFFSET = 1 << 24

# One query per distinct relational plan shape, cheap enough to run
# at 60M lineitem on one host:
#   Q1  scan + hash agg (the pure-throughput floor)
#   Q4  shuffled-hash LEFT SEMI with a cross-side inequality
#   Q7  the 6-table join tree (biggest shuffle plan in the registry)
#   Q13 LEFT OUTER fact join + double aggregate
#   Q18 fact-side HAVING before any dimension join
#   TWAP per-user interval weighting over events (window + one shuffle)
QUERY_NAMES = [
    "rel_pricing_summary",
    "rel_priority_late_orders",
    "rel_nation_trade",
    "rel_order_count_histogram",
    "rel_large_volume_customers",
    "rel_events_twap",
]


def build_sf10(spark) -> None:
    # sentinel on region's _SUCCESS, not the directory: region is
    # written LAST, and Spark creates the output dir before the write
    # commits, so an interrupted build must be retried rather than
    # treated as complete (the bench_sf1 widepart rule)
    if os.path.exists(os.path.join(SF10_DIR, "region.parquet", "_SUCCESS")):
        return
    os.makedirs(SF10_DIR, exist_ok=True)

    def rep(name, offsets, ts_col=None, parts_out=32):
        replicate(
            spark, SRC_SF, SF10_DIR, name, offsets,
            replicas=REPLICAS, key_offset=OFFSET,
            ts_col=ts_col, parts_out=parts_out,
        )

    rep("orders", ["o_orderkey", "o_custkey"])
    rep("lineitem", ["l_orderkey", "l_partkey", "l_suppkey"], parts_out=64)
    rep("customer", ["c_custkey"])
    rep("supplier", ["s_suppkey"])
    rep("part", ["p_partkey"])
    rep("events", ["event_id", "user_id"], ts_col="ts")
    copy_verbatim(spark, SRC_SF, SF10_DIR, "nation")
    copy_verbatim(spark, SRC_SF, SF10_DIR, "region")


SF100_DIR = os.path.join(SCRATCH, "sf100_rel")


# third-decade fixture: 10 x the sf10 replicas with keys offset by
# 1<<34 — past sf10's ~1.7e9 max. FK consistency survives because every
# key column of a relationship gets the same offset. lineitem alone is
# ~14 GB / 256 files; the shuffle-bound set (orders/customer for Q18,
# plus part/supplier/nation/region for Q8) adds ~6 GB.
_SF100_TABLES = {
    "lineitem": (["l_orderkey", "l_partkey", "l_suppkey"], 256),
    "orders": (["o_orderkey", "o_custkey"], 128),
    "customer": (["c_custkey"], 32),
    "part": (["p_partkey"], 32),
    "supplier": (["s_suppkey"], 8),
}


def build_sf100(spark, tables=("lineitem",)) -> None:
    """Build the requested sf100 replicas (per-table _SUCCESS
    sentinels, so an interrupted build retries only what's missing).
    nation/region are fixed dimensions, copied verbatim."""
    os.makedirs(SF100_DIR, exist_ok=True)
    for name in tables:
        offsets, parts_out = _SF100_TABLES[name]
        if os.path.exists(
            os.path.join(SF100_DIR, f"{name}.parquet", "_SUCCESS")
        ):
            continue
        replicate(
            spark, SF10_DIR, SF100_DIR, name, offsets,
            replicas=10, key_offset=1 << 34, parts_out=parts_out,
        )
    for dim in ("nation", "region"):
        if not os.path.exists(
            os.path.join(SF100_DIR, f"{dim}.parquet", "_SUCCESS")
        ):
            copy_verbatim(spark, SF10_DIR, SF100_DIR, dim)


def build_sf100_lineitem(spark) -> None:
    build_sf100(spark, ("lineitem",))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--build-only", action="store_true")
    ap.add_argument("--sf100", action="store_true")
    ap.add_argument(
        "--sf100-shuffle",
        action="store_true",
        help="third decade for the SHUFFLE-BOUND shapes (VERDICT r10 "
        "#5): Q18's fact-side group-by-HAVING (600M-row aggregate into "
        "~150M groups) and Q8's 6-table fact join tree, at sf10 and "
        "sf100",
    )
    args = ap.parse_args()
    names = args.queries.split(",") if args.queries else QUERY_NAMES

    # host calibration BEFORE the JVM starts (the probe bench.py
    # embeds): the sf100 rows are the steal-sensitive >30 s
    # measurements (Q7's 81-144 s rep band), so every per-query row
    # carries the cores delivered at run time (VERDICT r11 #3)
    cal_cores, cal_workers = bench.effective_cores()
    cal = {"effective_cores": cal_cores, "probe_workers": cal_workers}

    if args.sf100_shuffle:
        from vector_database_watermarking_spark.registry import QUERIES
        from vector_database_watermarking_spark.session import get_spark

        spark = get_spark("bench-sf100-shuffle")
        build_sf10(spark)
        t0 = time.monotonic()
        build_sf100(
            spark,
            ("lineitem", "orders", "customer", "part", "supplier"),
        )
        print(
            json.dumps({"stage": "build_sf100_tables",
                        "sec": round(time.monotonic() - t0, 1)}),
            flush=True,
        )
        # size the shuffle to the scale (the measured knob, recorded in
        # SCALING.md): at 600M rows the session default of 32 leaves
        # ~19M rows per shuffle partition — they spill and GC-thrash
        # (Q8 measured 73-190 s); 256 partitions keep each
        # memory-resident (52.7 s stable). The cluster-side equivalent
        # is AQE's coalescePartitions.initialPartitionNum: start wide,
        # let AQE coalesce small stages back down.
        default_parts = spark.conf.get("spark.sql.shuffle.partitions")
        for name in ("rel_large_volume_customers", "rel_market_share"):
            fn = QUERIES[name].fn
            bench.consume(fn(spark, WARM_SF))
            for sf, d, parts in [
                (10.0, SF10_DIR, default_parts),
                (100.0, SF100_DIR, "256"),
            ]:
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                reps = [
                    round(bench.timed(spark, lambda: bench.consume(fn(spark, d)))[0], 2)
                    for _ in range(max(args.reps, 3))
                ]
                print(json.dumps({"query": name, "sf": sf,
                                  "shuffle_partitions": int(parts),
                                  "reps_sec": reps, **cal}), flush=True)
            spark.conf.set("spark.sql.shuffle.partitions", default_parts)
        spark.stop()
        return

    if args.sf100:
        from vector_database_watermarking_spark.registry import QUERIES
        from vector_database_watermarking_spark.session import get_spark

        spark = get_spark("bench-sf100-rel")
        build_sf10(spark)
        t0 = time.monotonic()
        build_sf100_lineitem(spark)
        print(
            json.dumps({"stage": "build_sf100_lineitem",
                        "sec": round(time.monotonic() - t0, 1)}),
            flush=True,
        )
        for name in ("rel_pricing_summary", "rel_forecast_revenue"):
            fn = QUERIES[name].fn
            bench.consume(fn(spark, WARM_SF))
            for sf, d in [(10.0, SF10_DIR), (100.0, SF100_DIR)]:
                reps = [
                    round(bench.timed(spark, lambda: bench.consume(fn(spark, d)))[0], 2)
                    for _ in range(max(args.reps, 3))
                ]
                print(json.dumps({"query": name, "sf": sf,
                                  "reps_sec": reps, **cal}), flush=True)
        spark.stop()
        return

    from vector_database_watermarking_spark.registry import QUERIES
    from vector_database_watermarking_spark.session import get_spark

    spark = get_spark("bench-sf10-rel")
    t0 = time.monotonic()
    build_sf10(spark)
    print(
        json.dumps({"stage": "build_sf10_rel", "sec": round(time.monotonic() - t0, 1)}),
        flush=True,
    )
    if args.build_only:
        spark.stop()
        return

    # part-FK queries must read the sf1 point through the wide-offset
    # part view (the shared SF1 fixture's part is dense-offset for the
    # BOM forest — dead FK otherwise; same routing as bench_sf1).
    _PART_FK = {
        "rel_important_parts",
        "rel_promo_revenue",
        "rel_disjunct_revenue",
        "rel_market_share",
        "rel_nation_profit",
        "rel_cheapest_supplier",
    }
    if _PART_FK & set(names):
        widepart = build_widepart_view(spark)

    for name in names:
        fn = QUERIES[name].fn
        bench.consume(fn(spark, WARM_SF))
        sf1_dir = widepart if name in _PART_FK else SF1_DIR
        for sf, d in [(0.1, SRC_SF), (1.0, sf1_dir), (10.0, SF10_DIR)]:
            reps = []
            for _ in range(args.reps):
                try:
                    sec, _ = bench.timed(spark, lambda: bench.consume(fn(spark, d)))
                except Exception as e:  # noqa: BLE001
                    print(json.dumps({"query": name, "sf": sf,
                                      "error": str(e)[:300]}), flush=True)
                    break
                reps.append(round(sec, 2))
            if reps:
                print(json.dumps({"query": name, "sf": sf, "reps_sec": reps,
                                  **cal}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
