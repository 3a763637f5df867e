"""One-shot sf1 bench pass (VERDICT r06 "Next round" #4): run the six
most expensive headline queries at 10x the regular bench scale and
record whether the measured wall-times track the linear-scaling
claims in SCALING.md.

Inputs are sf0.1 replicated 10x with per-replica perturbation (the
SCALING.md house method): ids get a replica offset so join/group keys
stay well-formed and dedup doesn't collapse into exact 10-cliques;
documents get a replica-tagged tail token (shifts a few shingles,
keeps length stats); embeddings get one dimension nudged per replica
(keeps kNN structure non-degenerate). Results are written as one JSON
line per query to stdout; paste the table into SCALING.md.

Usage: python tools/bench_sf1.py [--reps 2]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from tools.replica_util import SCRATCH

SRC_SF = "/root/testdata/sf0.1"
WARM_SF = os.path.join(os.path.dirname(SRC_SF), "sf0.01")  # codegen warm-up scale
SF1_DIR = os.path.join(SCRATCH, "sf1")
REPLICAS = 10
DOC_OFFSET = 1 << 24
VEC_OFFSET = 1 << 24

QUERY_NAMES = [
    "j1_knn_edges",
    "ext_dedup_clusters",
    "ext_incremental_dedup",
    "ext_bigram_nll",
    "ext_graph_link_pred",
    "ext_kmeans_refine_arrow",  # bench-extra arrow tier (production path)
]

# round-7 additions (pass --queries to select)
ROUND7_NAMES = [
    "rel_bom_rollup",
    "rel_waiting_suppliers",
    "rel_events_session_window",
    "rel_cdc_time_travel",
    "ext_ivf_append_topk",
    "rel_events_variant_agg",
]

# round-9 TPC-H completion set. SIX of these join part ON l_partkey
# (Q2/Q8/Q9/Q11/Q14/Q19), but the shared sf1 fixture builds part with
# DENSE replica offsets (the BOM forest needs them) while
# lineitem.l_partkey gets WIDE offsets — against the shared fixture
# that FK is 90% dead (only replica 0 matches). So for round9 runs a
# symlink view of the fixture is assembled whose part.parquet is
# rebuilt with the wide offsets, keeping the FK fully live without
# touching the shared fixture.
ROUND9_NAMES = [
    "rel_returned_revenue",
    "rel_market_share",
    "rel_nation_profit",
    "rel_cheapest_supplier",
    "rel_idle_rich_customers",
    "rel_order_count_histogram",
    "rel_priority_late_orders",
    "ext_emb_near_dups_scaled",
    "rel_local_supplier_volume",
    "rel_forecast_revenue",
    "rel_important_parts",
    "rel_late_shipment_modes",
    "rel_promo_revenue",
    "rel_top_supplier",
    "rel_large_volume_customers",
    "rel_disjunct_revenue",
]
WIDEPART_DIR = os.path.join(SCRATCH, "sf1_widepart")


def build_widepart_view(spark) -> str:
    """Symlink every sf1 table into a second fixture dir, except part,
    which is rebuilt with lineitem-matching WIDE replica offsets
    (shared scheme: tools.replica_util.replicate)."""
    from tools.replica_util import replicate

    # sentinel on _SUCCESS, not the directory: an interrupted part
    # write leaves a partial dir that would silently revive the exact
    # dead-FK distortion this view exists to fix
    if os.path.exists(os.path.join(WIDEPART_DIR, "part.parquet", "_SUCCESS")):
        return WIDEPART_DIR
    os.makedirs(WIDEPART_DIR, exist_ok=True)
    for name in os.listdir(SF1_DIR):
        if name == "part.parquet":
            continue
        dst = os.path.join(WIDEPART_DIR, name)
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF1_DIR, name), dst)
    replicate(
        spark, SRC_SF, WIDEPART_DIR, "part", ["p_partkey"],
        replicas=REPLICAS, key_offset=DOC_OFFSET, parts_out=8,
    )
    return WIDEPART_DIR


def build_sf1(spark) -> None:
    from pyspark.sql import functions as F

    if os.path.isdir(os.path.join(SF1_DIR, "embeddings.parquet")):
        return
    os.makedirs(SF1_DIR, exist_ok=True)

    docs = spark.read.parquet(os.path.join(SRC_SF, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(SRC_SF, "embeddings.parquet"))

    # relational/event tables: replicate with CONSISTENT key offsets so
    # every foreign-key relationship survives (lineitem.orderkey ->
    # orders, .suppkey -> supplier, .partkey -> part; events keep their
    # user population per replica with a time shift). Shared scheme:
    # tools.replica_util (one implementation across the scale benches).
    from pyspark.sql import functions as F2

    from tools.replica_util import copy_verbatim
    from tools.replica_util import replicate as _rep

    def replicate(name, offsets, ts_col=None):
        _rep(
            spark, SRC_SF, SF1_DIR, name, offsets,
            replicas=REPLICAS, key_offset=DOC_OFFSET,
            ts_col=ts_col, parts_out=32,
        )

    replicate("orders", ["o_orderkey", "o_custkey"])
    replicate(
        "lineitem", ["l_orderkey", "l_partkey", "l_suppkey"]
    )
    # nation/region are fixed-size dimension tables: copy them verbatim
    # (25/5 rows) and leave every *_nationkey UN-offset so the FK into
    # them stays valid in all replicas.
    for dim in ("nation", "region"):
        copy_verbatim(spark, SRC_SF, SF1_DIR, dim)
    # part gets DENSE offsets (replica r spans [r*n, (r+1)*n)) so the
    # derived BOM forest (parent = key // 8) stays fully connected —
    # every parent key exists and the walk covers all 10 replicas.
    # (No FK in the round-7 set reads l_partkey, so the mismatch with
    # lineitem's wide offsets is harmless here.)
    n_part = spark.read.parquet(os.path.join(SRC_SF, "part.parquet")).count()
    pdf = spark.read.parquet(os.path.join(SRC_SF, "part.parquet"))
    pparts = []
    for r in range(REPLICAS):
        pparts.append(
            pdf.withColumn("p_partkey", F2.col("p_partkey") + F2.lit(r * n_part))
        )
    pout = pparts[0]
    for p in pparts[1:]:
        pout = pout.unionByName(p)
    pout.repartition(8).write.mode("overwrite").parquet(
        os.path.join(SF1_DIR, "part.parquet")
    )
    replicate("supplier", ["s_suppkey"])
    replicate("customer", ["c_custkey"])
    replicate("events", ["event_id", "user_id"], ts_col="ts")

    doc_parts = []
    for r in range(REPLICAS):
        part = docs.select(
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
        doc_parts.append(part)
    out = doc_parts[0]
    for p in doc_parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(SF1_DIR, "documents.parquet")
    )

    emb_parts = []
    for r in range(REPLICAS):
        nudged = F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == r % 64, x + F.lit(r * 1e-3).cast("float"))
            .otherwise(x)
            .cast("float"),
        )
        part = emb.select(
            (F.col("vec_id") + F.lit(r * VEC_OFFSET)).alias("vec_id"),
            (F.col("embedding") if r == 0 else nudged).alias("embedding"),
            "label",
        )
        emb_parts.append(part)
    out = emb_parts[0]
    for p in emb_parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(SF1_DIR, "embeddings.parquet")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument(
        "--queries",
        default=None,
        help="comma list, or 'round7' for the round-7 set",
    )
    args = ap.parse_args()
    global QUERY_NAMES
    if args.queries == "round7":
        QUERY_NAMES = ROUND7_NAMES
    elif args.queries == "round9":
        QUERY_NAMES = ROUND9_NAMES
    elif args.queries == "all":
        # the full headline suite (VERDICT r07 #3): every bench.py
        # headline query plus the bench-extra tiers, measured at 10x
        QUERY_NAMES = list(bench.HEADLINE) + list(bench.BENCH_EXTRA)
    elif args.queries:
        QUERY_NAMES = args.queries.split(",")

    from vector_database_watermarking_spark.session import get_spark

    from vector_database_watermarking_spark.registry import QUERIES

    spark = get_spark("bench-sf1")
    if args.rebuild:
        shutil.rmtree(SF1_DIR, ignore_errors=True)
    t0 = time.monotonic()
    build_sf1(spark)
    print(
        json.dumps({"stage": "build_sf1", "sec": round(time.monotonic() - t0, 1)}),
        flush=True,
    )

    fns = {n: QUERIES[n].fn for n in QUERY_NAMES if n in QUERIES}
    for n in QUERY_NAMES:
        if n in bench.BENCH_EXTRA:
            fns[n] = bench.BENCH_EXTRA[n]

    # warmup at sf0.01: identical generated code, fills codegen caches
    for name, fn in fns.items():
        try:
            bench.consume(fn(spark, WARM_SF))
        except Exception as e:  # noqa: BLE001
            print(json.dumps({"query": name, "warmup_error": str(e)[:200]}), flush=True)

    # part-FK queries read the wide-offset part view (see ROUND9_NAMES)
    _PART_FK = {
        "rel_important_parts",
        "rel_promo_revenue",
        "rel_disjunct_revenue",
        "rel_market_share",
        "rel_nation_profit",
        "rel_cheapest_supplier",
    }
    if _PART_FK & set(fns):
        widepart = build_widepart_view(spark)

    for name, fn in fns.items():
        run_dir = widepart if name in _PART_FK else SF1_DIR
        reps = []
        for _ in range(args.reps):
            try:
                sec, _ = bench.timed(spark, lambda: bench.consume(fn(spark, run_dir)))
                reps.append(round(sec, 2))
            except Exception as e:  # noqa: BLE001
                print(
                    json.dumps({"query": name, "error": str(e)[:400]}), flush=True
                )
                break
        if reps:
            print(
                json.dumps({"query": name, "sf": 1.0, "reps_sec": reps}), flush=True
            )

    spark.stop()


if __name__ == "__main__":
    main()
