"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full computation,
no driver collect).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vector_database_watermarking_spark.registry import QUERIES
from vector_database_watermarking_spark.session import default_cpus, get_spark

# Headline set: one per operator family (kNN graph build, graph
# analytics incl. the iterative-components and stateful-session shapes,
# detection agg, relational agg/join/window, dedup, similarity, text,
# event windows, temporal joins, decontamination).
HEADLINE = [
    "j1_knn_edges",
    "g4_accessibility_index",
    "g5_connected_components",
    "a1_group_classify",
    "a2_majority_decode",
    "rel_pricing_summary",
    "rel_top_revenue_nations",
    "rel_order_rank_window",
    "ext_minhash_near_dups",
    "ext_simhash",
    "ext_cosine_topk",
    "ext_emb_near_dups_lsh",
    "ext_quality_scores",
    "ext_corpus_clean",
    "ext_events_sliding",
    "ext_events_sessions",
    "rel_asof_purchase_view",
    "rel_range_activity",
    "ext_contamination",
    "ext_dedup_clusters",
    "ext_seq_packing",
    "ext_incremental_dedup",
    "ext_doc_embeddings",
    "ext_graph_triangles",
    # round-5 breadth: layout rewrite, iterative-integer graph loop,
    # driver-finish tokenizer training, and the MERGE shape
    "ext_zorder_cells",
    "ext_graph_pagerank",
    "ext_bpe_merges",
    "rel_merge_upsert",
    # round-5 operators: repeated-passage dedup and LM quality scoring
    "ext_dup_spans",
    "ext_unigram_nll",
    # round-6 operators: transition-LM scoring and the memorization audit
    "ext_bigram_nll",
    "ext_ngram_novelty",
    # round-6 breadth: per-doc term salience (token-explode + two
    # count shuffles + per-doc top-k window — the token-analytics
    # hot path worth tracking)
    "ext_tfidf_keywords",
    # round-6 breadth: the Python-side sketch pass (mapInPandas MG +
    # broadcast rescan) and the wedge-enumeration score shuffle — the
    # two new shapes whose cost isn't already tracked by another row
    "ext_heavy_hitters",
    "ext_graph_link_pred",
    # round-6 batch 2: the 6-table Q7 join tree (the biggest shuffle
    # plan in the registry) and the iterative exact-centroid k-means
    # (two assignment passes over the embedding table) — the two new
    # shapes whose cost no earlier row tracks. MAD/EWMA/rebalance ride
    # existing group-agg/window shapes already benched.
    "rel_nation_trade",
    "ext_kmeans_refine",
    # round-7: the depth-bounded iterative hierarchy walk (a sequence
    # of frontier joins + per-level localCheckpoint) — a control-flow
    # shape no other row tracks (BFS rides the same idea but over the
    # kNN graph; this one is pure relational parent-pointer chasing)
    "rel_bom_rollup",
]
# The round-8/9 TPC-H breadth rows (Q2/Q4/Q5/Q6/Q8/Q9/Q10/Q11/Q12/Q13/
# Q14/Q15/Q18/Q19/Q20/Q21/Q22 shapes) are deliberately NOT headlines:
# each rides a cost shape an existing row already tracks (scan-agg ->
# rel_pricing_summary; the widest join tree -> rel_nation_trade;
# group-then-broadcast-join and window/limit shapes -> the relational
# rows above). Their 10x-scale numbers live in SCALING.md via
# tools/bench_sf1.py --queries round9 instead.
# ext_contamination_bloom is deliberately NOT a headline: at fixture
# scale both fingerprint sides are equally tiny, so the exact one-job
# plan computes them in parallel while the bloom pays a serialized
# probe-job → bitmap → corpus-job round (measured ~3 s vs ~1 s at
# sf0.1). The bloom wins when corpus >> probe — at 100 TB the round
# costs seconds and removes the corpus-side join/shuffle volume.


def _kmeans_refine_arrow(spark, sf_dir):
    """Bench-only variant: the Arrow/numpy exact-assignment tier
    (assign_impl='arrow' — bit-identical integers, einsum-batched;
    measured 4.4x over the interpreted-HOF native tier at sf0.1).
    Graded paths keep the native tier so the oracle replays pure
    DataFrame ops."""
    from pyspark.sql import functions as F

    from vector_database_watermarking_spark.operators.clustering import (
        kmeans_refine,
    )
    from vector_database_watermarking_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans_refine(emb, n_clusters=8, iters=2, assign_impl="arrow")
    return out.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"), F.sum("vec_id").alias("id_sum")
    )


# bench-only callables (same (spark, sf_dir) -> DataFrame contract as
# registry fns); benched after the registry headliners
BENCH_EXTRA = {
    "ext_kmeans_refine_arrow": _kmeans_refine_arrow,
}


WARMUP_SF_DIR = "/root/testdata/sf0.001"

# Fixed work size of the per-row sentinel job (see _sentinel_time).
# 24M rows through range -> xxhash64 -> sum over 32 tasks is ~0.1 s on
# this host when healthy — big enough that a CPU-steal burst moves it,
# small enough that 3 passes x ~40 rows cost ~15 s of bench wall.
SENTINEL_ROWS = 24_000_000
SENTINEL_TASKS = 32


def _sentinel_time(spark) -> float:
    """One fixed-size JVM-only job, timed — the per-row host-burst
    calibration VERDICT r13 #2 asked for. The start-of-run
    ``effective_cores`` probe is a point sample and cannot see
    mid-run hypervisor-steal bursts (r13: probe read 29.3 while the
    run itself drifted 1.35x slower); interleaving this sentinel
    before every headline sample stamps each row with the host speed
    AT THAT MOMENT, so a regression can be adjudicated row-by-row
    (query time up while its sentinel is flat = code; both up
    together = host). Pure codegen (range -> xxhash64 -> sum), no
    Python workers, no input I/O, nothing cached — the same fixed
    work every time."""
    from pyspark.sql import functions as F

    job = spark.range(0, SENTINEL_ROWS, 1, SENTINEL_TASKS).select(
        # shiftright(32) keeps the 24M-term sum under 2^63 (ANSI mode
        # raises on long overflow; raw xxhash64 sums overflow)
        F.sum(F.shiftright(F.xxhash64("id"), 32)).alias("h")
    )
    return timed(spark, lambda: consume(job))[0]


def _probe_burn(n: int) -> int:
    """Fixed-size pure-Python CPU unit for the effective-cores probe
    (no BLAS, no shared GIL across processes — each worker is one
    CPython process spinning this loop)."""
    acc = 0
    for i in range(n):
        acc = (acc * 1103515245 + i) & 0xFFFFFFFF
    return acc


def effective_cores(workers: int | None = None, unit: int = 4_000_000) -> tuple[float, int]:
    """Host-contention calibration emitted alongside the bench JSON.

    Rounds 8-10 attributed uniform bench drift to hypervisor CPU steal
    via an out-of-band saturation probe (~20 effective cores delivered
    to a 32-process load on this host); the judge asked for the BENCH
    artifact to carry that calibration itself so future comparisons
    don't re-derive it. Method: wall-time one burn unit solo, then
    ``workers`` units in parallel (one process each); aggregate
    speedup = workers x solo / parallel = cores actually delivered.
    ``workers`` defaults to the session's core count
    (``session.default_cpus``), so the probe loads the host it runs on.
    Costs ~1.5 s once per bench run. Returns (cores, workers) so the
    emitted artifact always states the probe configuration that
    produced the number (ADVICE round 11)."""
    import multiprocessing as mp

    workers = workers or default_cpus()
    t0 = time.time()
    _probe_burn(unit)
    solo = time.time() - t0
    with mp.get_context("fork").Pool(workers) as pool:
        t0 = time.time()
        pool.map(_probe_burn, [unit] * workers)
        par = time.time() - t0
    return round(workers * solo / par, 1), workers


def warm_up(spark, sf_dir: str, fns: dict) -> None:
    """Measure steady state, not process startup: spawn the Python-UDF
    workers, then run every query in ``fns`` once against the smallest
    scale factor — the generated code is identical across scale
    factors, so this pre-fills the Janino codegen cache (~6 s of
    first-run compilation per complex pipeline otherwise lands in the
    timings)."""
    import pandas as pd
    from pyspark.sql import functions as F

    def _noopf(batches):
        for pdf in batches:
            yield pd.DataFrame({"x": [1]})

    consume(spark.range(64).repartition(default_cpus()).mapInPandas(_noopf, "x long"))
    spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).agg(
        F.count(F.lit(1))
    ).collect()
    warm_dir = WARMUP_SF_DIR if os.path.isdir(WARMUP_SF_DIR) else sf_dir
    for fn in fns.values():
        try:
            consume(fn(spark, warm_dir))
        except Exception:  # noqa: BLE001 - warmup must never fail the bench
            pass


def consume(df) -> None:
    """Force every column of ``df`` through the noop sink. A bare
    ``count()`` lets Catalyst prune the projections, windows and UDFs
    no output column needs, so it under-reports the query."""
    df.write.format("noop").mode("overwrite").save()


def timed(spark, action) -> tuple[float, object]:
    """``(seconds, result)`` of one call of ``action()``. The run is
    isolated first: persisted blocks left by the previous run are
    dropped (otherwise storage-memory pressure distorts later timings
    by 5-10x via spill + GC), and the collector is nudged so orphaned
    localCheckpoint RDDs from iterative queries are actually freed
    between attempts."""
    spark.catalog.clearCache()
    gc.collect()
    t0 = time.perf_counter()
    result = action()
    return time.perf_counter() - t0, result


def timed_sample(spark, fn, sf_dir: str) -> float:
    """Wall seconds of one run of ``fn(spark, sf_dir)`` into the noop
    sink, isolated by :func:`timed`."""
    return timed(spark, lambda: consume(fn(spark, sf_dir)))[0]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    cores, probe_workers = effective_cores()  # before the JVM: bare host
    spark = get_spark("bench")
    fns = {n: QUERIES[n].fn for n in HEADLINE if n in QUERIES}
    fns.update(BENCH_EXTRA)
    names = list(fns)
    warm_up(spark, sf_dir, fns)
    _sentinel_time(spark)  # compile the sentinel's codegen once too

    # host-level CPU-steal spikes are bursty and MULTI-MINUTE (measured:
    # identical code benched 21.1 s and 29.2 s an hour apart). Sampling
    # a query's attempts back-to-back lets one burst poison all of
    # them, so the three base samples run as three INTERLEAVED full
    # passes — a burst then costs every query one sample instead of
    # one query every sample. Queries whose two fastest samples still
    # disagree by >1.5x get up to 3 extra attempts (min is then
    # reproducible, not lucky).
    # every sample is preceded by one fixed sentinel job (additive
    # calibration, VERDICT r13 #2): sentinels[n][i] is the host-speed
    # reading taken immediately before samples[n][i]
    samples: dict[str, list[float]] = {n: [] for n in names}
    sentinels: dict[str, list[float]] = {n: [] for n in names}
    for _pass in range(3):
        for name in names:
            sentinels[name].append(_sentinel_time(spark))
            samples[name].append(timed_sample(spark, fns[name], sf_dir))
    for name in names:
        while len(samples[name]) < 6 and (
            sorted(samples[name])[1] > 1.5 * sorted(samples[name])[0]
        ):
            sentinels[name].append(_sentinel_time(spark))
            samples[name].append(timed_sample(spark, fns[name], sf_dir))
    timings = {n: round(min(samples[n]), 3) for n in names}
    # the sentinel reading adjacent to the sample that produced each
    # reported min — the number to normalize that row by
    sentinel_at_min = {
        n: round(sentinels[n][samples[n].index(min(samples[n]))], 3)
        for n in names
    }
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # host calibration: cores actually delivered to a
                # CPU-saturating load of probe_workers processes (one
                # per session core) at bench time — probe_workers on
                # an idle host; r8-r14 probed with 32 and read ~20
                # under that VM's hypervisor steal, see SCALING.md.
                # Compare totals across rounds in units of THIS
                # number, not wall seconds.
                "calibration": {
                    "effective_cores": cores,
                    "probe_workers": probe_workers,
                    # per-row host-burst calibration (VERDICT r13 #2,
                    # additions-only): one fixed codegen job
                    # (range->xxhash64->sum, SENTINEL_ROWS rows,
                    # SENTINEL_TASKS tasks) timed immediately before
                    # EVERY headline sample. sentinel_sec[q] is the
                    # reading adjacent to the sample that produced
                    # queries[q]; sentinel_samples[q] lists all of
                    # them in sample order. Compare a row's regression
                    # against its own sentinel: query up + sentinel
                    # flat = code; both up = host burst.
                    "sentinel_sec": sentinel_at_min,
                    "sentinel_samples": {
                        n: [round(s, 3) for s in sentinels[n]]
                        for n in names
                    },
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
