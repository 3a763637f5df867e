"""IVF retrain-trigger evidence (VERDICT r08 #8): round 8 measured the
COMPACT branch of ``ivf_maintenance_report``; this constructs the
fixture that trips the RETRAIN branch and measures what retraining
buys.

Scenario: a 20k-vector sf1 index (8 fixed centroids) absorbs three
appended batches drawn from a SHIFTED distribution (every dim +1.0 —
out-of-distribution content the frozen centroids never assimilated).
All drifted vectors route to whichever centroid is nearest in the old
geometry, so one cluster's occupancy and its mean squared distance to
its own centroid both blow past the probe thresholds and the report
flips to ``recommend_retrain``.

Measured: the probe's before/after verdicts, recall@10 of the frozen
index vs exact cosine top-k for drifted queries, the retrain cost
(``ivf_build_fixed`` + ``save_ivf_index`` over the grown corpus), and
recall after retraining at the same nprobe.

Usage: python tools/bench_ivf_drift.py  (prints one JSON line)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tools.bench_sf1 import SF1_DIR
from tools.replica_util import SCRATCH as SCRATCH_ROOT

SCRATCH = os.path.join(SCRATCH_ROOT, "ivf_drift")
SHIFT = 1.0
N_QUERIES = 200
K = 10
NPROBE = 2


def recall_at_k(got, want, k: int) -> float:
    by_src_got: dict[int, set] = {}
    for r in got:
        by_src_got.setdefault(r["src"], set()).add(r["dst"])
    by_src_want: dict[int, set] = {}
    for r in want:
        by_src_want.setdefault(r["src"], set()).add(r["dst"])
    total = sum(
        len(by_src_got.get(s, set()) & w) / len(w)
        for s, w in by_src_want.items()
    )
    return total / max(1, len(by_src_want))


def main() -> None:
    from vector_database_watermarking_spark.operators import similarity
    from vector_database_watermarking_spark.session import get_spark

    spark = get_spark("ivf-drift")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    base = spark.read.parquet(os.path.join(SF1_DIR, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    n_base = base.count()

    assigned, cents = similarity.ivf_build_fixed(base, n_clusters=8)
    path = os.path.join(SCRATCH, "idx")
    similarity.save_ivf_index(assigned, cents, path)
    report_before = similarity.ivf_maintenance_report(spark, path)

    # three drifted appends: same ids re-keyed, every dim shifted by SHIFT
    shifted = F.transform("embedding", lambda x: (x + F.lit(SHIFT)).cast("float"))
    for b in range(3):
        batch = (
            base.filter(F.col("vec_id") % 10 == b)
            .select(
                (F.col("vec_id") + F.lit((b + 1) * (1 << 30))).alias("vec_id"),
                shifted.alias("embedding"),
            )
        )
        similarity.ivf_append(spark, path, batch)
    report_after = similarity.ivf_maintenance_report(spark, path)

    l_assigned, l_cents = similarity.load_ivf_index(spark, path)
    l_assigned = l_assigned.localCheckpoint(eager=True)  # multi-consumer
    full = l_assigned.select("vec_id", "embedding").localCheckpoint(eager=True)
    queries = full.filter(
        (F.col("vec_id") >= (1 << 30))
        & (F.pmod(F.xxhash64("vec_id"), F.lit(30)) == 0)
    ).limit(N_QUERIES)
    n_q = queries.count()

    truth = similarity.cosine_topk(queries, full, k=K).collect()
    frozen = similarity.ivf_search_fixed(
        queries, l_assigned, l_cents, k=K, nprobe=NPROBE
    ).collect()
    recall_frozen = recall_at_k(frozen, truth, K)

    # retrain on the KMeans tier: the fixed tier's centroids are a
    # hash-spread id SAMPLE (oracle-checkable, not drift-adaptive) —
    # production retraining must actually move centroids into the new
    # distribution's region, which is what Lloyd iterations do
    t0 = time.monotonic()
    new_assigned, new_cents = similarity.ivf_build(full, n_clusters=8, seed=42)
    path2 = os.path.join(SCRATCH, "idx_retrained")
    similarity.save_ivf_index(new_assigned, new_cents, path2)
    retrain_wall = time.monotonic() - t0
    r_assigned, r_cents = similarity.load_ivf_index(spark, path2)
    retrained = similarity.ivf_search_fixed(
        queries, r_assigned, r_cents, k=K, nprobe=NPROBE
    ).collect()
    recall_retrained = recall_at_k(retrained, truth, K)
    report_retrained = similarity.ivf_maintenance_report(spark, path2)

    print(
        json.dumps(
            {
                "n_base": n_base,
                "n_total": full.count(),
                "nprobe": NPROBE,
                "k": K,
                "n_queries": n_q,
                "before": {
                    k: report_before[k]
                    for k in ("recommend_compact", "recommend_retrain", "reasons")
                },
                "after_drift": {
                    k: report_after[k]
                    for k in ("recommend_compact", "recommend_retrain", "reasons")
                },
                "after_retrain": {
                    k: report_retrained[k]
                    for k in ("recommend_compact", "recommend_retrain", "reasons")
                },
                "recall_frozen": round(recall_frozen, 4),
                "recall_retrained": round(recall_retrained, 4),
                "retrain_wall_sec": round(retrain_wall, 2),
            }
        ),
        flush=True,
    )
    shutil.rmtree(SCRATCH, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
