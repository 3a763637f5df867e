"""Utility impact (C9) at reference scale (VERDICT r08 #6): the
n = 500 table in ROBUSTNESS.md showed near-zero per-carrier
missed/false under exact kNN; the reference's ``results11.pkl``
reports 2.5–9.6 missed per carrier at n = 20,000, k = 100 against a
faiss HNSW index (``impact/impact.py:130-171``). This runs the same
measurement at a comparable carrier count so the "exact-kNN ⇒
near-zero impact" explanation is demonstrated at reference scale, not
extrapolated from 36 carriers.

Usage: python tools/run_utility_impact.py [n] [k] [th ...] (defaults
10000 100 and the reference's full 10-point th grid 0.1..1.0 —
``impact/impact.py:132`` — prints one JSON line per th)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tools.run_refconfig_grid import WATERMARK, load_dense_emb
from vector_database_watermarking_spark.experiments import utility_impact
from vector_database_watermarking_spark.session import get_spark
from vector_database_watermarking_spark.watermark.tvp import tvp_embed


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    spark = get_spark("utility-impact")
    ths = (
        tuple(float(a) for a in sys.argv[3:])
        if len(sys.argv) > 3
        else (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0)
    )
    emb = load_dense_emb(spark, n).localCheckpoint(eager=True)
    for th in ths:
        t0 = time.monotonic()
        wm, carriers = tvp_embed(emb, WATERMARK, 0.55, th, seed=20)
        wm = wm.localCheckpoint(eager=True)
        imp = utility_impact(emb, wm, carriers.select("vec_id"), k=k)
        row = imp.agg(
            F.count(F.lit(1)).alias("carriers"),
            F.avg("missed").alias("avg_missed"),
            F.avg("false_hits").alias("avg_false"),
            F.avg("n_before").alias("avg_queries"),
            F.max("missed").alias("max_missed"),
        ).head()
        print(
            json.dumps(
                {
                    "n": n,
                    "k": k,
                    "th": th,
                    "strength": 0.55,
                    "carriers": int(row["carriers"]),
                    "avg_missed": round(float(row["avg_missed"]), 3),
                    "avg_false": round(float(row["avg_false"]), 3),
                    "avg_queries_per_carrier": round(float(row["avg_queries"]), 1),
                    "max_missed": int(row["max_missed"]),
                    "wall_sec": round(time.monotonic() - t0, 1),
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
