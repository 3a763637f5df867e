"""Plan audit: which queries put an sf-SCALED relation inside a
BroadcastExchange at sf1?

Broadcasting a relation that grows with the data only works while it
fits the session threshold — forced (`F.broadcast(...)`) sites keep
broadcasting forever and OOM at scale, while threshold-chosen sites
auto-degrade to shuffled joins under AQE. This audit walks every
relational/extension query's executed plan against the sf1 replica
fixture, collects the parquet scans inside each BroadcastExchange
subtree, and flags the sf-scaled ones; cross-check any flag against
the code — an explicit F.broadcast() on a scaled table is a bug (the
round-9 sweep removed 12 such sites), a threshold-chosen one is fine.

Usage: python tools/audit_broadcasts.py [sf_dir]
"""
from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_sf1 import SF1_DIR
from vector_database_watermarking_spark.registry import QUERIES
from vector_database_watermarking_spark.session import get_spark

SCALED = {
    "lineitem", "orders", "customer", "supplier", "part",
    "events", "documents", "embeddings",
}


def broadcast_tables(plan: str):
    """Tables scanned inside each BroadcastExchange subtree."""
    lines = plan.split("\n")
    out = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        indent = len(ln) - len(ln.lstrip(" :+-|"))
        tabs = set()
        for nxt in lines[i + 1:]:
            nind = len(nxt) - len(nxt.lstrip(" :+-|"))
            if nxt.strip() and nind <= indent:
                break
            tabs.update(re.findall(r"(\w+)\.parquet", nxt))
        if tabs:
            out.append(tabs)
    return out


# These two exceed the audit's per-query budget at sf1 (contamination's
# bloom build and the exact k-means' two assignment passes each run
# minutes of eager work before a plan exists); their broadcast sides
# are triaged at the CODE level instead — a documented m/8-byte bitmap
# and a k-row centroid table, both bounded. Pass --all to force them.
SKIP_HEAVY = {"ext_contamination_bloom", "ext_kmeans_refine"}


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--all"]
    run_all = "--all" in sys.argv[1:]
    sf_dir = args[0] if args else SF1_DIR
    spark = get_spark("bcast-audit")
    names = [n for n in QUERIES if n.startswith("rel_")] + [
        n for n in QUERIES
        if n.startswith("ext_") and not n.startswith("ext_graph")
    ]
    if not run_all:
        names = [n for n in names if n not in SKIP_HEAVY]
    flagged = 0
    for n in names:
        try:
            t0 = time.time()
            plan = (
                QUERIES[n].fn(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString()
            )
            hits = sorted(
                {t for bt in broadcast_tables(plan) for t in bt if t in SCALED}
            )
            if hits:
                flagged += 1
                print(f"FLAG {n}: broadcasts {hits} ({time.time()-t0:.0f}s)",
                      flush=True)
            else:
                print(f"ok   {n}", flush=True)
        except Exception as e:  # noqa: BLE001
            print(f"err  {n}: {str(e)[:120]}", flush=True)
    print(f"flagged {flagged}/{len(names)} (each needs a code cross-check "
          "for a forced F.broadcast)")
    return 0


if __name__ == "__main__":
    main()
