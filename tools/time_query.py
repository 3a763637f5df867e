"""Time individual registry / bench-extra queries with the noop sink.

Usage: python tools/time_query.py <query> [query ...] [--reps N]

Same methodology as bench.py (warmup at sf0.001, clearCache + gc
between attempts, min over reps) but for a hand-picked subset — the
fast inner loop for optimization work so a single-query change does
not pay the full 40-query bench to measure.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_database_watermarking_spark.registry import QUERIES
from vector_database_watermarking_spark.session import get_spark


def main() -> int:
    args = sys.argv[1:]
    reps = 3
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time_query")

    import bench

    fns = {n: QUERIES[n].fn for n in QUERIES}
    fns.update(bench.BENCH_EXTRA)
    bench.warm_up(spark, sf_dir, {n: fns[n] for n in names})

    for name in names:
        samples = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(name)
            samples.append(bench.timed_sample(spark, fns[name], sf_dir))
            spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: min={min(samples):.3f}s samples="
            f"[{', '.join(f'{s:.3f}' for s in samples)}]"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
