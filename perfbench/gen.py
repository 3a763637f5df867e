"""Seeded input generator for the watermark benchmark.

With ``--out``, writes a Gaussian-mixture vector collection
``(vec_id long, embedding array<float>)`` with d=64 float32 dims to one
parquet file. With ``--expect``, writes the pinned expectations for that
collection to a JSON file. The same ``--seed`` gives byte-identical
files. The watermark, strength and key seed are the workloads' own
(``workloads.py``).

It runs in a child process of ``run.py`` so its numpy buffers never
count toward the benchmark process's memory. ``run.py`` times only the
``--out`` call, as set-up; it asks for ``--expect`` only in traced
runs, outside any timed region. The expected carrier count
is the closed-form deficit sum of the TVP/RS selection model
(``ceil(strength * n_g) - have_g``, capped at the disagreeing rows,
summed over groups), computed here with the package's scalar
content-id/hash/bit functions, independently of the Spark pipeline
that selects the carriers.

    python3 perfbench/gen.py --n 5000 --seed 1 --out data.parquet
    python3 perfbench/gen.py --n 5000 --seed 1 --expect expect.json
"""

from __future__ import annotations

import argparse
import json
import math

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from workloads import KEY_SEED, STRENGTH, WATERMARK

DIM = 64
CLUSTERS = 16
SPREAD = 0.3


def collection(n: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 1.0, (CLUSTERS, DIM))
    labels = rng.integers(0, CLUSTERS, n)
    noise = rng.normal(0.0, SPREAD, (n, DIM))
    return (centers[labels] + noise).astype(np.float32)


def expected_carriers(X: np.ndarray) -> int:
    from vector_database_watermarking_spark.functions import bits
    from vector_database_watermarking_spark.functions.hashing import compat_md5_mod, key_dims

    L = len(WATERMARK)
    dims = key_dims(X.shape[1], KEY_SEED)
    skip = frozenset(dims)
    total = [0] * L
    have = [0] * L
    for row in X:
        vec = list(row)  # float32 scalars, as the classifier UDF sees them
        vid = bits.content_id_py(vec, dims)
        g = compat_md5_mod(vid, L)
        total[g] += 1
        have[g] += bits.extract_bit_fast(vec, vid, skip) == int(WATERMARK[g])
    return sum(
        min(max(0, math.ceil(STRENGTH * t) - h), t - h) for t, h in zip(total, have)
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--n", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    what = ap.add_mutually_exclusive_group(required=True)
    what.add_argument("--out", help="parquet file for the collection")
    what.add_argument("--expect", help="JSON file for the pinned expectations")
    args = ap.parse_args()

    X = collection(args.n, args.seed)
    if args.out:
        emb = pa.FixedSizeListArray.from_arrays(pa.array(X.ravel()), DIM).cast(
            pa.list_(pa.float32())
        )
        table = pa.table({"vec_id": pa.array(np.arange(args.n, dtype=np.int64)), "embedding": emb})
        pq.write_table(table, args.out)
    else:
        with open(args.expect, "w") as f:
            json.dump({"n": args.n, "carriers": expected_carriers(X)}, f)


if __name__ == "__main__":
    main()
