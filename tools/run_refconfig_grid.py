"""Reference-config robustness rows for SCPW and TabularMark
(VERDICT r08 #5): the compare grid at the reference's own scale —
n = 10,000 vectors, L = 21 (``compare/roubust.py:158-213``) — for the
two schemes ROBUSTNESS.md's round-8 grid didn't cover.

Fixture: five sf1 replicas of the sf0.1 embeddings, densely re-keyed
to vec_id ∈ [0, 10000) (replica r spans [r*2000, (r+1)*2000)) — the
same 10k construction as the round-8 TVP/RS grid.

Anchors from the reference's pickled grid (``BASELINE.md``):
- SCPW random deletion BER at p=0.8: 0.167 (top_k=20, strength=0.54,
  Standard_e=1.8 — ``compare/roubust.py:166-171,200-205``)
- TabularMark match proportion lost: 0.099 at p=0.1 rising to 0.78 at
  p=0.8 (nw=100, p=4, dim=40 — ``compare/roubust.py:172-174,207-213``)

Usage: python tools/run_refconfig_grid.py [n] [attack] [trials]
[schemes] [geom] (defaults 10000 random_delete 5 scpw,tabularmark
d128; prints one JSON line per scheme). ``schemes`` also accepts
``tvp`` and ``rs`` (VERDICT r11 #2: the round-8 TVP/RS grids ran on
the d=64 fixture, but the reference's anchors are
sift-128-euclidean geometry — the d=128 widened fixture re-runs
close the carry-over). ``geom`` is ``d128`` (default — VERDICT r12
#8: reference-anchor comparisons run at the reference's geometry,
since the round-12 result proved the geometry is load-bearing:
TVP's window-overlap P drops 0.998 → 0.93 from d=64 to d=128) or
``d64`` (the raw fixture — kept only for fast engine-internal
sweeps, never for anchor rows). TVP/RS anchors from the pickled
grid (``BASELINE.md``):
- TVP modification BER, p=0.1→0.8: 0.0, 0.0, 0.005, 0.014, 0.038,
  0.110, 0.207, 0.264 (strength=0.55, th=1, n=10k, times=20 —
  ``compare/compare_modi_robust.pkl``, ``compare/roubust.py:233-306``)
- RS: no published modification anchor (the pickle's RS rows cover
  deletion only) — the d=128 run records the engine's own
  d-sensitivity instead.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tools.bench_sf1 import SF1_DIR
from vector_database_watermarking_spark.experiments import (
    robustness_grid,
    tabularmark_match_grid,
)
from vector_database_watermarking_spark.session import get_spark

SF1_EMB = os.path.join(SF1_DIR, "embeddings.parquet")
VEC_OFFSET = 1 << 24  # tools/bench_sf1.py replica key stride
REPLICA_N = 2000  # sf0.1 embeddings per replica
WATERMARK = "001010010101001010010"  # L=21, compare/roubust.py:162
PS = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)


def load_dense_emb(spark, n: int):
    """First ``n // REPLICA_N`` sf1 replicas, densely re-keyed to
    vec_id ∈ [0, n) so head-slice schemes (TabularMark's first-nw key
    rows) and group sizing see a contiguous id space."""
    reps = n // REPLICA_N
    emb = spark.read.parquet(SF1_EMB).filter(
        F.col("vec_id") < reps * VEC_OFFSET
    )
    return emb.select(
        (
            F.floor(F.col("vec_id") / VEC_OFFSET) * REPLICA_N
            + F.col("vec_id") % VEC_OFFSET
        ).alias("vec_id"),
        "embedding",
    )


def load_perm_emb(spark, n: int, d: int = 64):
    """n-vector fixture with UNIQUE content ids: replicas of the sf0.1
    embeddings under per-replica DIMENSION PERMUTATIONS (the
    tools/bench_sf10.py construction). The sf1 one-dim nudge keeps the
    first-40-dim content id identical across replicas, which breaks
    TabularMark's row-level id matching (every key cell matches one
    row PER REPLICA and the match count exceeds nw); a permutation
    preserves each replica's internal distance structure exactly while
    making cross-replica content ids distinct — the reference corpus'
    unique-row property."""
    import random

    base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    reps = n // REPLICA_N
    parts = []
    for r in range(reps):
        perm = list(range(d))
        if r:
            random.Random(1000 + r).shuffle(perm)
        permuted = F.array(*[F.element_at("embedding", perm[i] + 1) for i in range(d)])
        parts.append(
            base.select(
                (F.col("vec_id") + F.lit(r * REPLICA_N)).alias("vec_id"),
                (F.col("embedding") if r == 0 else permuted).alias("embedding"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pad_to_d128(emb):
    """Reference-geometry fixture for the MODIFICATION grid
    (``compare/roubust.py:233-306``): the reference corpus is
    sift-128-euclidean (d=128), and the modification attack's match/BER
    erosion is GEOMETRIC — a modified row is corrupted only when the
    30-dim overwrite window overlaps the scheme's id/carrier dims, with
    probability (k+29)/d. Reproducing the published curves therefore
    requires d=128, not the graded fixture's 64. Widening appends the
    reversed vector: value distribution preserved exactly (so
    random_modify's [lo, hi] probe is faithful), the first-40-dim
    content ids untouched, and the reference's own position=100 becomes
    addressable."""
    return emb.select(
        "vec_id",
        F.concat(F.col("embedding"), F.reverse(F.col("embedding"))).alias(
            "embedding"
        ),
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10000
    attack = sys.argv[2] if len(sys.argv) > 2 else "random_delete"
    trials = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    schemes = set(
        sys.argv[4].split(",") if len(sys.argv) > 4 else ["scpw", "tabularmark"]
    )
    known = {"scpw", "tvp", "rs", "tabularmark"}
    if not schemes <= known:
        # a typo'd scheme must fail loudly, not "run" with zero output
        # (review round 12)
        raise SystemExit(
            f"unknown scheme(s) {sorted(schemes - known)}; "
            f"choose from {sorted(known)}"
        )
    geom = sys.argv[5] if len(sys.argv) > 5 else "d128"
    if geom not in ("d128", "d64"):
        raise SystemExit(f"geom must be d128 or d64, got {geom!r}")
    # d=128 is the DEFAULT for every anchor comparison (VERDICT r12
    # #8): the reference corpus is sift-128-euclidean, and round 12
    # measured that the geometry moves the modification curves
    # (window-overlap P 0.998 → 0.93). d64 stays available for fast
    # engine-internal sweeps only.
    pad = geom == "d128"
    spark = get_spark("refconfig-grid")
    # reference averages times=10 (deletion) / 20 (modification) CPython
    # draws; keyed-hash trials are seeds 20..20+trials-1 (the published
    # round-10 SCPW modification row used trials=10)
    seeds = tuple(range(20, 20 + trials))

    # modification config (compare/roubust.py:242-249): strength=0.55,
    # position=100 on the d=128 reference-geometry fixture; deletion
    # keeps the round-9 graded config (0.54, fixture-default position)
    modify = attack == "random_modify"
    dense_users = schemes & {"scpw", "tvp", "rs"}
    if dense_users:  # tabularmark-only runs never pay this fixture
        emb = load_dense_emb(spark, n)
        if pad:
            emb = pad_to_d128(emb)
        emb = emb.localCheckpoint(eager=True)

    # one accumulate-and-print loop for every BER-grid scheme (review
    # round 12 — scpw and tvp/rs were near-duplicate blocks); the
    # per-scheme differences live in this kwargs table. SCPW's deletion
    # row keeps the round-9 graded config (strength 0.54,
    # fixture-default position); TVP/RS mirror the reference's
    # modification grid config at both attacks (strength 0.55, th 1 —
    # compare/roubust.py:242-249).
    GRID_KW = {
        "scpw": dict(
            strengths=(0.55 if modify else 0.54,),
            scpw_position=100 if modify else None,
        ),
        "tvp": dict(strengths=(0.55,)),
        "rs": dict(strengths=(0.55,)),
    }
    for scheme in ("scpw", "tvp", "rs"):
        if scheme not in schemes:
            continue
        acc: dict[float, float] = {p: 0.0 for p in PS}
        for seed in seeds:
            res = robustness_grid(
                emb,
                WATERMARK,
                attack=attack,
                scheme=scheme,
                ths=(1.0,),
                ps=PS,
                seed=seed,
                **GRID_KW[scheme],
            )
            for r in res:
                acc[r.p] += r.ber
        print(
            json.dumps(
                {
                    "scheme": scheme,
                    "attack": attack,
                    "n": n,
                    "d": 128 if pad else 64,
                    "L": len(WATERMARK),
                    "trials": len(seeds),
                    "ber_by_p": {
                        str(p): round(acc[p] / len(seeds), 4) for p in PS
                    },
                }
            ),
            flush=True,
        )

    if "tabularmark" not in schemes:
        spark.stop()
        return
    emb_u = load_perm_emb(spark, n)
    if pad:
        emb_u = pad_to_d128(emb_u)
    emb_u = emb_u.localCheckpoint(eager=True)
    accm: dict[float, float] = {p: 0.0 for p in PS}
    for seed in seeds:
        tm = tabularmark_match_grid(
            emb_u,
            nw=100,
            p_green=4.0,
            k=40,
            position=100 if modify else 45,
            ps=PS,
            seed=seed,
            attack=attack,
        )
        for r in tm:
            accm[r["p"]] += r["match_loss"]
    print(
        json.dumps(
            {
                "scheme": "tabularmark",
                "attack": attack,
                "n": n,
                "d": 128 if pad else 64,
                "nw": 100,
                "trials": len(seeds),
                "match_loss_by_p": {
                    str(p): round(accm[p] / len(seeds), 4) for p in PS
                },
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
