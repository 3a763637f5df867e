import math
from collections import Counter

import pytest

from vector_database_watermarking_spark.operators import grouping
from vector_database_watermarking_spark.operators.grouping import ber
from vector_database_watermarking_spark.watermark import scpw
from vector_database_watermarking_spark.watermark.scpw import (
    classify_scpw,
    scpw_embed,
    scpw_extract,
)
from vector_database_watermarking_spark.watermark.tabularmark import (
    divide_interval_randomly,
    find_category,
    green_perturbation,
    tabularmark_detect,
    tabularmark_embed,
    tabularmark_match_count,
)

from tests.plan_checks import python_evals

WM = "10101"


def test_scpw_roundtrip(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    wm_df, carriers = scpw_embed(emb, WM, strength=0.7, top_k=3, position=10, std_e=0.1)
    wm_df = wm_df.cache()
    assert carriers.count() > 0
    extracted = scpw_extract(wm_df, len(WM), top_k=3, position=10)
    assert ber(WM, extracted) == 0.0
    wm_df.unpersist()


def test_scpw_distribution_preserved(spark, sf_dir):
    """The noise construction preserves column mean/std (found_e,
    SCPW.py:31-62): watermarked column stats stay close."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    wm_df, _ = scpw_embed(emb, WM, strength=0.6, top_k=3, position=10, std_e=0.1)
    pos = 10
    orig = np.array([r["embedding"][pos] for r in emb.collect()])
    new = np.array([r["embedding"][pos] for r in wm_df.collect()])
    assert abs(orig.mean() - new.mean()) < 0.2
    assert abs(orig.std() - new.std()) < 0.6


@pytest.mark.parametrize("strength", [0.55, 0.7])
def test_scpw_carriers_meet_capped_deficit(spark, sf_dir, strength):
    """F5 for SCPW (``SCPW.py:179-229``): each group takes exactly the
    capped deficit ``min(max(0, ceil(s·n_total) − n_have), n_avail)``
    of carriers, all of them rows whose hidden bit disagreed with the
    group's target; the deficit is computed here from
    ``classify_scpw``'s rows."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _, carriers = scpw_embed(
        emb, WM, strength=strength, top_k=3, position=10, std_e=0.1
    )
    cls = {r["vec_id"]: r for r in classify_scpw(emb, 3, len(WM), 10).collect()}
    n_total, n_have = Counter(), Counter()
    for r in cls.values():
        n_total[r["group_id"]] += 1
        n_have[r["group_id"]] += r["hidden_bit"] == int(WM[r["group_id"]])
    want = {
        g: min(max(0, math.ceil(strength * n) - n_have[g]), n - n_have[g])
        for g, n in n_total.items()
    }
    rows = carriers.collect()
    got = Counter(r["group_id"] for r in rows)
    assert {g: got[g] for g in want} == want
    assert sum(want.values()) > 0
    for r in rows:
        assert r["wm_bit"] == int(WM[r["group_id"]]) != cls[r["vec_id"]]["hidden_bit"]


def test_scpw_plans_classify_once(spark, sf_dir, monkeypatch):
    """SCPW runs TVP's pipeline: one classifier relation and one
    embedder in the watermarked frame, the classifier alone behind the
    carriers and behind the extraction's decode."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    wm_df, carriers = scpw_embed(emb, WM, strength=0.7, top_k=3, position=10, std_e=0.1)
    n, names = python_evals(wm_df)
    assert n == 2, names
    n, names = python_evals(carriers)
    assert n == 1, names

    seen = []
    decode = scpw.decode_bitstring
    monkeypatch.setattr(
        scpw, "decode_bitstring", lambda cls, L: seen.append(cls) or decode(cls, L)
    )
    scpw_extract(emb, len(WM), top_k=3, position=10)
    n, names = python_evals(grouping.majority_decode(seen[0]))
    assert n == 1, names


def test_tabularmark_ids_run_in_the_jvm(spark, sf_dir, monkeypatch):
    """TabularMark's content id is a native column: the key cells and
    the match-count relation evaluate no Python."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _, keys = tabularmark_embed(emb, nw=20, p=4.0, k=3, position=10)
    n, names = python_evals(keys)
    assert n == 0, names

    seen = []
    count = type(emb).count
    monkeypatch.setattr(type(emb), "count", lambda df: seen.append(df) or count(df))
    assert tabularmark_match_count(emb, keys, 3) >= 20  # every key row matches
    n, names = python_evals(seen[0])
    assert n == 0, names


def test_interval_partition_properties():
    for seed_id in ["000", "123456789", "42"]:
        c1, c2 = divide_interval_randomly(4.0, seed_id)
        # equal total length p
        l1 = sum(e - s for s, e in c1)
        l2 = sum(e - s for s, e in c2)
        assert abs(l1 - 4.0) < 1e-9 or abs(l2 - 4.0) < 1e-9
        # deterministic
        d1, d2 = divide_interval_randomly(4.0, seed_id)
        assert c1 == d1 and c2 == d2
        # green draws land in category 1
        delta = green_perturbation(4.0, seed_id)
        assert find_category(delta, c1, c2) == 0


def test_tabularmark_detects_watermark(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    wm_df, keys = tabularmark_embed(emb, nw=100, p=4.0, k=3, position=10)
    res = tabularmark_detect(emb, wm_df, keys, p=4.0, k=3, position=10)
    assert res["detected"], res
    assert res["ng"] >= 0.8 * res["nw"]


def test_tabularmark_rejects_clean_data(spark, sf_dir):
    """Clean data has no green bias → z ≈ 0 → not detected.
    (Δ = 0 for unmodified matched rows; zero may fall in either
    category, but never systematically green.)"""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _, keys = tabularmark_embed(emb, nw=100, p=4.0, k=3, position=10)
    res = tabularmark_detect(emb, emb, keys, p=4.0, k=3, position=10)
    assert res["z"] <= 1.96 * 1.5, res


def test_tabularmark_match_count_tracks_deletion(spark, sf_dir):
    """Matching_vector semantics (tabularMark.py:129-154) as a count:
    every key row is re-findable pre-attack (match-loss 0); deleting
    rows removes key rows at the corpus rate, so the count drops by
    roughly the deletion fraction — the compare grid's match-loss ≈ p
    line. position=45 sits outside the first-40 id dims so the green
    perturbation cannot corrupt the ids it must later match."""
    from pyspark.sql import functions as F

    from vector_database_watermarking_spark.operators import attacks
    from vector_database_watermarking_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    nw = 20
    wm, keys = tabularmark_embed(emb, nw, 4.0, 40, 45)
    wm = wm.localCheckpoint(eager=True)
    assert tabularmark_match_count(wm, keys, 40) == nw

    deleted = attacks.random_delete(wm, 0.5, seed=20)
    m = tabularmark_match_count(deleted, keys, 40)
    assert 0 < m < nw  # some keys gone, not all
    # exact check: the surviving-key count IS the match count
    survivors = deleted.join(
        keys.select("vec_id"), on="vec_id", how="leftsemi"
    ).count()
    assert m == survivors


def test_scpw_modification_ber_tracks_content_id_entropy(spark):
    """Pin the ROBUSTNESS.md round-10 finding as an executable
    invariant (VERDICT r10 missing #3): SCPW's modification robustness
    is a property of the CORPUS's content-id entropy, not of the
    voting scheme — the reference's published BER 0.2 at p=0.8
    (compare_modi_robust.pkl) sits between a healthy-id corpus and a
    degenerate-id corpus because SIFT descriptors' zero-heavy small
    integers collapse the id space (SCPW.py:73-84 takes the leading
    decimal digit of each of the first top_k dims).

    Two 10k-row fixtures differing ONLY in the id-dim (first top_k=20)
    value distribution, both at reference geometry (d=128,
    position=100, strength 0.55, L=21 — compare/roubust.py:242-249):

    - healthy: unit-scale floats (permutation replicas of the sf0.1
      embeddings — every content id distinct);
    - degenerate: SIFT-like zero-heavy small ints drawn from <=26
      keyed patterns (id space collapses to ~10 distinct vids).

    Pinned mechanism, start to finish: id collapse -> md5(vid) % L
    group concentration (13 of 21 groups EMPTY, stddev of group sizes
    >10x the healthy fixture's) -> empty groups decode '0' and small
    groups flip under vote noise -> modification BER rises past the
    healthy fixture's, bracketing the reference's 0.2. If the id
    function, the grouping hash, or the voting path changes, one of
    these assertions moves."""
    import random

    from pyspark.sql import functions as F

    from vector_database_watermarking_spark.experiments import robustness_grid
    from vector_database_watermarking_spark.functions.hashing import hash60

    wm = "001010010101001010010"  # L=21, compare/roubust.py:162
    d = 64
    base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    parts = [base]
    for r in range(1, 5):  # 5 x 2000 rows, ids distinct per replica
        perm = list(range(d))
        random.Random(1000 + r).shuffle(perm)
        permuted = F.array(
            *[F.element_at("embedding", perm[i] + 1) for i in range(d)]
        )
        parts.append(
            base.select(
                (F.col("vec_id") + 2000 * r).alias("vec_id"),
                permuted.alias("embedding"),
            )
        )
    healthy = parts[0]
    for p in parts[1:]:
        healthy = healthy.unionByName(p)
    # reference geometry: d=128 via the value-preserving reversed pad
    healthy = healthy.select(
        "vec_id", F.concat("embedding", F.reverse("embedding")).alias("embedding")
    ).localCheckpoint(eager=True)

    # degenerate twin: swap ONLY the id-dim value distribution for
    # SIFT-like zero-heavy small ints from <=26 keyed patterns
    pat = F.pmod(hash60(F.col("vec_id").cast("string")), F.lit(26))

    def deg_val(i: int):
        m = F.pmod(pat * 31 + i * 7, F.lit(10))
        return (
            F.when(m < 7, F.lit(0.0))
            .when(m < 9, F.lit(1.0))
            .otherwise(F.lit(2.0))
            .cast("float")
        )

    degenerate = healthy.select(
        "vec_id",
        F.concat(
            F.array(*[deg_val(i) for i in range(20)]),
            F.slice("embedding", 21, 108),
        ).alias("embedding"),
    ).localCheckpoint(eager=True)

    # (1) the id space collapses...
    stats = {}
    for name, e in (("healthy", healthy), ("degenerate", degenerate)):
        cls = classify_scpw(e, top_k=20, L=21, position=100)
        sizes = cls.groupBy("group_id").count()
        agg = sizes.agg(
            F.count(F.lit(1)).alias("present"),
            F.stddev("count").alias("sd"),
        ).head()
        stats[name] = (
            cls.select("vid").distinct().count(),
            agg["present"],
            float(agg["sd"]),
        )
    assert stats["healthy"][0] == 10000  # every content id distinct
    assert stats["degenerate"][0] <= 26
    # (2) ...concentrating group assignment (most groups empty) and
    # dispersing group sizes
    assert stats["healthy"][1] == 21
    assert stats["degenerate"][1] <= 10
    assert stats["degenerate"][2] > 10 * stats["healthy"][2]

    # (3) ...which is what erodes modification robustness: the two
    # endpoints bracket the reference's published 0.2 @ p=0.8
    bers = {}
    for name, e in (("healthy", healthy), ("degenerate", degenerate)):
        total = 0.0
        for seed in (20, 21, 22):
            res = robustness_grid(
                e,
                wm,
                attack="random_modify",
                scheme="scpw",
                strengths=(0.55,),
                ths=(1.0,),
                ps=(0.8,),
                seed=seed,
                scpw_position=100,
            )
            total += res[0].ber
        bers[name] = total / 3
    assert bers["healthy"] < 0.2 < bers["degenerate"]
    assert bers["degenerate"] > bers["healthy"] + 0.05
