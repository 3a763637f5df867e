import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_database_watermarking_spark.operators import attacks, knn, stats
from vector_database_watermarking_spark.experiments import robustness_grid

from tests.plan_checks import invariant_lambda_md5s


def test_random_delete_exact_count_and_invariance(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    out = attacks.random_delete(emb, 0.3, seed=7)
    assert out.count() == n - math.ceil(n * 0.3)
    ids1 = sorted(r["vec_id"] for r in out.select("vec_id").collect())
    ids2 = sorted(
        r["vec_id"]
        for r in attacks.random_delete(emb.repartition(9), 0.3, seed=7)
        .select("vec_id")
        .collect()
    )
    assert ids1 == ids2


def _hash60(key: str) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)


def _replay_modify(orig: dict, targets, seed: int) -> dict:
    """The C8 rewrite replayed in plain Python: each target row gets the
    keyed value ``float32(lo + (hi - lo)·u)`` over the ``SPAN`` dims
    from its keyed offset, mod d; ``[lo, hi]`` spans every value."""
    values = [x for e in orig.values() for x in e]
    lo, hi = float(min(values)), float(max(values))
    out = dict(orig)
    for v in targets:
        e = list(orig[v])
        d = len(e)
        off = _hash60(f"{seed}_off_{v}") % d
        u = (float(_hash60(f"{seed}_val_{v}")) + 1.0) / float(2**60 + 2)
        nv = float(np.float32(lo + (hi - lo) * u))
        for j in range(min(attacks.SPAN, d)):
            e[(off + j) % d] = nv
        out[v] = e
    return out


def _hexes(rows: dict) -> dict:
    return {v: [float(x).hex() for x in e] for v, e in rows.items()}


def test_random_modify_touches_exact_rows_and_span(spark, sf_dir):
    """random_modify rewrites the first ceil(n·p) rows in keyed-hash
    order, and each rewritten row equals the plain-Python replay of its
    offset, span and value, bit for bit."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    out = attacks.random_modify(emb, 0.2, seed=7)
    orig = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    new = {r["vec_id"]: r["embedding"] for r in out.collect()}
    changed = [v for v in orig if orig[v] != new[v]]
    assert len(changed) == math.ceil(n * 0.2)
    targets = sorted(orig, key=lambda v: (_hash60(f"7_modi_{v}"), v))[: math.ceil(n * 0.2)]
    assert _hexes(new) == _hexes(_replay_modify(orig, targets, 7))


def test_gaussian_insertion_stats(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    out = attacks.gaussian_insertion(emb, lambda _: 300, seed=7)
    assert out.count() == emb.count() + 300
    new_rows = out.filter(F.col("vec_id") >= 10_000_000).collect()
    X = np.array([r["embedding"] for r in new_rows])
    base = np.array([r["embedding"] for r in emb.collect()])
    # synthetic rows roughly match per-dim stats
    assert abs(X.mean() - base.mean()) < 0.05
    assert abs(X.std() - base.std()) < 0.1


def test_adaptive_insertion_counts_null_and_empty_rows(spark):
    """The insertion size comes from the stats aggregate's row count:
    rows with a null or an empty embedding count towards it, and the
    inserted rows keep the width of the non-empty ones."""
    from vector_database_watermarking_spark import api

    rows = [(i, [float(i), -float(i)]) for i in range(1, 8)]
    rows += [(100, None), (101, []), (102, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    p = 0.25
    out = api.adaptive_insertion(df, p, seed=7)
    added = out.filter(F.col("vec_id") >= 10_000_000).collect()
    assert len(added) == math.ceil(df.count() * p) == 3
    assert all(len(r["embedding"]) == 2 for r in added)
    assert out.count() == len(rows) + 3


def test_adaptive_insertion_job_count(spark, sf_dir):
    """Spark jobs of ``api.adaptive_insertion`` with its output forced
    by an eager local checkpoint: the stats aggregate also yields the
    row count, so no separate ``count()`` runs."""
    from vector_database_watermarking_spark import api

    sc = spark.sparkContext
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    group = "test-jobs-adaptive_insertion"
    sc.setJobGroup(group, group)
    try:
        api.adaptive_insertion(emb, 0.3, seed=7).localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 5


def test_hit_rate_and_missed_false(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = knn.knn_edges(emb, k=5).cache()
    assert stats.hit_rate(edges, edges, 5) == 1.0
    mf = stats.missed_false_counts(edges, edges)
    row = mf.agg(F.sum("missed"), F.sum("false_hits")).head()
    assert row[0] == 0 and row[1] == 0
    # against attacked data the rate drops
    attacked = attacks.random_delete(emb, 0.4, seed=7)
    edges2 = knn.knn_edges(attacked, k=5)
    hr = stats.hit_rate(edges2, edges, 5)
    assert 0.0 < hr < 1.0
    edges.unpersist()


def test_jaccard(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert stats.row_set_jaccard(emb, emb) == 1.0
    smaller = attacks.random_delete(emb, 0.5, seed=7)
    j = stats.row_set_jaccard(emb, smaller)
    assert 0.4 < j < 0.6


def test_robustness_grid_monotone_trend(spark, sf_dir):
    """BER stays 0 with no/low attack and is non-trivially higher at
    p=0.8 than p=0.1 under random deletion (BASELINE.md band)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    res = robustness_grid(
        emb,
        "10101",
        attack="random_delete",
        strengths=(0.7,),
        ths=(1.0,),
        ps=(0.0, 0.5),
        seed=20,
    )
    by_p = {r.p: r.ber for r in res}
    assert by_p[0.0] == 0.0
    assert by_p[0.5] <= 0.4  # majority usually survives 50% deletion


def test_modify_targets_lockstep_with_random_modify(spark, sf_dir):
    """modify_targets must name exactly the rows random_modify rewrote."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    perturbed = attacks.random_modify(emb, 0.2, seed=42)
    targets = {r["vec_id"] for r in attacks.modify_targets(emb, 0.2, seed=42).collect()}
    orig = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    changed = {
        r["vec_id"]
        for r in perturbed.collect()
        if list(r["embedding"]) != list(orig[r["vec_id"]])
    }
    # every changed row is a target; a target may coincidentally keep its
    # values only if the drawn value already matched (not at this sf)
    assert changed == targets


def test_carrier_impact_tvp_embed(spark, sf_dir):
    """A13 with the real TVP bit-surgery perturbation (the non-SQL
    variant of the registered a13 query): impact must be bounded and
    non-carriers must keep their neighborhoods mostly intact."""
    from vector_database_watermarking_spark.watermark.tvp import tvp_embed

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    wm_df, carriers = tvp_embed(emb, "101", strength=0.6, th=0.5, seed=20)
    before = knn.knn_edges(emb.select("vec_id", "embedding"), k=10).cache()
    after = knn.knn_edges(wm_df.select("vec_id", "embedding"), k=10).cache()
    imp = stats.carrier_impact(before, after, carriers).collect()
    assert len(imp) > 0
    for r in imp:
        assert r["common"] + r["missed"] == r["n_before"]
        assert r["common"] + r["false_hits"] == r["n_after"]
    # LSB surgery barely moves vectors: the index is nearly unchanged
    rate = stats.hit_rate(before, after, 10)
    assert rate > 0.95, rate


def test_take_ranked_matches_global_window(spark, sf_dir):
    from pyspark.sql import Window

    from vector_database_watermarking_spark.operators.attacks import (
        _rank_key,
        take_ranked,
    )
    from vector_database_watermarking_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    key = _rank_key(7, "trk")
    for n in (0, 1, 37, 499, 10_000):
        got = {r["vec_id"] for r in take_ranked(emb, lambda _: n, key).collect()}
        w = Window.orderBy(key, F.col("vec_id"))
        want = {
            r["vec_id"]
            for r in emb.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n)
            .collect()
        }
        assert got == want, (n, len(got), len(want))
    # descending over a continuous double key with ties
    scored = emb.withColumn("s", (F.col("vec_id") % 17).cast("double"))
    got = {
        r["vec_id"]
        for r in take_ranked(scored, lambda _: 100, F.col("s"), descending=True).collect()
    }
    w = Window.orderBy(F.col("s").desc(), F.col("vec_id"))
    want = {
        r["vec_id"]
        for r in scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 100)
        .collect()
    }
    assert got == want


def test_take_ranked_null_keys_rank_last(spark):
    from pyspark.sql import Window

    from vector_database_watermarking_spark.operators.attacks import take_ranked

    rows = [(i, float(i % 5) if i % 3 else None) for i in range(200)]
    df = spark.createDataFrame(rows, ["vec_id", "score"])
    # nulls must never be selected while scored rows remain
    got = take_ranked(df, lambda _: 50, F.col("score"), descending=True)
    assert got.filter(F.col("score").isNull()).count() == 0
    w = Window.orderBy(F.col("score").desc(), F.col("vec_id"))
    want = {
        r["vec_id"]
        for r in df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 50)
        .collect()
    }
    assert {r["vec_id"] for r in got.collect()} == want
    # n beyond the non-null population: nulls fill the tail in tie order
    got2 = take_ranked(df, lambda _: 150, F.col("score"), descending=True)
    want2 = {
        r["vec_id"]
        for r in df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 150)
        .collect()
    }
    assert {r["vec_id"] for r in got2.collect()} == want2
    # all-null keys must not crash
    allnull = spark.createDataFrame(
        [(i, None) for i in range(20)], "vec_id long, score double"
    )
    assert take_ranked(allnull, lambda _: 5, F.col("score"), descending=True).count() == 5


def _window_top(df, n, *order):
    from pyspark.sql import Window

    w = Window.orderBy(*order)
    return {
        r["vec_id"]
        for r in df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .collect()
    }


def test_adaptive_modify_rewrites_top_ai_rows(spark, sf_dir):
    """adaptive_modify rewrites exactly the top ceil(n·p) rows by AI
    (ties by vec_id, NULL AI last), each equal to the plain-Python
    replay of its offset, span and value. At p=0.9 the quota exceeds
    the scored rows, so the NULL tail is reached in vec_id order."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    ai = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 7 == 0, F.lit(None))
        .otherwise((F.col("vec_id") % 13).cast("double"))
        .alias("ai"),
    )
    unscored = {r["vec_id"] for r in ai.filter(F.col("ai").isNull()).collect()}
    assert 0 < len(unscored) < n - math.ceil(n * 0.3)
    orig = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    for p in (0.3, 0.9):
        out = attacks.adaptive_modify(emb, ai, p, seed=7)
        new = {r["vec_id"]: r["embedding"] for r in out.collect()}
        assert new.keys() == orig.keys()
        changed = {v for v in orig if orig[v] != new[v]}
        want = _window_top(ai, math.ceil(n * p), F.col("ai").desc(), F.col("vec_id"))
        assert changed == want
        if p == 0.3:
            assert not changed & unscored
        assert _hexes(new) == _hexes(_replay_modify(orig, want, 7))


@pytest.mark.parametrize(
    "thresholds",
    [
        (2.0**61, 2.0**61),  # every row below t_lo: c_sure > n
        (-1.0, -1.0),  # empty band: c_band < quota
    ],
    ids=["c_sure_above_n", "c_band_below_quota"],
)
def test_take_ranked_guarantee_fallbacks(spark, sf_dir, monkeypatch, thresholds):
    """Quantile thresholds that break either rank guarantee must send
    take_ranked to its exact global-window path."""
    from vector_database_watermarking_spark.operators.attacks import (
        _rank_key,
        take_ranked,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id")
    key = _rank_key(7, "fb")
    want = _window_top(emb, 37, key, F.col("vec_id"))
    calls = []

    def broken(self, col, probabilities, relative_error):
        calls.append(col)
        return list(thresholds)

    monkeypatch.setattr(type(emb), "approxQuantile", broken)
    got = {r["vec_id"] for r in take_ranked(emb, lambda _: 37, key).collect()}
    assert calls == ["_akd"]
    assert got == want


@pytest.mark.parametrize(
    "attack, expected", [("random_delete", 9), ("random_modify", 12)]
)
def test_attack_job_counts(spark, sf_dir, attack, expected):
    """Spark jobs of one attack call with its output forced by an eager
    local checkpoint (as the traced benchmark forces it): the probe's
    count/quantile/bracket actions, the modify stats aggregate and the
    output's own jobs."""
    sc = spark.sparkContext
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    group = f"test-jobs-{attack}"
    sc.setJobGroup(group, group)
    try:
        getattr(attacks, attack)(emb, 0.3, seed=7).localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == expected


def test_attack_lambdas_hold_no_row_invariant_md5(spark, sf_dir):
    """The keyed draws of a modified row are computed once per row, below
    the target join: no md5 that reads no lambda variable may sit inside
    a ``transform`` lambda, which runs once per element. The insertion
    lambda's md5s read the element index. A lambda that hashes only
    ``vec_id`` shows the guard sees such an md5."""
    from vector_database_watermarking_spark.functions.hashing import hash60

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ai = emb.select("vec_id", (F.col("vec_id") % 13).cast("double").alias("ai"))
    for out in (
        attacks.random_modify(emb, 0.5, seed=7),
        attacks.adaptive_modify(emb, ai, 0.5, seed=7),
        attacks.gaussian_insertion(emb, lambda _: 50, seed=7),
    ):
        assert invariant_lambda_md5s(out) == []
    keyed = emb.select(
        F.transform(
            "embedding", lambda x: x + hash60(F.col("vec_id").cast("string"))
        ).alias("e")
    )
    assert len(invariant_lambda_md5s(keyed)) == 1
