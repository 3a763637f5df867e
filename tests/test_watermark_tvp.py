import math

from pyspark.sql import functions as F

from vector_database_watermarking_spark.functions import bits
from vector_database_watermarking_spark.operators.grouping import ber
from vector_database_watermarking_spark.watermark.tvp import (
    classify_compat,
    rs_embed,
    tvp_embed,
    tvp_extract,
)

from tests.plan_checks import python_evals

WM = "10101"
SEED = 20


def test_float_bin_roundtrip():
    for v in [0.0, 0.5, 0.75, 1.0, 2.5, 100.0, 0.2955369949340820, 0.1]:
        b = bits.float_to_bin(v)
        assert set(b) <= {"0", "1", "."} and b.count(".") == 1
        assert math.isclose(bits.bin_to_float(b), abs(v), rel_tol=0, abs_tol=1e-12)


def test_embed_extract_single_vector_roundtrip():
    import numpy as np

    rng = np.random.RandomState(7)
    skip = frozenset({1, 3})
    ok = 0
    n = 200
    for _ in range(n):
        vec = [float(np.float32(x)) for x in rng.randn(16) * 0.3]
        vid = bits.content_id_py(vec, [0, 2, 4, 5], scale=100.0)
        for wm_bit in (0, 1):
            new = bits.embed_bit(vec, wm_bit, vid, skip)
            # storage is float32: round-trip through it
            new32 = [float(np.float32(x)) for x in new]
            if bits.extract_bit(new32, vid, skip) == wm_bit:
                ok += 1
    # expansion-length shifts can flip rare cases; majority vote absorbs
    assert ok >= 2 * n * 0.95, ok


def test_tvp_roundtrip_ber_zero(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    wm_df, carriers = tvp_embed(emb, WM, strength=0.7, th=1.0, seed=SEED)
    wm_df = wm_df.cache()
    extracted = tvp_extract(wm_df, len(WM), seed=SEED)
    assert ber(WM, extracted) == 0.0
    # unwatermarked data should NOT decode to the watermark
    baseline = tvp_extract(emb, len(WM), seed=SEED)
    assert baseline != WM or carriers.count() == 0
    wm_df.unpersist()


def test_tvp_perturbation_bound(spark, sf_dir):
    """F5: per group, carriers ≤ ceil(strength · group_size)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    strength = 0.6
    _, carriers = tvp_embed(emb, WM, strength=strength, th=1.0, seed=SEED)
    cls = classify_compat(emb, len(WM), SEED)
    sizes = {r["group_id"]: r["n"] for r in cls.groupBy("group_id").agg(F.count("*").alias("n")).collect()}
    per_group = {
        r["group_id"]: r["n"]
        for r in carriers.groupBy("group_id").agg(F.count("*").alias("n")).collect()
    }
    for gid, n_car in per_group.items():
        assert n_car <= math.ceil(strength * sizes[gid])


def test_tvp_only_carriers_modified(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    wm_df, carriers = tvp_embed(emb, WM, strength=0.6, th=1.0, seed=SEED)
    carrier_ids = {r["vec_id"] for r in carriers.collect()}
    orig = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    new = {r["vec_id"]: r["embedding"] for r in wm_df.collect()}
    changed = {v for v in orig if orig[v] != new[v]}
    assert changed <= carrier_ids
    # signs preserved even where modified (documented deviation)
    for v in changed:
        for a, b in zip(orig[v], new[v]):
            if a != b:
                assert (a < 0) == (b < 0) or b == 0.0


def test_rs_roundtrip_and_determinism(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    wm_df, carriers = rs_embed(emb, WM, strength=0.7, seed=SEED)
    extracted = tvp_extract(wm_df, len(WM), seed=SEED)
    assert ber(WM, extracted) == 0.0
    # partitioning invariance of selection
    _, carriers2 = rs_embed(emb.repartition(13), WM, strength=0.7, seed=SEED)
    assert sorted(r["vec_id"] for r in carriers.collect()) == sorted(
        r["vec_id"] for r in carriers2.collect()
    )


def test_embed_plans_classify_once(spark, sf_dir):
    """The classifier is evaluated once per pipeline: the TVP and RS
    embed plans hold exactly one classifier and one embedder (the kNN
    kernel sits behind the persisted accessibility index)."""
    from vector_database_watermarking_spark.watermark.tvp import tvp_embed_with_ai

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    wm_df, _, ai = tvp_embed_with_ai(emb, WM, strength=0.7, th=1.0, seed=SEED)
    n, names = python_evals(wm_df)
    assert n == 2, names
    ai.unpersist()
    n, names = python_evals(rs_embed(emb, WM, strength=0.7, seed=SEED)[0])
    assert n == 2, names


def test_extract_plan_classifies_once(spark, sf_dir, monkeypatch):
    from vector_database_watermarking_spark.operators import grouping

    seen = []
    decode = grouping.decode_bitstring

    def spy(classified, L):
        seen.append(classified)
        return decode(classified, L)

    monkeypatch.setattr(grouping, "decode_bitstring", spy)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tvp_extract(emb, len(WM), seed=SEED)
    n, names = python_evals(grouping.majority_decode(seen[0]))
    assert n == 1, names
