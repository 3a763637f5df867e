import hashlib

from pyspark.sql import functions as F

from vector_database_watermarking_spark.functions.hashing import (
    compat_md5_mod,
    content_id,
    first_dims,
    hash60,
    hash_mod,
    key_dims,
)


def py_hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_hash60_matches_python_md5_prefix(spark):
    vals = ["0", "42", "hello", "300041111", ""]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {r["s"]: r["h"] for r in df.select("s", hash60("s").alias("h")).collect()}
    for v in vals:
        assert got[v] == py_hash60(v), v


def test_hash_mod_nonnegative_and_stable(spark):
    df = spark.range(1000).select(F.col("id").cast("string").alias("s"))
    rows = df.select(hash_mod("s", 21).alias("m")).collect()
    assert all(0 <= r["m"] < 21 for r in rows)
    # stable across partitioning
    rows2 = df.repartition(7).select(hash_mod("s", 21).alias("m")).collect()
    assert sorted(r["m"] for r in rows) == sorted(r["m"] for r in rows2)


def test_compat_md5_mod_matches_reference_semantics():
    # hash_re at watermarking.py:20-27: int(md5(str(x)).hexdigest(), 16) % m
    assert compat_md5_mod("42", 7) == int(hashlib.md5(b"42").hexdigest(), 16) % 7


def test_key_dims_deterministic():
    a = key_dims(64, 20)
    b = key_dims(64, 20)
    c = key_dims(64, 22)
    assert a == b
    assert a != c
    assert len(a) == 10 and len(set(a)) == 10
    assert all(0 <= d < 64 for d in a)


def test_content_id_uses_all_but_last_dim(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dims = key_dims(64, 20)
    ids = emb.select(content_id("embedding", dims).alias("vid")).collect()
    assert all(len(r["vid"]) == 9 for r in ids)  # dims[:-1] → 9 digits
    assert all(r["vid"].isdigit() for r in ids)


def test_content_id_matches_python_tier(spark):
    """The native ``content_id`` (TabularMark's key) and
    ``bits.content_id_py`` (the compat classifiers' id) agree digit for
    digit on float32 values: signed zeros, negatives, values whose
    ``|x|·100`` is an exact integer, near-integers, subnormals and
    magnitudes from 10 up, over first-k and keyed dims."""
    import numpy as np

    from vector_database_watermarking_spark.functions.bits import content_id_py

    d = 64
    edge = [
        0.0, -0.0, 0.5, -0.5, 0.25, -0.75, 1.0, -2.5, 0.01, 0.07, 0.29, -0.57,
        0.999999, 9.999999, 10.0, -12.34, 99.99, 1e6, -3.0e10, 1e13,
        1e-45, -1e-40, 1.1754942e-38, float(np.finfo(np.float32).tiny),
    ]  # fmt: skip
    edge = [float(np.float32(v)) for v in edge]
    rng = np.random.default_rng(7)
    rows = [[v] * d for v in edge]  # each edge value in every dim
    scales = 10.0 ** rng.uniform(-4, 4, (200, 1))
    rows += (rng.normal(size=(200, d)) * scales).astype(np.float32).tolist()
    rows += rng.choice(np.array(edge, np.float32), (50, d)).tolist()
    df = spark.createDataFrame(
        list(enumerate(rows)), "vec_id long, embedding array<float>"
    )
    for dims in (first_dims(3), first_dims(40), key_dims(d, 20), key_dims(d, 7)):
        got = df.select("embedding", content_id("embedding", dims).alias("vid"))
        for r in got.collect():
            vec = [np.float32(x) for x in r["embedding"]]
            assert r["vid"] == content_id_py(vec, dims), (dims, vec)
