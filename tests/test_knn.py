import math
from contextlib import contextmanager

import numpy as np
import pytest

from vector_database_watermarking_spark.operators import knn


def load_np(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, X


def test_knn_edges_match_numpy_bruteforce(spark, sf_dir):
    ids, X = load_np(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = knn.knn_edges(emb, k=5).collect()
    got = {}
    for r in edges:
        got.setdefault(r["src"], []).append((r["rank"], r["dst"], r["dist"]))
    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(d2, np.inf)
    for i, vid in enumerate(ids):
        order = np.lexsort((ids, np.round(d2[i], 6)))
        expect = [int(ids[j]) for j in order[:5]]
        have = [dst for _, dst, _ in sorted(got[vid])]
        assert have == expect, f"src {vid}"


def test_knn_partitioning_invariance(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = sorted(
        (r["src"], r["rank"], r["dst"])
        for r in knn.knn_edges(emb, k=3).collect()
    )
    b = sorted(
        (r["src"], r["rank"], r["dst"])
        for r in knn.knn_edges(emb.repartition(13), k=3).collect()
    )
    assert a == b


def test_query_counts_total(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    edges = knn.knn_edges(emb, k=5)
    qc = knn.query_counts(edges, emb)
    rows = qc.collect()
    assert len(rows) == n
    # every query contributes exactly k hits
    assert sum(r["query_count"] for r in rows) == n * 5


def test_lsh_tier_recall(spark, sf_dir):
    """LSH candidates must recover most true top-5 neighbors (scale
    tier is approximate by design; sanity-check recall > 0.5)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["src"], r["dst"]) for r in knn.knn_edges(emb, k=5).collect()
    }
    e = emb.select("vec_id", "embedding")
    approx = {
        (r["src"], r["dst"])
        for r in knn.knn_join(e, e, 5, exact=False).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall > 0.5, recall


@contextmanager
def blocked_tier(base, n_blocks):
    """Lower ``MAX_BROADCAST_ROWS`` to ``ceil(n / n_blocks)`` so the
    exact top-k tiers split ``base`` into ``ceil(n / cap)`` blocks; a
    base that would still fit one broadcast is refused, so a blocked
    leg cannot run the broadcast tier."""
    n = base.count()
    cap = -(-n // n_blocks)
    assert n > cap, f"{n} rows fit one broadcast under a cap of {cap}"
    saved = knn.MAX_BROADCAST_ROWS
    knn.MAX_BROADCAST_ROWS = cap
    try:
        yield
    finally:
        knn.MAX_BROADCAST_ROWS = saved


def test_blocked_exact_knn_matches_broadcast(spark, sf_dir):
    """The blocked tier (base split into broadcastable chunks + merge)
    must produce bit-identical edges to the single-broadcast tier."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    broadcast = knn.broadcast_topk(
        emb,
        emb,
        None,
        5,
        "src long, dst long, dist_sq double, rank int",
        knn._base_arrays,
        lambda state, q_ids, Q, kk: knn._topk_chunk(q_ids, Q, state, kk, True),
    )
    a = sorted(
        (r["src"], r["rank"], r["dst"], round(math.sqrt(r["dist_sq"]), 9))
        for r in broadcast.collect()
    )
    with blocked_tier(emb, 4):
        b = sorted(
            (r["src"], r["rank"], r["dst"], round(r["dist"], 9))
            for r in knn.knn_join(emb, emb, 5, exact=True).collect()
        )
    assert a == b


def test_knn_single_row_base_returns_empty(spark):
    """kk==0 edge (1-row base with self-exclusion) must yield an empty
    result, not crash (regression: argpartition on empty selection)."""
    one = spark.createDataFrame([(1, [0.1, 0.2])], "vec_id long, embedding array<float>")
    out = knn.knn_join(one, one, k=5, exact=True)
    assert out.count() == 0
    assert out.columns == ["src", "dst", "dist", "rank"]


def test_disjoint_queries_get_full_k(spark):
    """A query NOT in the base must get min(k, n_base) neighbors even
    with exclude_self=True (regression: the global kk = n−1 clamp lost
    one neighbor for disjoint query/base sets)."""
    base = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(4)], "vec_id long, embedding array<float>"
    )
    q = spark.createDataFrame(
        [(100, [1.5, 0.0])], "vec_id long, embedding array<float>"
    )
    out = knn.knn_join(q, base, k=10, exact=True).collect()
    assert len(out) == 4  # all 4 base rows are valid neighbors
    # and a query IN the base still excludes itself
    q2 = spark.createDataFrame(
        [(2, [2.0, 0.0])], "vec_id long, embedding array<float>"
    )
    out2 = knn.knn_join(q2, base, k=10, exact=True).collect()
    assert len(out2) == 3
    assert all(r["dst"] != 2 for r in out2)
    assert [r["rank"] for r in sorted(out2, key=lambda r: r["rank"])] == [1, 2, 3]


def test_cosine_topk_blocked_matches_broadcast(spark, sf_dir):
    """The blocked cosine tier must match the broadcast tier exactly
    (same guarantee the euclidean kNN blocked tier has)."""
    from vector_database_watermarking_spark.operators.similarity import (
        _cosine_chunk,
        _cosine_state,
        cosine_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    broadcast = knn.broadcast_topk(
        emb,
        emb,
        None,
        5,
        "src long, dst long, cos_sim double, rank int",
        _cosine_state,
        lambda state, q_ids, Q, kk: _cosine_chunk(state, q_ids, Q, kk, True),
    )
    a = sorted(
        (r["src"], r["rank"], r["dst"], round(r["cos_sim"], 9))
        for r in broadcast.collect()
    )
    import vector_database_watermarking_spark.operators.knn as knn_mod

    saved = knn_mod.MAX_BROADCAST_ROWS
    knn_mod.MAX_BROADCAST_ROWS = 100  # force the blocked tier
    try:
        b = sorted(
            (r["src"], r["rank"], r["dst"], round(r["cos_sim"], 9))
            for r in cosine_topk(emb, emb, 5).collect()
        )
    finally:
        knn_mod.MAX_BROADCAST_ROWS = saved
    assert a == b


def test_sq_topk_blocked_matches_broadcast(spark, sf_dir):
    """SQ's blocked tier (per-block integer top-``refine`` merged by
    (dq, dst)) returns the broadcast tier's rows."""
    from vector_database_watermarking_spark.operators.similarity import sq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )

    def rows():
        return sorted(
            (r["src"], r["rank"], r["dst"], r["dist"].hex())
            for r in sq_topk(emb, emb, 5).collect()
        )

    a = rows()
    with blocked_tier(emb, 4):
        b = rows()
    assert a == b


@pytest.mark.parametrize(
    "call, expected",
    [
        ("knn_edges", 2),
        ("knn_join", 2),
        ("cosine_topk", 2),
        ("sq_topk", 5),
        ("pq_topk", 3),
    ],
)
def test_top_k_job_counts(spark, sf_dir, call, expected):
    """Spark jobs of one top-k call with its output forced by an eager
    local checkpoint: the tier probe (SQ: its bounds+count aggregate
    instead), any side collect, and the output's own jobs."""
    from vector_database_watermarking_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = emb.select("vec_id", "embedding")
    calls = {
        "knn_edges": lambda: knn.knn_edges(emb, k=5),
        "knn_join": lambda: knn.knn_join(e, e, 5, exact=True),
        "cosine_topk": lambda: similarity.cosine_topk(e, e, 5),
        "sq_topk": lambda: similarity.sq_topk(e, e, 5),
        "pq_topk": lambda: similarity.pq_topk(e, e, 5),
    }
    sc = spark.sparkContext
    group = f"test-jobs-{call}"
    sc.setJobGroup(group, group)
    try:
        calls[call]().localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == expected


@pytest.mark.parametrize("member", ["knn_join", "cosine_topk", "sq_topk", "pq_topk"])
def test_top_k_family_edge_inputs(spark, member):
    """Edge inputs through each member of the exact top-k family: an
    empty base gives no rows and the member's output columns; with
    k ≥ n (n=3) a query absent from the base gets all 3 rows and a
    self-join query the other 2, ranked 1..n."""
    from vector_database_watermarking_spark.operators import similarity

    call = {
        "knn_join": lambda q, b: knn.knn_join(q, b, 5, exact=True),
        "cosine_topk": lambda q, b: similarity.cosine_topk(q, b, 5),
        "sq_topk": lambda q, b: similarity.sq_topk(q, b, 5),
        "pq_topk": lambda q, b: similarity.pq_topk(q, b, 5),
    }[member]
    value = "cos_sim" if member == "cosine_topk" else "dist"
    schema = "vec_id long, embedding array<float>"
    rng = np.random.default_rng(3)
    base = spark.createDataFrame([(i, rng.standard_normal(8).tolist()) for i in range(3)], schema)
    queries = spark.createDataFrame(
        [(100 + i, rng.standard_normal(8).tolist()) for i in range(2)], schema
    )

    empty = call(queries, spark.createDataFrame([], schema))
    assert empty.columns == ["src", "dst", value, "rank"]
    assert empty.count() == 0

    def ranks(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["src"], []).append(r["rank"])
        return {src: sorted(rs) for src, rs in out.items()}

    assert ranks(call(queries, base)) == {100: [1, 2, 3], 101: [1, 2, 3]}
    assert ranks(call(base, base)) == {0: [1, 2], 1: [1, 2], 2: [1, 2]}


def test_lsh_dense_cluster_queries_still_get_candidates(spark):
    """Hot-bucket capping must down-sample dense clusters, not blind
    them: queries inside a duplicate cluster still find neighbors."""
    import numpy as np

    rng = np.random.RandomState(3)
    base_vec = rng.randn(16).astype("float32") * 0.3
    rows = [(i, (base_vec + rng.randn(16).astype("float32") * 1e-4).tolist()) for i in range(1500)]
    rows += [(10_000 + i, (rng.randn(16) * 0.3).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = knn.knn_join(df, df, k=3, exact=False)
    in_cluster = out.filter("src < 1500")
    assert in_cluster.count() > 0
    # cluster queries' neighbors are overwhelmingly other cluster members
    frac = in_cluster.filter("dst < 1500").count() / in_cluster.count()
    assert frac > 0.9, frac


def fold_reference(q_ids, Q, b_ids, B, k, exclude_self=True):
    """The exact tiers' contract, computed the slow way: the sequential
    per-dim float64 fold over the whole (query × base) block, the
    6-decimal ranking key, (key, dst) order, self-hits and non-finite
    keys dropped. Returns sorted ``(src, rank, dst, dist_sq.hex())``."""
    order = np.argsort(b_ids, kind="stable")
    b_ids, B = np.asarray(b_ids)[order], np.asarray(B, dtype=np.float64)[order]
    Q = np.asarray(Q, dtype=np.float64).reshape(len(q_ids), -1)
    B = B.reshape(len(b_ids), Q.shape[1])
    acc = np.zeros((len(q_ids), len(b_ids)))
    for i in range(Q.shape[1]):
        diff = Q[:, i][:, None] - B[:, i][None, :]
        acc += diff * diff
    key = np.round(acc, 6)
    if exclude_self:
        key[np.asarray(q_ids)[:, None] == b_ids[None, :]] = np.inf
    out = []
    for r, src in enumerate(q_ids):
        picked = [j for j in np.lexsort((b_ids, key[r]))[:k] if np.isfinite(key[r, j])]
        out += [
            (int(src), rank, int(b_ids[j]), float(acc[r, j]).hex())
            for rank, j in enumerate(picked, 1)
        ]
    return sorted(out)


def _kernel(q_ids, Q, b_ids, B, k, exclude_self=True):
    """The NumPy kernel alone, on the broadcast tier's id-sorted base."""
    order = np.argsort(b_ids, kind="stable")
    b_ids = np.asarray(b_ids, dtype=np.int64)[order]
    B = np.asarray(B, dtype=np.float64)[order]
    src, dst, val, rank = knn._topk_chunk(
        np.asarray(q_ids, dtype=np.int64), np.asarray(Q, dtype=np.float64),
        knn._base_arrays(b_ids, B), min(k, len(b_ids)), exclude_self,
    )
    return sorted(
        (int(s), int(r), int(d), float(v).hex()) for s, d, v, r in zip(src, dst, val, rank)
    )


def _tier_edges(tier, queries, base, k, exclude_self=True, n_blocks=3):
    """(src, rank, dst, dist.hex()) from one exact Spark tier."""
    if tier == "broadcast":
        df = knn.knn_join(queries, base, k=k, exact=True, exclude_self=exclude_self)
        return sorted(
            (r["src"], r["rank"], r["dst"], r["dist"].hex()) for r in df.collect()
        )
    with blocked_tier(base, n_blocks):
        return _tier_edges("broadcast", queries, base, k, exclude_self)


def _ref_sqrt(ref):
    """A reference row as the Spark tiers report it: dist = sqrt(dist_sq)."""
    import math

    return sorted((s, r, d, math.sqrt(float.fromhex(h)).hex()) for s, r, d, h in ref)


def test_kernel_matches_fold_reference(spark):
    """Both exact tiers reproduce the full-fold reference bit for bit on
    the sf0.001 and sf0.01 embeddings: same neighbors, ranks and
    distance bits."""
    from tests.conftest import SF0001, SF001

    for sf in (SF0001, SF001):
        emb = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding")
        ids, X = load_np(spark, sf)
        want = fold_reference(ids, X, ids, X, 5)
        assert _kernel(ids, X, ids, X, 5) == want, sf
        for tier in ("broadcast", "blocked"):
            assert _tier_edges(tier, emb, emb, 5) == _ref_sqrt(want), (sf, tier)


def test_broadcast_tier_past_fixture_size_matches_fold_reference(spark):
    """The broadcast tier on more base rows than either fixture holds
    (500): a seeded 2,000-row float32 Gaussian mixture (16 clusters,
    d=64, shuffled ids), bit for bit against the fold reference."""
    rng = np.random.default_rng(2000)
    n, d = 2000, 64
    centers = rng.standard_normal((16, d))
    X = (centers[rng.integers(0, 16, n)] + 0.1 * rng.standard_normal((n, d))).astype(
        np.float32
    )
    ids = rng.permutation(n).astype(np.int64) * 3
    emb = spark.createDataFrame(
        [(int(i), x.tolist()) for i, x in zip(ids, X)], "vec_id long, embedding array<float>"
    )
    assert n <= knn.MAX_BROADCAST_ROWS
    want = _ref_sqrt(fold_reference(ids, X, ids, X, 5))
    assert _tier_edges("broadcast", emb, emb, 5) == want


def _adversarial(kind, rng, n, d):
    if kind == "duplicates":  # distance-0 cliques
        return np.repeat(rng.standard_normal((-(-n // 4), d)), 4, axis=0)[:n]
    if kind == "grid":  # squared distances k·1e-6: mass ties at the key
        return rng.integers(0, 3, (n, d)) * 1e-3
    if kind == "half_grid":  # squared distances (k + 0.5)·1e-6: on the rounding boundary
        return rng.integers(0, 3, (n, d)) * np.sqrt(0.5e-6)
    if kind == "offset":  # |x| ≈ 5e3, neighbors ~1e-3 apart: Gram cancellation
        return 5e3 + rng.standard_normal((n, d)) * 1e-3
    if kind == "clusters":  # far-apart tight grids: centring cannot shrink |x|
        centers = rng.standard_normal((3, d)) * 1e5
        return centers[rng.integers(0, 3, n)] + rng.integers(0, 3, (n, d)) * 1e-3
    return rng.standard_normal((n, d))


KINDS = ("duplicates", "grid", "half_grid", "offset", "clusters", "gauss")


def test_kernel_adversarial_property():
    """The kernel equals the fold reference on generated adversarial
    collections, including k ≥ n, one-row bases, queries absent from
    the base and exclude_self=False."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None, derandomize=True)
    @given(
        kind=st.sampled_from(KINDS),
        seed=st.integers(0, 2**32 - 1),
        n=st.integers(1, 40),
        d=st.integers(1, 6),
        k=st.integers(1, 45),
        absent=st.integers(0, 3),
        exclude_self=st.booleans(),
    )
    def check(kind, seed, n, d, k, absent, exclude_self):
        rng = np.random.default_rng(seed)
        X = _adversarial(kind, rng, n + absent, d)
        b_ids = rng.permutation(n).astype(np.int64) * 7
        q_ids = np.concatenate([b_ids, 1000 + np.arange(absent)])
        B = X[:n]
        assert _kernel(q_ids, X, b_ids, B, k, exclude_self) == fold_reference(
            q_ids, X, b_ids, B, k, exclude_self
        )

    check()


def test_kernel_adversarial_spark_tiers(spark):
    """The adversarial collections through both Spark tiers (64 rows,
    d=8; the Gaussian one at k ≥ n), plus absent queries, a one-row
    base (broadcast) and a blocked base with an empty block."""
    rng = np.random.default_rng(11)
    schema = "vec_id long, embedding array<double>"
    ids = np.arange(64)
    for kind, k in [(kind, 5) for kind in KINDS[:-1]] + [("gauss", 70)]:
        X = _adversarial(kind, rng, 64, 8)
        rows = [(i, X[i].tolist()) for i in range(64)]
        emb = spark.createDataFrame(rows, schema)
        want = _ref_sqrt(fold_reference(ids, X, ids, X, k))
        for tier in ("broadcast", "blocked"):
            assert _tier_edges(tier, emb, emb, k) == want, (kind, k, tier)
    base = spark.createDataFrame(rows[:1], schema)
    absent = spark.createDataFrame([(500 + i, X[i].tolist()) for i in range(3)], schema)
    for queries, q_ids in ((base, [0]), (absent, [500, 501, 502])):
        want = _ref_sqrt(fold_reference(q_ids, X[: len(q_ids)], [0], X[:1], 5))
        assert _tier_edges("broadcast", queries, base, 5) == want, q_ids
    # ids 0 and 2 both fall in pmod class 0 of 2 blocks: block 1 is empty
    pair = spark.createDataFrame([(0, X[0].tolist()), (2, X[1].tolist())], schema)
    for queries, q_ids in ((pair, [0, 2]), (absent, [500, 501, 502])):
        want = _ref_sqrt(fold_reference(q_ids, X[: len(q_ids)], [0, 2], X[:2], 5))
        for tier in ("broadcast", "blocked"):
            got = _tier_edges(tier, queries, pair, 5, n_blocks=2)
            assert got == want, (q_ids, tier)


def test_kernel_nan_embedding_has_no_edges(spark):
    """Pinned: a NaN embedding has a NaN distance to everything, so the
    fold reference drops it on both sides — it gets no neighbors and is
    nobody's neighbor; every other row is unaffected."""
    rng = np.random.default_rng(5)
    X = rng.standard_normal((40, 4))
    X[7, 2] = np.nan
    ids = np.arange(40)
    want = fold_reference(ids, X, ids, X, 3)
    assert len(want) == 39 * 3
    assert not any(7 in (s, d) for s, _, d, _ in want)
    assert _kernel(ids, X, ids, X, 3) == want
    emb = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(40)], "vec_id long, embedding array<double>"
    )
    for tier in ("broadcast", "blocked"):
        assert _tier_edges(tier, emb, emb, 3) == _ref_sqrt(want), tier


def test_lsh_duplicate_collapse_matches_exact(spark):
    """Exact-duplicate cliques (the regime that blew the LSH verify
    stage past 8 minutes at sf1): identical embeddings collapse to one
    representative before banding, and the fanned-out result must EQUAL
    the exact tier — a duplicate member's top-k is its own group's
    other members (distance 0, ascending-id tiebreak), which the
    collapse must reproduce, not approximate."""
    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for g in range(40):
        vec = (rng.randn(16) * 5.0).astype("float32").tolist()
        for _ in range(10):  # 10-way exact-duplicate cliques
            rows.append((vid, vec))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    approx = sorted(
        (r["src"], r["rank"], r["dst"], round(r["dist"], 6))
        for r in knn.knn_join(df, df, k=3, exact=False).collect()
    )
    exact = sorted(
        (r["src"], r["rank"], r["dst"], round(r["dist"], 6))
        for r in knn.knn_join(df, df, k=3, exact=True).collect()
    )
    assert approx == exact


def test_lsh_duplicate_collapse_small_groups_and_disjoint_queries(spark):
    """Collapse edge cases: groups smaller than k+1, a query set
    disjoint from the base, and exclude_self=False all keep the
    member fan-out correct."""
    base_rows = [(i, [float(i // 3), 0.0]) for i in range(9)]  # 3-dup groups
    base = spark.createDataFrame(base_rows, "vec_id long, embedding array<float>")
    # disjoint query: nearest group is x=1.0 (ids 3,4,5)
    q = spark.createDataFrame(
        [(100, [1.2, 0.0])], "vec_id long, embedding array<float>"
    )
    got = {
        r["rank"]: r["dst"]
        for r in knn.knn_join(
            q, base, k=3, exact=False, num_hash_tables=16
        ).collect()
    }
    assert got == {1: 3, 2: 4, 3: 5}
    # exclude_self=False: a base member's rank-1 hit is itself's group
    # smallest id at distance 0
    out = knn.knn_join(
        base, base, k=2, exact=False, exclude_self=False, num_hash_tables=16
    )
    got5 = sorted(
        (r["rank"], r["dst"]) for r in out.filter("src = 5").collect()
    )
    assert got5 == [(1, 3), (2, 4)]


def test_lsh_candidate_budget_guard(spark):
    """The LSH tier's measured-precondition guard (the
    prefix_jaccard_pairs house pattern): candidate volume is counted
    exactly BEFORE the embedding-carrying join, and a corpus whose
    buckets are non-discriminative is refused with the measured number
    instead of spilling (measured 100 GB at a 20k iid corpus).
    candidate_budget=None overrides."""
    import pytest

    base = spark.createDataFrame(
        [(i, [float(i % 7) / 7.0] * 8) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="candidate volume"):
        knn.knn_join(base, base, k=2, exact=False, candidate_budget=10)
    out = knn.knn_join(base, base, k=2, exact=False, candidate_budget=None)
    assert out.count() > 0


def _half_micro_coords(k):
    """float32 coordinates whose fold from the origin lands exactly on
    a half-micro boundary: ``dist_sq · 1e6 == k + 0.5`` in float64.
    Greedy: the largest float32 below √t, then float32 square roots of
    what is left (2-3 coordinates; float32 squares are exact in
    float64, so only the fold's additions round)."""
    t = (k + 0.5) / 1e6
    a1 = np.float32(np.sqrt(t))
    for _ in range(64):
        rest = t - float(a1) ** 2
        if rest > 0:
            c = [a1, np.float32(np.sqrt(rest))]
            for coords in (c, c + [np.float32(np.sqrt(max(t - _fold(c), 0.0)))]):
                if _fold(coords) * 1e6 == k + 0.5:
                    return coords
        a1 = np.nextafter(a1, np.float32(0))
    raise AssertionError(f"no float32 construction for k={k}")


def _fold(coords):
    acc = 0.0
    for v in coords:
        acc += float(v) * float(v)
    return acc


def test_knn_edges_match_duckdb_on_rounding_boundary(spark):
    """The rounding contract, engine vs DuckDB oracle (``_knn_cte``).
    From the origin (row 0), row 1 lies exactly on the boundary
    2.5e-6 and row 2 (higher dst) just under it. Half-even rounding
    ties both at 2e-6, so row 0's nearest neighbour is row 1 on both
    sides; DuckDB's ``round(x, 6)`` would lift row 1 to 3e-6 and pick
    row 2."""
    import duckdb
    import pyarrow as pa

    from vector_database_watermarking_spark.registry import D, _knn_cte

    on = _half_micro_coords(2)
    under = [np.nextafter(on[0], np.float32(0)), *on[1:]]
    assert _fold(on) * 1e6 == 2.5 and 2.0 < _fold(under) * 1e6 < 2.5
    X = np.zeros((3, D), dtype=np.float32)
    X[1, : len(on)] = on
    X[2, : len(under)] = under
    emb = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(3)], "vec_id long, embedding array<float>"
    )
    engine = sorted(
        (r["src"], r["dst"], r["rank"]) for r in knn.knn_edges(emb, k=1).collect()
    )
    con = duckdb.connect()
    con.register(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(range(3), pa.int64()),
                "embedding": pa.array(X.tolist(), pa.list_(pa.float32())),
            }
        ),
    )
    oracle = sorted(
        con.execute(_knn_cte(1) + "SELECT src, dst, rank FROM edges").fetchall()
    )
    con.close()
    assert (0, 1, 1) in engine
    assert engine == oracle
