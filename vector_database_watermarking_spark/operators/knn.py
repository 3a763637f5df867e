"""kNN join — the engine's replacement for the reference's faiss HNSW
index (SURVEY J1/S6/W3/A3).

Reference: ``faiss.IndexHNSWFlat(d, M)`` built at
``/root/reference/watermarking.py:285-290`` and queried row-at-a-time
(``watermarking.py:302-308``). HNSW is approximate and
construction-order dependent; per SURVEY §4.1 the engine's reference
semantics is the **exact kNN graph** (deterministic, oracle-checkable),
with an LSH tier for scale.

Tiers: :func:`broadcast_or_blocks` decides broadcast-or-blocks for
the whole exact top-k family (``knn_join``, ``similarity.cosine_topk``,
``sq_topk``, ``pq_topk``); ``knn_join`` runs it up to
``MAX_EXACT_BASE_ROWS`` base rows and the LSH tier past it, and
``knn_edges`` is its self-join.

Scale notes (100 TB): the exact tiers are O(n²) distance evaluations,
correct up to ~1e6 rows per side; past that ``knn_join`` buckets with
``BucketedRandomProjectionLSH`` so only same/adjacent-bucket pairs are
compared (candidate generation is an equi-join on bucket id — a plain
shuffle join Catalyst can plan, with AQE skew splitting for hot
buckets). The per-query top-k is a ``row_number`` window partitioned by
query id — partial top-k is pushed map-side by Spark's
``WindowGroupLimit`` (rank-limit pushdown) so the shuffle carries only
candidates, not all pairs.
"""

from __future__ import annotations

import functools
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.distance import squared_euclidean
from ..functions.hashing import hash60

#: ranking rounds squared distances to this many decimals before
#: ordering (ties then break by neighbor id) so that the ranking is
#: reproducible across summation orders / engines (SURVEY §4.2:
#: partitioning-invariant results).
_RANK_DECIMALS = 6


def rank_key(col: str) -> Column:
    """``col`` rounded to ``_RANK_DECIMALS`` as ``np.round`` rounds it
    (binary multiply, half-even ``rint``, divide), so a block merge
    orders exactly like the block kernels. ``F.round`` rounds the
    decimal expansion half-up and splits boundary ties differently."""
    scale = 10.0**_RANK_DECIMALS
    return F.rint(F.col(col) * scale) / scale


def merge_top_k(union: DataFrame, k: int, key: Column, value: Column | str) -> DataFrame:
    """Per-``src`` top-``k`` of the blocks' local top-ks by ``(key,
    dst)``: ``(src, dst, value, rank)``."""
    w = Window.partitionBy("src").orderBy(key, F.col("dst").asc())
    return (
        union.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", value, F.col("rank").cast("int").alias("rank"))
    )


def knn_join(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    exact: bool | None = None,
    exclude_self: bool = True,
    num_hash_tables: int = 10,
    candidate_budget: int | None = 100_000_000,
) -> DataFrame:
    """Top-k nearest base vectors for every query vector.

    Inputs are ``(vec_id, embedding)`` DataFrames; output is
    ``(src, dst, dist, rank)`` with ``rank`` 1-based by ascending
    euclidean distance (ties by ``dst``). ``src`` is the query's id.

    ``exact=None`` (default) runs the exact tier up to
    ``MAX_EXACT_BASE_ROWS`` base rows and LSH beyond, so one call site
    survives a 100× scale-up; ``True``/``False`` pin a tier.

    Exact tier (:func:`broadcast_or_blocks`): the base, or one block of
    it, is broadcast to every task and each Arrow batch of queries
    (``mapInPandas``) emits only its top-k, so the O(n²) pair relation
    is never materialized or shuffled. One
    filter-and-refine kernel (:func:`_topk_chunk`) shortlists each
    row's top k by BLAS Gram distances with a derived error bound and
    recomputes only the shortlist as the sequential float64 fold over
    ``(a_i − b_i)²``: distances and ranks are bit-identical to that
    fold (the HOF formulation and the DuckDB oracle) at BLAS cost.

    LSH tier duplicate hardening: real corpora contain duplicate and
    near-duplicate embeddings at scale (reposts, boilerplate, jittered
    re-encodes), and a 10-way duplicate clique lands its full clique in
    EVERY band's bucket — the verify stage then pays
    n_queries × n_bands × bucket_occupancy even though the clique holds
    one effective vector (measured: 10-way near-dup replicas at a 20k
    base pushed the un-collapsed plan past 9 minutes). Both sides are
    therefore collapsed to one representative per LSH SIGNATURE — the
    concatenation of ALL band keys — BEFORE banding. Vectors sharing
    every band key are indistinguishable to the banding (identical
    candidate sets by construction), so searching one representative
    per signature is lossless at the candidate level; exact duplicates
    share signatures trivially. The band join, hot-bucket cap, and
    first distance verify all run on representatives; the per-query
    shortlist keeps ``rank() <= k+1`` representative groups ordered by
    the ROUNDED representative distance alone (ties keep whole groups;
    the +1 absorbs one self-exclusion); results fan back out to group
    members through two equi-joins and TRUE distances are then
    recomputed on the fanned pairs — so reported distances are always
    exact, and for bit-identical duplicates the output equals the
    exact tier's (members are interchangeable and the ascending-``dst``
    tiebreak picks the same ids). The approximation added on top of
    LSH's own: a member's neighbor is found only if its group's
    REPRESENTATIVE ranks in the query group's top-(k+1) — an error
    bounded by the intra-signature diameter, which the bucket geometry
    keeps at the bucket-length scale. Base-side groups are capped at
    ``max(k+1, 32)`` ascending-id members (provably sufficient for
    exact duplicates, a documented recall/cost cap for near ones), so
    fan-out is bounded at (k+1)·max(k+1, 32) pairs per query — the
    degenerate all-near-identical corpus stays linear.

    ``candidate_budget`` (measured-precondition guard, the
    ``prefix_jaccard_pairs`` house pattern): before materializing the
    candidate join, its exact size Σ_{(band,key)} |Q_bucket|·|B_bucket|
    is computed with one counts-join aggregate. An UNCLUSTERED
    (iid-ish) corpus saturates the auto-sized buckets — measured at a
    20k rotated-replica corpus: every bucket at the 1024 cap, 2×10⁸
    candidate pairs each carrying both embeddings ≈ a 100 GB shuffle
    that exhausted a 250 GB disk — so the tier now fails fast with the
    measured number and points at the exact tiers (right through 10⁶
    rows) and IVF routing (the iid-regime ANN path) instead of
    spilling for minutes first. Near-dup-clustered corpora — the
    regime this tier exists for — collapse to few representatives and
    pass the same budget easily.
    """
    if exact is not False:

        def block(part: DataFrame, rows: list | None, blocked: bool) -> DataFrame:
            return _exact_knn_broadcast(
                queries, part, k, exclude_self, emit_dist_sq=blocked, pre_rows=rows
            )

        def merge(union: DataFrame) -> DataFrame:
            dist = F.sqrt("dist_sq").alias("dist")
            return merge_top_k(union, k, rank_key("dist_sq").asc(), dist)

        out = broadcast_or_blocks(
            base, block, merge, max_rows=None if exact else MAX_EXACT_BASE_ROWS
        )
        if out is not None:
            return out

    from pyspark.ml.functions import vector_to_array

    q = queries.select(F.col("vec_id").alias("src"), F.col("embedding").alias("q_emb"))
    b = base.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("b_emb"))
    keep = k + 1 if exclude_self else k

    rows_per_band = 2  # AND-amplification width within a band
    n_proj = num_hash_tables * rows_per_band
    qv = _with_features(q, "q_emb")
    bv = _with_features(b, "b_emb")
    model = _fit_lsh(bv, n_proj)

    def hashed(df: DataFrame) -> DataFrame:
        buckets = [
            vector_to_array(F.element_at("hashes", i + 1))[0]
            .cast("long")
            .cast("string")
            for i in range(n_proj)
        ]
        return model.transform(df).withColumn("_sig", F.concat_ws("|", *buckets))

    # signature collapse (see docstring): rep = min id per signature;
    # member maps carry embeddings so true distances can be recomputed
    # after fan-out. The query-side map is NEVER capped (every query
    # must produce output); the base side caps at max(keep, 32).
    bt = hashed(bv).withColumn(
        "_rep", F.min("dst").over(Window.partitionBy("_sig"))
    ).withColumn(
        "_rn", F.row_number().over(Window.partitionBy("_sig").orderBy("dst"))
    )
    breps = bt.filter(F.col("_rn") == 1).select("dst", "b_emb", "hashes")
    bmembers = bt.filter(F.col("_rn") <= max(keep, MAX_SIGNATURE_MEMBERS)).select(
        F.col("_rep").alias("_bm_rep"),
        F.col("dst").alias("_bm_dst"),
        F.col("b_emb").alias("_bm_emb"),
    )
    qt = hashed(qv).withColumn(
        "_rep", F.min("src").over(Window.partitionBy("_sig"))
    )
    qreps = qt.filter(F.col("src") == F.col("_rep")).select(
        "src", "q_emb", "hashes"
    )
    qmembers = qt.select(
        F.col("_rep").alias("_qm_rep"),
        F.col("src").alias("_qm_src"),
        F.col("q_emb").alias("_qm_emb"),
    )

    pairs = _lsh_candidates(
        qreps, breps, num_hash_tables, rows_per_band, candidate_budget
    )
    pairs = pairs.withColumn("dist_sq", squared_euclidean("q_emb", "b_emb"))
    # representative shortlist — rank() over the rounded distance alone
    # keeps whole tied groups at the cut (see docstring)
    w_rep = Window.partitionBy("src").orderBy(
        F.round(F.col("dist_sq"), _RANK_DECIMALS).asc()
    )
    short = (
        pairs.withColumn("_rk", F.rank().over(w_rep))
        .filter(F.col("_rk") <= keep)
        .select(F.col("src").alias("_rep_src"), F.col("dst").alias("_rep_dst"))
    )
    fanned = (
        short.join(bmembers, F.col("_rep_dst") == F.col("_bm_rep"))
        .join(qmembers, F.col("_rep_src") == F.col("_qm_rep"))
        .select(
            F.col("_qm_src").alias("src"),
            F.col("_bm_dst").alias("dst"),
            squared_euclidean("_qm_emb", "_bm_emb").alias("dist_sq"),
        )
    )
    if exclude_self:
        fanned = fanned.filter(F.col("src") != F.col("dst"))
    w = Window.partitionBy("src").orderBy(
        F.round(F.col("dist_sq"), _RANK_DECIMALS).asc(), F.col("dst").asc()
    )
    return (
        fanned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "src",
            "dst",
            F.sqrt("dist_sq").alias("dist"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


#: base-side signature groups fan out at most this many ascending-id
#: members (≥ k+1 is provably sufficient for bit-identical duplicates;
#: for near-duplicate groups it is a recall/cost cap, mirroring the
#: hot-bucket cap's philosophy of down-sampling, never blinding).
MAX_SIGNATURE_MEMBERS = 32


#: above this many base rows the exact tier switches to blocked mode
#: (the whole base would not fit in one driver collect + broadcast).
MAX_BROADCAST_ROWS = 200_000

#: above this many base rows the exact tier (even blocked — O(n²)
#: distance work regardless of memory) stops being the right plan and
#: auto-tiering switches to the LSH candidate path.
MAX_EXACT_BASE_ROWS = 1_000_000


def probe_collect(base: DataFrame) -> list | None:
    """Single-action tier probe shared by the broadcast-capped
    operators: collect the base bounded to ``MAX_BROADCAST_ROWS + 1``
    rows. Returns the row list when the base fits the broadcast budget
    (the caller proceeds with zero further actions — the separate
    ``count()`` the old dispatch paid is folded into this collect),
    else ``None`` (the caller counts and takes a scale tier). Driver
    memory is bounded by the limit either way."""
    rows = base.limit(MAX_BROADCAST_ROWS + 1).collect()
    return rows if len(rows) <= MAX_BROADCAST_ROWS else None


def split_blocks(base: DataFrame, n_blocks: int) -> list[DataFrame]:
    """Hash-split a (vec_id, ...) relation into ``n_blocks`` disjoint
    slices, so a blocked tier bounds driver memory by one block."""
    block_col = F.pmod(F.col("vec_id"), F.lit(n_blocks))
    return [base.filter(block_col == b) for b in range(n_blocks)]


def broadcast_or_blocks(
    base: DataFrame,
    block: Callable[[DataFrame, list | None, bool], DataFrame],
    merge: Callable[[DataFrame], DataFrame] = lambda union: union,
    n: int | None = None,
    max_rows: int | None = None,
) -> DataFrame | None:
    """The one tier decision of the exact top-k family (``knn_join``,
    ``similarity.cosine_topk``, ``sq_topk``, ``pq_topk``).

    Broadcast tier, while the base fits ``MAX_BROADCAST_ROWS``:
    ``block(base, rows, False)``, with ``base`` itself (a ``queries is
    base`` self-join stays recognisable) and the ``(vec_id, embedding)``
    rows :func:`probe_collect` collected. A caller that knows the row
    count passes ``n``: no probe runs and ``rows`` is ``None``.

    Blocked tier: the base is counted once, hash-split into
    ``ceil(n / MAX_BROADCAST_ROWS)`` blocks, and ``merge`` gets the
    union of ``block(part, None, True)``. The global top-k is a subset
    of that union, so a merge ranking by the kernel's own key
    (:func:`rank_key`) returns the broadcast tier's rows.

    Returns ``None`` past ``max_rows`` base rows (the caller's scale
    tier).
    """
    if n is None:
        rows = probe_collect(base.select("vec_id", "embedding"))
        if rows is not None:
            return block(base, rows, False)
        n = base.count()
    if max_rows is not None and n > max_rows:
        return None
    if n <= MAX_BROADCAST_ROWS:
        return block(base, None, False)
    n_blocks = -(-n // MAX_BROADCAST_ROWS)
    parts = [block(part, None, True) for part in split_blocks(base, n_blocks)]
    return merge(functools.reduce(DataFrame.unionByName, parts))


def _exact_knn_broadcast(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    exclude_self: bool,
    emit_dist_sq: bool = False,
    pre_rows: list | None = None,
) -> DataFrame:
    """Broadcast-base exact kNN via ``mapInPandas``; each Arrow batch
    of queries runs :func:`_topk_chunk` against the broadcast base.

    Scale notes: correct while the base side fits in a broadcast
    (~1e6 × d floats); :func:`broadcast_or_blocks` falls back to the
    blocked tier beyond that, and approximate workloads go through the
    LSH tier.
    The query side is repartitioned so a single-file scan still uses
    every core. A self-join (``queries is base``, as in ``knn_edges``)
    neither rescans nor shuffles it: task p of a ``range`` takes slice
    p of the broadcast rows as its queries.
    """
    import numpy as np
    import pandas as pd

    sess = queries.sparkSession
    rows = pre_rows if pre_rows is not None else base.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    if len(ids):  # a non-finite vector's fold is non-finite: never a neighbor
        order = order[np.isfinite(X[order]).all(axis=1)]
    ids, X = ids[order], X[order]
    bc = sess.sparkContext.broadcast((ids, X))
    # kk caps at the base size; self-exclusion is handled per row
    # (masked entries sort last and are dropped), so a query absent
    # from the base still gets all min(k, n) neighbors
    kk = min(k, len(ids))
    col = "dist_sq" if emit_dist_sq else "dist"
    if kk <= 0:  # base empty: no neighbors
        return sess.createDataFrame(
            [], schema=f"src long, dst long, {col} double, rank int"
        )

    nparts = sess.sparkContext.defaultParallelism
    self_join = queries is base

    def topk(batches):
        b_ids, b_X = bc.value
        state = _base_arrays(b_ids, b_X)
        # bound working-set memory: two (chunk, n) float64 buffers are
        # live in the filter, ~0.16 GB per task at 1e7 cells
        n = len(b_ids)
        chunk = max(1, int(1e7 // n))
        for pdf in batches:
            if self_join:
                sl = [slice(p * n // nparts, (p + 1) * n // nparts) for p in pdf["id"]]
                all_ids = np.concatenate([b_ids[s] for s in sl])
                all_Q = np.concatenate([b_X[s] for s in sl])
            else:
                all_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
                all_Q = np.array(list(pdf["embedding"]), dtype=np.float64)
            for s in range(0, len(all_ids), chunk):
                src, dst, val, rank = _topk_chunk(
                    all_ids[s : s + chunk], all_Q[s : s + chunk], state, kk, exclude_self
                )
                val = val if emit_dist_sq else np.sqrt(val)
                yield pd.DataFrame({"src": src, "dst": dst, col: val, "rank": rank})

    q = queries.select("vec_id", "embedding").repartition(nparts)
    feed = sess.range(0, nparts, 1, nparts) if self_join else q
    return feed.mapInPandas(topk, schema=f"src long, dst long, {col} double, rank int")


def _base_arrays(b_ids, b_X):
    """Per-task base state of :func:`_topk_chunk`: ids, the transposed
    base (fold gathers), the centring vector μ, the centred base and
    its squared norms (Gram filter)."""
    import numpy as np

    mu = b_X.mean(axis=0)
    b_c = b_X - mu
    return b_ids, np.ascontiguousarray(b_X.T), mu, b_c, (b_c * b_c).sum(axis=1)


def _topk_chunk(q_ids, Q, base, kk, exclude_self):
    """Exact top-``kk`` of each query row against ``base`` — the one
    distance kernel of the exact tiers. Returns ``(src, dst, dist_sq,
    rank)`` arrays.

    Contract, bit for bit: a distance is the sequential float64 fold
    ``acc += (q_i − b_i)²`` (the DuckDB oracle's arithmetic); a row
    ranks by (distance rounded to ``_RANK_DECIMALS``, ``dst``);
    self-hits under ``exclude_self`` and non-finite keys sort last and
    are dropped, so ranks stay contiguous.

    Filter: one BLAS matmul on the centred vectors a = q − μ, c = b − μ
    gives ``g = |a|² + |c|² − 2·a·c``. With u = 2⁻⁵³ and S = |a|² +
    |c|², |g − fold| ≤ 4(d+3)u·S to first order: centring moves the
    exact distance by ≤ 4u·S, the fold errs by ≤ 2(d+2)u·S, the norms
    and the dot product by d·u·S each, the two additions by 4u·S.
    ``E = 8(d+4)u·(|a|² + max|c|²)`` is at least twice that for every
    cell of the row, covering the filter's own roundings. With ``H`` the kk-th
    smallest ``g`` over non-self columns, the kk-th smallest fold
    value is ≤ H + E/2, and a top-kk column's fold value exceeds that
    by at most 1e-6 (two half-unit key roundings) plus the rounding's
    own float error (≤ 5u·H): every column with ``g ≤ H + 2E + 2e-6 +
    16u·|H|`` is kept, a superset of the top kk.

    Refine: the fold is recomputed on the shortlisted pairs only (the
    same IEEE operations element by element, so the same bits), and one
    ``lexsort`` on (row, key, dst) takes the first kk per row. A row
    with a non-finite ``g``, ``E`` or ``H`` (a non-finite or
    overflowing query, fewer than kk other columns) is not certified
    and shortlists every column: the full fold.
    """
    import numpy as np

    b_ids, b_T, mu, b_c, b_sq = base
    m, d = Q.shape
    Q_c = Q - mu
    q_sq = (Q_c * Q_c).sum(axis=1)
    g = Q_c @ b_c.T
    g *= -2.0
    g += q_sq[:, None]
    g += b_sq[None, :]
    err = 8 * (d + 4) * 2.0**-53 * (q_sq + b_sq.max())  # E: see the docstring
    certified = np.isfinite(g).all(axis=1) & np.isfinite(err)
    if exclude_self:
        g[q_ids[:, None] == b_ids[None, :]] = np.inf
    h = np.partition(g, kk - 1, axis=1)[:, kk - 1]
    certified &= np.isfinite(h)
    shortlist = g <= (h + 2 * err + 2e-6 + 2.0**-49 * np.abs(h))[:, None]
    shortlist[~certified] = True
    rows, cols = np.nonzero(shortlist)

    Q_T = Q.T
    acc = np.zeros(len(rows))
    diff = np.empty(len(rows))
    for i in range(d):  # the fold, dimension by dimension
        np.subtract(Q_T[i][rows], b_T[i][cols], out=diff)
        diff *= diff
        acc += diff
    key = np.round(acc, _RANK_DECIMALS)
    dst = b_ids[cols]
    if exclude_self:
        key[q_ids[rows] == dst] = np.inf
    order = np.lexsort((dst, key, rows))
    # nonzero yields rows ascending, so rows[order] == rows
    counts = np.bincount(rows, minlength=m)
    rank = np.arange(len(rows)) - np.repeat(np.cumsum(counts) - counts, counts)
    keep = (rank < kk) & np.isfinite(key[order])
    sel = order[keep]
    return q_ids[rows[sel]], dst[sel], acc[sel], (rank[keep] + 1).astype(np.int32)


def _with_features(df: DataFrame, emb_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(
        "features", array_to_vector(F.col(emb_col).cast("array<double>"))
    )


def _fit_lsh(bv: DataFrame, n_proj: int):
    """Fit the random-hyperplane model (public MLlib
    ``BucketedRandomProjectionLSH``) over a base with a ``features``
    vector column.

    Buckets are sized from the data: ``2 · median_norm / √d`` ≈ two
    standard deviations of a single random projection. A fixed length
    mis-sized for the data collapses every vector into one bucket
    (candidate explosion — measured at 50k rows) or shatters true
    neighbors apart.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    from ..functions.distance import norm

    row0 = bv.select(
        F.percentile_approx(norm("b_emb"), 0.5).alias("m"),
        F.max(F.size("b_emb")).alias("d"),
    ).head()
    if row0 is None or row0["m"] is None:  # empty base
        bucket_length = 1.0
    else:
        bucket_length = max(2.0 * float(row0["m"]) / (float(row0["d"]) ** 0.5), 1e-6)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=n_proj,
        seed=42,
    )
    return lsh.fit(bv)


def _lsh_candidates(
    q: DataFrame,
    b: DataFrame,
    num_hash_tables: int,
    rows_per_band: int,
    candidate_budget: int | None = None,
) -> DataFrame:
    """Candidate pairs from pre-hashed (signature-collapsed) sides —
    inputs carry ``hashes`` from the fitted model. Returns
    (src, q_emb, dst, b_emb).

    Band count sets the recall/cost point: measured k=5 recall vs the
    exact tier on the sf0.01 fixture is 0.64 at 3 bands, 0.88 at 6,
    0.97 at 10 (the default); candidate volume grows linearly in
    bands and stays bounded by the hot-bucket cap below.

    Shuffle-width note: the band relations carry IDS ONLY — a banded
    row is (id, band, key), never the embedding. The 10-band explode
    replicates every row tenfold, so carrying the 64-float arrays
    through it (the original formulation) shuffled ~65× more bytes
    than the keys need; embeddings are re-attached to the DEDUPED
    (src, dst) candidate pairs afterwards with two narrow hash joins
    against the representative tables. Measured 1.19× end-to-end on
    the 20k near-dup-clique corpus (28.3 s → 23.7 s) — modest there
    because signature collapse has already shrunk the banded relation;
    the width saving scales with representative count, i.e. exactly
    the corpora where the banding shuffle dominates.
    """
    from pyspark.ml.functions import vector_to_array

    def banded(df: DataFrame, id_col: str) -> DataFrame:
        # compound key per band: concat of rows_per_band bucket ids
        # (AND within a band → selectivity; OR across bands → recall)
        buckets = [
            vector_to_array(F.element_at("hashes", i + 1))[0].cast("long").cast("string")
            for i in range(num_hash_tables * rows_per_band)
        ]
        bands = F.array(
            *[
                F.struct(
                    F.lit(t).alias("band"),
                    F.concat_ws(
                        "_", *buckets[t * rows_per_band : (t + 1) * rows_per_band]
                    ).alias("key"),
                )
                for t in range(num_hash_tables)
            ]
        )
        return df.select(id_col, F.explode(bands).alias("bb")).select(
            id_col, "bb.band", "bb.key"
        )

    qh = banded(q, "src")
    bh = banded(b, "dst").persist()  # consumed twice below

    # hot-bucket capping: a (band, key) shared by more than
    # max_bucket_size base rows is non-discriminative (skewed data,
    # duplicate clusters) and would quadratically blow up the candidate
    # join. Rather than dropping the key (which would blind queries
    # inside a dense/duplicate cluster — such clusters are hot in
    # EVERY band), the base side is down-sampled to the cap by a keyed
    # hash rank: dense-cluster queries still see up to
    # ``max_bucket_size`` representatives. Candidates are bounded at
    # n_bands · n_queries · max_bucket_size.
    max_bucket_size = 1024
    w_cap = Window.partitionBy("band", "key").orderBy(
        hash60(F.concat_ws("_", F.lit("cap"), F.col("dst"))), F.col("dst")
    )
    bh = (
        bh.withColumn("_rn", F.row_number().over(w_cap))
        .filter(F.col("_rn") <= max_bucket_size)
        .drop("_rn")
    )
    if candidate_budget is not None:
        # exact candidate count from per-bucket tallies — one cheap
        # counts-join aggregate BEFORE the embedding-carrying join
        # (see knn_join docstring: measured 100 GB spill when an
        # iid-ish corpus saturates every bucket at the cap)
        qc = qh.groupBy("band", "key").agg(F.count(F.lit(1)).alias("_qn"))
        bc = bh.groupBy("band", "key").agg(F.count(F.lit(1)).alias("_bn"))
        bound = (
            qc.join(bc, on=["band", "key"])
            .agg(F.sum(F.col("_qn") * F.col("_bn")))
            .first()[0]
            or 0
        )
        if bound > candidate_budget:
            raise ValueError(
                f"LSH kNN candidate volume {bound:,} exceeds the budget "
                f"{candidate_budget:,}: the banded buckets are "
                "non-discriminative for this corpus (unclustered/iid "
                "embeddings saturate the bucket cap). Use the exact "
                "tiers (knn_join(exact=True) — right through ~10^6 "
                "rows) or IVF routing (operators.similarity.ivf_*) "
                "for this regime; candidate_budget=None overrides."
            )
    pairs = (
        qh.join(bh, on=["band", "key"], how="inner")
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    # re-attach embeddings to the deduped pairs (narrow joins against
    # the representative tables — see the shuffle-width note above)
    return pairs.join(
        q.select("src", "q_emb"), on="src"
    ).join(b.select("dst", "b_emb"), on="dst")


def knn_edges(emb: DataFrame, k: int) -> DataFrame:
    """The kNN-edges table standing in for the HNSW level-0 graph
    (SURVEY §1: ``-1`` slot padding disappears — F1 is a no-op): the
    self-join ``knn_join(e, e, k)`` with its automatic tier choice."""
    e = emb.select("vec_id", "embedding")
    return knn_join(e, e, k)


def query_counts(edges: DataFrame, emb: DataFrame) -> DataFrame:
    """A3: how often each vector appears in other vectors' top-k
    (``watermarking.py:302-308``; self-hits already excluded by the
    edges table). Vectors never hit get count 0 (left join + coalesce),
    which F2 (never-searched filter, ``t_vector/e1:39``) relies on.
    """
    counts = edges.groupBy(F.col("dst").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("query_count")
    )
    return (
        emb.select("vec_id")
        .join(counts, on="vec_id", how="left")
        .withColumn("query_count", F.coalesce(F.col("query_count"), F.lit(0)).cast("long"))
    )
