"""Similarity search over embedding columns (north-star extension —
SURVEY §7 M6): brute-force cosine top-k as the exact baseline, SQ and
PQ quantized top-k, an IVF (inverted-file) variant as the scale path,
and a cosine near-dup threshold join.

Cosine, SQ and PQ are members of the exact top-k family of
``operators.knn``: ``knn.broadcast_or_blocks`` picks the tier and
``knn.broadcast_topk`` runs the broadcast (base collect, id sort,
empty-base rule, broadcast, query feed, chunking). Each member here
passes only its base state and its per-chunk scorer:

- cosine: the base norms and the sequential dot-product fold;
- SQ: the uint8 codes (:func:`sq_codes`) and the integer code metric;
- PQ: the codebook, the encoded base and the per-query ADC tables.

All three select through ``knn.top_k_cells``; SQ and PQ rerank their
candidates with ``knn.fold_sq``, the exact kernel's own fold.

Scale notes: IVF cuts the candidate set to ``nprobe`` clusters of the
base — the assignment join is an equi-join on cluster id, which
Catalyst shuffles by key (skew-split by AQE), so the O(n²) pair space
never materializes. Centroids come from a keyed hash sample
(:func:`ivf_build_fixed`) or MLlib KMeans (:func:`ivf_build`, seeded);
:func:`ivf_search_fixed` routes natively over either.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.distance import cosine
from .knn import (
    _RANK_DECIMALS,
    broadcast_or_blocks,
    broadcast_topk,
    fold_sq,
    merge_top_k,
    rank_key,
    top_k_cells,
)


def cosine_topk(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: (src, dst, cos_sim, rank), rank 1-based by
    descending similarity, ties by dst.

    Tiers from ``knn.broadcast_or_blocks``: one broadcast of the base
    while it fits (``knn.MAX_BROADCAST_ROWS``), otherwise hash-split
    blocks each contribute a local top-k and a per-query window merges
    them by ``knn.rank_key`` — the block kernel's own ``np.round`` key,
    so both tiers return the same rows.
    """
    return broadcast_or_blocks(
        base,
        lambda part, rows, _: broadcast_topk(
            queries,
            part,
            rows,
            k,
            "src long, dst long, cos_sim double, rank int",
            _cosine_state,
            lambda state, q_ids, Q, kk: _cosine_chunk(state, q_ids, Q, kk, exclude_self),
        ),
        lambda union: merge_top_k(union, k, rank_key("cos_sim").desc(), "cos_sim"),
    )


def _cosine_state(b_ids, b_X):
    """Cosine base state: ids, the transposed base and its norms, each
    a sequential per-dim fold (parity with the SQL fold)."""
    b_T = np.ascontiguousarray(b_X.T)
    bn = np.zeros(len(b_ids))
    for col in b_T:
        bn += col * col
    return b_ids, b_T, np.sqrt(bn)


def _cosine_chunk(state, q_ids, Q, kk, exclude_self):
    """One chunk's cosine top-``kk``: the dot products and query norms
    folded dim by dim, ranked by ``(−round(cos, 6), dst)``; self-hits
    under ``exclude_self`` never rank."""
    b_ids, b_T, bnorm = state
    dot = np.zeros((len(q_ids), len(b_ids)))
    qn = np.zeros((len(q_ids), 1))
    for i, col in enumerate(b_T):  # sequential fold parity with SQL
        dot += Q[:, i : i + 1] * col[None, :]
        qn[:, 0] += Q[:, i] * Q[:, i]
    cos = dot / (np.sqrt(qn) * bnorm)
    key = -np.round(cos, _RANK_DECIMALS)
    if exclude_self:
        key[q_ids[:, None] == b_ids[None, :]] = np.inf
    rows, cols, rank = top_k_cells(key, kk)
    return q_ids[rows], b_ids[cols], cos[rows, cols], rank


def cosine_near_dups(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (doc/image dedup by
    representation): all pairs with cosine ≥ threshold, via the exact
    top-k machinery (k bounded by practical dup multiplicity).

    Pairs are canonicalized with least/greatest over BOTH discovery
    directions (review round 12): the old one-sided ``src < dst``
    post-filter silently dropped a qualifying pair found only from the
    higher id's top-k (possible once a vector's dup multiplicity nears
    k) — the direction a pair is discovered from must not decide
    whether it is reported. cos(a,b) is computed with the identical
    index-ordered fold in either direction, so the two discoveries
    round to the same value and ``distinct`` collapses them."""
    topk = cosine_topk(emb, emb, k=20, exclude_self=True)
    return (
        topk.filter(F.col("cos_sim") >= threshold)
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            F.round("cos_sim", 6).alias("cos_sim"),
        )
        .distinct()
    )


def _rp_weights(bits: int, d: int) -> list[list[float]]:
    """Deterministic random-hyperplane matrix: entry (b, i) is a
    uniform [-1, 1] value derived from the 60-bit md5 of ``rp_{b}_{i}``
    — no RNG state, so Spark literals and the DuckDB oracle's inline
    md5 arithmetic produce bit-identical float64 weights."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"rp_{b}_{i}".encode()).hexdigest()[:15], 16) / 2.0**60)
            * 2
            - 1
            for i in range(d)
        ]
        for b in range(bits)
    ]


def random_projection(
    emb: DataFrame,
    out_dim: int = 8,
    d: int = 64,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss-style dimensionality reduction: project
    each embedding onto ``out_dim`` deterministic md5-derived
    hyperplanes (:func:`_rp_weights` — the same matrix family the LSH
    signature thresholds; this keeps the CONTINUOUS dot products).
    The pre-ANN compression step at 100 TB: distances on the projected
    vectors approximate originals within JL error while the bytes
    scanned drop by d/out_dim.

    Output: (id, p0..p{out_dim-1}) flat double columns. Arrow-batched
    kernel, vectorized across rows, SEQUENTIAL across dims — the same
    left-to-right fold order as the SQL oracle's
    ``list_sum(list_transform(...))``, so projections are bit-identical
    cross-engine (no rounding needed). One narrow scan, no shuffle."""
    import pyspark.sql.types as T

    W = np.array(_rp_weights(out_dim, d), dtype=np.float64)  # (out_dim, d)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _proj(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype=object)
        E = np.array(list(embs), dtype=np.float64)  # (m, d)
        dots = np.zeros((len(embs), W.shape[0]))
        for i in range(W.shape[1]):  # sequential fold parity with SQL
            dots += E[:, i : i + 1] * W[None, :, i]
        return pd.Series(list(dots))

    out = emb.select(F.col(id_col), _proj(F.col(emb_col)).alias("_p"))
    return out.select(
        id_col,
        *[F.element_at("_p", j + 1).alias(f"p{j}") for j in range(out_dim)],
    )


def rp_signature(emb_col: str, bits: int, d: int):
    """Random-hyperplane (SimHash-for-vectors) signature: bit b set
    when the dot product with hyperplane b is ≥ 0.

    Arrow-batched pandas UDF, not a native HOF fold: Spark evaluates
    higher-order functions interpreted (outside whole-stage codegen),
    and ``bits × d`` lambda hops per row made the signature the hot
    path — 30× slower than the vectorized per-dim accumulation here.
    Parity with the DuckDB replay is preserved exactly as in the exact
    kNN tier: the accumulation is vectorized *across rows* but
    sequential *across dims*, the same left-to-right fold order as the
    oracle's ``list_sum(list_transform(...))``."""
    W = np.array(_rp_weights(bits, d), dtype=np.float64)  # (bits, d)
    powers = 2 ** np.arange(bits, dtype=np.int64)

    @F.pandas_udf("long")
    def _sig(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype="int64")
        E = np.array(list(embs), dtype=np.float64)  # (m, d)
        m = len(embs)
        dots = np.zeros((m, W.shape[0]))
        for i in range(W.shape[1]):  # sequential fold parity with SQL
            dots += E[:, i : i + 1] * W[None, :, i]
        return pd.Series(((dots >= 0) @ powers).astype(np.int64))

    return _sig(F.col(emb_col))


# Default refusal bar for the banded self-join's candidate volume —
# the same order as knn.py's LSH budget (100M pairs ≈ 2-3 GB of skinny
# pair rows; SCALING.md measured an iid 200k corpus at 4-bit bands
# computing 6×10^10 candidates, i.e. a guaranteed multi-hour spill).
DEFAULT_PAIR_BUDGET = 100_000_000


def auto_band_bits(n: int, bits: int = 32) -> int:
    """Scale-aware default band width: ``band_bits ≈ log2(n) − 8``,
    clamped to [4, min(16, bits // 2)]. SCALING.md measures why the
    knob must track log2(n): a random pair collides in a band with
    p ≈ 2^-band_bits, so expected bucket size is n·2^-band_bits — the
    4-bit default's regime ends near 20k rows (computed 6×10^10
    candidates at an iid 200k corpus) while 8-bit carries 200k and
    16-bit carries the planted-dup 200k corpus in 11.7× wall at 100×
    data. The formula keeps expected bucket size ≈ 2^8 rows
    regardless of n; the ``bits // 2`` cap guarantees at least two
    bands (one band = no OR-amplification, recall collapses)."""
    import math

    return max(4, min(16, bits // 2, int(math.log2(max(n, 2))) - 8))


def emb_near_dups_lsh(
    emb: DataFrame,
    threshold: float = 0.45,
    bits: int = 32,
    band_bits: int | None = None,
    d: int = 64,
    n_base: int | None = None,
    pair_budget: int | None = DEFAULT_PAIR_BUDGET,
) -> DataFrame:
    """Bucketed embedding near-dup tier (the scale alternative to
    :func:`cosine_near_dups`' brute-force top-k): random-hyperplane
    signatures, banded Hamming blocking (``bits // band_bits`` bands,
    equi-join per band — never an all-pairs join), exact cosine
    verification of candidates only.

    ``band_bits`` is the cost/recall knob: wider bands cut candidates
    exponentially (a random pair matches a band with p ≈ 2^-band_bits)
    at some recall loss for marginal pairs. ``band_bits=None`` (the
    default) derives it from a cheap row count via
    :func:`auto_band_bits` so it tracks log2(n) as SCALING.md proves
    it must; the graded configs pass 4/8/16 explicitly and are
    bit-unchanged. ``pair_budget`` is the measured-precondition guard
    (the ``knn._lsh_candidates`` house pattern): candidate volume —
    Σ_buckets C(|bucket|, 2), the exact pre-dedup pair count — is
    counted from per-bucket tallies BEFORE any pair materializes, and
    a corpus whose buckets are non-discriminative is refused with the
    measured number instead of a 100 GB spill. ``pair_budget=None``
    overrides. Deterministic
    hyperplanes keep the whole path DuckDB-replayable.

    Plan shape: the band self-join runs over SKINNY rows — (vec_id,
    sig, band, key), ~40 bytes each — because the joined pair volume
    (≈ n²·n_bands·2^-band_bits rows before dedup) dwarfs everything
    else in the pipeline; carrying the embeddings through it was
    MEASURED 2× slower end-to-end at the fixture (2 M wide joined rows
    materialize before any filter can prune them). Candidate pairs are
    deduped *inside the join* by the first-matching-band rule — a pair
    survives only in the lowest band whose keys collide, decided
    natively from the two signatures — so there is no pair-table
    ``distinct`` shuffle; the deduped candidate set is then verified by
    exact cosine, via a broadcast embedding matrix while the base fits
    (``knn.MAX_BROADCAST_ROWS``) or an embeddings re-join at scale.
    """
    from .knn import MAX_BROADCAST_ROWS, probe_collect

    caller_n = n_base  # an explicit n_base is authoritative for the knob
    rows = None
    if n_base is None:
        rows = probe_collect(emb.select("vec_id", "embedding"))
        n_base = len(rows) if rows is not None else MAX_BROADCAST_ROWS + 1
    if band_bits is None:
        # the auto knob needs the true n past the probe cap — one
        # count() (columnar parquet metadata scan) before committing
        # to a band width is far cheaper than one band width too
        # narrow for the corpus; a caller-supplied n_base skips it
        # (the input may be an expensive computed pipeline)
        if rows is not None:
            n_for_knob = n_base
        elif caller_n is not None:
            n_for_knob = caller_n
        else:
            n_for_knob = emb.count()
        band_bits = auto_band_bits(n_for_knob, bits)
    n_bands = bits // band_bits
    mask = 2**band_bits - 1

    def _refuse(bound: int) -> None:
        raise ValueError(
            f"near-dup LSH candidate volume {bound:,} exceeds the "
            f"pair budget {pair_budget:,}: the {band_bits}-bit bands "
            "are non-discriminative for this corpus (expected bucket "
            "size n·2^-band_bits has left the O(1) regime — "
            "unclustered/iid embeddings at this n saturate the "
            "buckets). Widen the bands (band_bits=None auto-derives "
            "log2(n)−8), or use the exact tiers "
            "(cosine_near_dups / knn.knn_join) for this "
            "regime; pair_budget=None overrides."
        )

    if n_base <= MAX_BROADCAST_ROWS:
        # Broadcast bucket-local tier: while the base fits the same
        # broadcast cap as the exact top-k tiers, the banded self-join is
        # pure overhead — it shuffles ~n²·n_bands·2^-band_bits skinny
        # rows only to look every one of them up in the broadcast
        # matrix anyway. Instead the distributed relation is the BUCKET
        # LIST (n_bands·2^band_bits rows); each task materializes its
        # buckets' members from the broadcast (ids, X, signatures),
        # enumerates i<j pairs in numpy, applies the first-matching-
        # band rule against the earlier bands' keys, and verifies cos
        # inline — zero pair rows ever cross a shuffle (MEASURED 3.2 s
        # → ~1 s at sf0.1, identical output). Signatures are computed
        # driver-side with the exact fold ``rp_signature`` uses
        # (sequential across dims), so the two tiers stay bit-identical.
        sess = emb.sparkSession
        if rows is None:
            rows = emb.select("vec_id", "embedding").collect()
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        X = np.array([r["embedding"] for r in rows], dtype=np.float64)
        order = np.argsort(ids)
        ids, X = ids[order], X[order]
        W = np.array(_rp_weights(bits, d), dtype=np.float64)
        powers = 2 ** np.arange(bits, dtype=np.int64)
        dots = np.zeros((len(ids), bits))
        for i in range(W.shape[1]):  # sequential fold parity with the UDF
            dots += X[:, i : i + 1] * W[None, :, i]
        sigs = ((dots >= 0) @ powers).astype(np.int64)
        band_keys = np.stack(
            [(sigs >> (t * band_bits)) & mask for t in range(n_bands)]
        )  # (n_bands, n)
        if pair_budget is not None:
            # exact pre-dedup candidate count from per-bucket tallies —
            # free driver-side (the signatures are already local); the
            # broadcast tier never shuffles pairs but a saturated-bucket
            # corpus still burns hours of quadratic CPU in the verify
            counts = np.stack(
                [
                    np.bincount(band_keys[t], minlength=mask + 1)
                    for t in range(n_bands)
                ]
            ).astype(np.int64)
            bound = int((counts * (counts - 1) // 2).sum())
            if bound > pair_budget:
                _refuse(bound)
        bc = sess.sparkContext.broadcast((ids, X, band_keys))

        # enumerate only POPULATED buckets (review round 12): the key
        # space is 2^band_bits per band — at the auto-knob's 16-bit
        # clamp that is 65k keys/band, nearly all empty, and each
        # enumerated key costs an O(n) membership scan in the verify;
        # the signatures are already driver-local, so the populated
        # set is one np.unique per band
        bucket_rows = [
            (t, int(k)) for t in range(n_bands) for k in np.unique(band_keys[t])
        ]
        buckets = sess.createDataFrame(
            bucket_rows, "band int, key long"
        ).repartition(
            min(sess.sparkContext.defaultParallelism, max(len(bucket_rows), 1))
        )

        def bucket_verify(batches):
            b_ids, b_X, b_keys = bc.value
            chunk = 1 << 21  # bound per-call pair allocation (~50 MB)
            for pdf in batches:
                for band, key in zip(pdf["band"], pdf["key"]):
                    members = np.flatnonzero(b_keys[band] == key)
                    m = len(members)
                    if m < 2:
                        continue
                    ii, jj = np.triu_indices(m, 1)
                    for lo in range(0, len(ii), chunk):
                        si = members[ii[lo : lo + chunk]]
                        di = members[jj[lo : lo + chunk]]
                        # first-matching-band dedup: this bucket owns
                        # the pair only if no earlier band collided
                        keep = np.ones(len(si), dtype=bool)
                        for t in range(band):
                            keep &= b_keys[t][si] != b_keys[t][di]
                        si, di = si[keep], di[keep]
                        if len(si) == 0:
                            continue
                        E1, E2 = b_X[si], b_X[di]
                        n_pairs = len(si)
                        dot = np.zeros(n_pairs)
                        n1 = np.zeros(n_pairs)
                        n2 = np.zeros(n_pairs)
                        for i in range(E1.shape[1]):  # fold parity with SQL
                            dot += E1[:, i] * E2[:, i]
                            n1 += E1[:, i] * E1[:, i]
                            n2 += E2[:, i] * E2[:, i]
                        cos = dot / (np.sqrt(n1) * np.sqrt(n2))
                        sel = cos >= threshold
                        if not sel.any():
                            continue
                        # members ascends and ii < jj, so src < dst holds
                        yield pd.DataFrame(
                            {
                                "src": b_ids[si[sel]],
                                "dst": b_ids[di[sel]],
                                "cos_sim": cos[sel],
                            }
                        )

        return buckets.mapInPandas(
            bucket_verify, schema="src long, dst long, cos_sim double"
        )

    sig = emb.select(
        "vec_id", rp_signature("embedding", bits, d).alias("sig")
    ).persist()
    bands = F.array(
        *[
            F.struct(
                F.lit(t).alias("band"),
                F.shiftright(F.col("sig"), t * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for t in range(n_bands)
        ]
    )
    blocked = sig.select("vec_id", "sig", F.explode(bands).alias("bb")).select(
        "vec_id", "sig", "bb.band", "bb.key"
    )
    if pair_budget is not None:
        # one cheap counts aggregate over the skinny banded relation
        # BEFORE the self-join commits — the knn._lsh_candidates
        # pattern; the persisted `sig` makes this a second pass over
        # cached signatures, not a recompute
        # _c cast to double BEFORE the multiply: a bucket past ~3e9
        # rows would overflow _c*(_c-1) in int64 and wrap negative,
        # silently disabling the guard in exactly the regime it exists
        # for; double loses exactness only above 2^53, far past any
        # budget a caller could survive anyway
        bound = (
            blocked.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(F.sum(F.col("_c").cast("double") * (F.col("_c") - 1) / 2))
            .first()[0]
            or 0
        )
        if bound > pair_budget:
            sig.unpersist()
            _refuse(int(bound))

    def _band_key(col: str, t: int):
        return F.shiftright(F.col(col), t * band_bits).bitwiseAND(F.lit(mask))

    # index of the first band where the two signatures agree: a pair is
    # kept only in that band, which deduplicates multi-band collisions
    # without a distinct
    first_match = F.lit(n_bands)
    for t in reversed(range(n_bands)):
        first_match = F.when(
            _band_key("a.sig", t) == _band_key("b.sig", t), F.lit(t)
        ).otherwise(first_match)

    a = blocked.alias("a")
    b = blocked.alias("b")
    cand = (
        a.join(b, on=["band", "key"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(F.col("band") == first_match)
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst"))
    )

    # Scale tier: re-join the embeddings for the (deduped) candidates —
    # two equi-joins on vec_id — and verify in Arrow batches with the
    # same sequential per-dim accumulation (left-to-right fold parity
    # with the SQL replay; interpreted HOF folds are ~50× slower).
    pairs = (
        cand.join(
            emb.select(F.col("vec_id").alias("src"), F.col("embedding").alias("_e1")),
            on="src",
        )
        .join(
            emb.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("_e2")),
            on="dst",
        )
        .select("src", "dst", "_e1", "_e2")
    )

    def verify(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E1 = np.array(list(pdf["_e1"]), dtype=np.float64)
            E2 = np.array(list(pdf["_e2"]), dtype=np.float64)
            m = len(pdf)
            dot = np.zeros(m)
            n1 = np.zeros(m)
            n2 = np.zeros(m)
            for i in range(E1.shape[1]):  # sequential fold parity with SQL
                dot += E1[:, i] * E2[:, i]
                n1 += E1[:, i] * E1[:, i]
                n2 += E2[:, i] * E2[:, i]
            cos = dot / (np.sqrt(n1) * np.sqrt(n2))
            keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "src": pdf["src"].to_numpy()[keep],
                    "dst": pdf["dst"].to_numpy()[keep],
                    "cos_sim": cos[keep],
                }
            )

    return pairs.mapInPandas(verify, schema="src long, dst long, cos_sim double")


def ivf_build_fixed(
    emb: DataFrame, n_clusters: int = 8
) -> tuple[DataFrame, np.ndarray]:
    """Deterministic IVF index (the oracle-checkable tier): centroids
    are the ``n_clusters`` vectors with the smallest keyed hash of
    their id — a partitioning-invariant spread sample, reproducible in
    SQL — and assignment is argmin squared distance (6-decimal rounded,
    ties to the lowest centroid index). KMeans (:func:`ivf_build`)
    gives better-balanced lists; this tier trades that for a
    cross-engine-checkable routing path with the identical plan shape.
    """
    from ..functions.hashing import hash60

    key = hash60(F.concat(F.lit("ivf_"), F.col("vec_id").cast("string")))
    cent_rows = (
        emb.select("vec_id", "embedding")
        .withColumn("_k", key)
        .orderBy("_k", "vec_id")
        .limit(n_clusters)
        .collect()
    )
    centroids = np.array([r["embedding"] for r in cent_rows], dtype=np.float64)
    assigned = emb.select(
        "vec_id", "embedding", _argmin_cluster("embedding", centroids).alias("cluster")
    )
    return assigned, centroids


def _centroid_dists(emb_col: str, centroids: np.ndarray) -> list:
    """Per-centroid squared distances (rounded to ranking precision),
    as native fold expressions — codegen'd, fold-parity with DuckDB's
    ``list_sum(list_transform(...))``."""
    from ..functions.distance import squared_euclidean

    out = []
    for c in centroids:
        lit = F.array(*[F.lit(float(v)) for v in c])
        out.append(F.round(squared_euclidean(emb_col, lit), _RANK_DECIMALS))
    return out


def _argmin_cluster(emb_col: str, centroids: np.ndarray):
    dists = _centroid_dists(emb_col, centroids)
    best = F.least(*dists)
    expr = F.when(dists[0] == best, 0)
    for ci in range(1, len(dists)):
        expr = expr.when(dists[ci] == best, ci)
    return expr.cast("int")


def ivf_route_fixed(
    queries: DataFrame, centroids: np.ndarray, nprobe: int
) -> DataFrame:
    """Route each query to its ``nprobe`` nearest centroids with a
    native explode + per-query window (no UDF): (vec_id, embedding,
    cluster) with ``nprobe`` rows per query."""
    dists = _centroid_dists("embedding", centroids)
    pairs = F.array(
        *[
            F.struct(d.alias("dist"), F.lit(ci).cast("int").alias("cluster"))
            for ci, d in enumerate(dists)
        ]
    )
    exploded = queries.select(
        "vec_id", "embedding", F.explode(pairs).alias("p")
    ).select("vec_id", "embedding", "p.dist", "p.cluster")
    w = Window.partitionBy("vec_id").orderBy("dist", "cluster")
    return (
        exploded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select("vec_id", "embedding", "cluster")
    )


def ivf_build(
    emb: DataFrame, n_clusters: int = 16, seed: int = 42, max_iter: int = 5
) -> tuple[DataFrame, np.ndarray]:
    """IVF index: seeded MLlib KMeans centroids + cluster assignment.
    Returns (assigned DataFrame with ``cluster`` column, centroids)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = emb.withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    km = KMeans(k=n_clusters, seed=seed, maxIter=max_iter, featuresCol="features")
    model = km.fit(feat)
    assigned = model.transform(feat).select(
        "vec_id", "embedding", F.col("prediction").alias("cluster")
    )
    centroids = np.array(model.clusterCenters())
    return assigned, centroids


def ivf_search_fixed(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: np.ndarray,
    k: int,
    nprobe: int = 4,
) -> DataFrame:
    """IVF probe: route each query to its ``nprobe`` nearest centroids
    (:func:`ivf_route_fixed`, all native: explode + per-query window),
    then exact cosine top-k within those clusters only.

    Serves both index builders: the hash-sampled
    :func:`ivf_build_fixed` (the whole path is cross-engine
    reproducible and oracle-checked) and the KMeans :func:`ivf_build`.
    The query→cluster fan-out is tiny (nprobe rows per query); the
    candidate join is an equi-join on ``cluster``; the final top-k is a
    per-query window. At 1000 executors this is the textbook ANN
    sharding: clusters ≈ partitions, probes touch nprobe/n_clusters of
    the data."""
    routed = ivf_route_fixed(queries, centroids, nprobe)
    return _ivf_rank_candidates(routed, assigned, k)


def _ivf_rank_candidates(routed: DataFrame, assigned: DataFrame, k: int) -> DataFrame:
    """Shared IVF tail: candidate equi-join on cluster id, exact cosine
    on candidates only, per-query top-k window (rank-limit pushed
    map-side by WindowGroupLimit), ranked by ``knn.rank_key``."""
    cand = routed.alias("q").join(
        assigned.select(
            F.col("vec_id").alias("dst"),
            F.col("embedding").alias("b_emb"),
            "cluster",
        ).alias("b"),
        on="cluster",
    ).filter(F.col("q.vec_id") != F.col("dst"))

    sim = cand.select(
        F.col("q.vec_id").alias("src"),
        F.col("dst"),
        cosine(F.col("q.embedding"), F.col("b_emb")).alias("cos_sim"),
    )
    w = Window.partitionBy("src").orderBy(rank_key("cos_sim").desc(), F.col("dst"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


# ------------------------------------------------------------------ SQ
# Scalar quantization (north-star extension): uint8 codes + integer
# candidate search + exact rerank — the memory-bandwidth tier for ANN
# at 100 TB (codes are d bytes/vector vs 4d for float32; candidate
# scan arithmetic is integer, and only the rerank touches floats).


def sq_bounds(
    emb: DataFrame, emb_col: str = "embedding", with_count: bool = False
) -> tuple[float, float] | tuple[float, float, int]:
    """Global quantization bounds: min/max over every dimension of
    every vector (one scan, two scalars — the entire 'codebook').
    ``with_count=True`` folds the row count into the same aggregation
    job (the single home of these expressions — ``sq_topk``'s fused
    bounds+count probe and the tests both call here, so the oracle's
    replay can never drift from a second copy). An empty ``emb`` has
    no bounds and gives the degenerate ``(0.0, 0.0)``."""
    aggs = [
        F.min(F.array_min(F.col(emb_col).cast("array<double>"))).alias("lo"),
        F.max(F.array_max(F.col(emb_col).cast("array<double>"))).alias("hi"),
    ]
    if with_count:
        aggs.append(F.count(F.lit(1)).alias("n"))
    row = emb.agg(*aggs).head()
    lo, hi = (0.0 if row[c] is None else float(row[c]) for c in ("lo", "hi"))
    if with_count:
        return lo, hi, int(row["n"])
    return lo, hi


def sq_codes(X: np.ndarray, lo: float, hi: float) -> np.ndarray:
    """uint8 scalar quantization of the rows of ``X``:
    ``code = clamp(floor((x - lo) / (hi - lo) * 256), 0, 255)``, the
    float64 operations the DuckDB oracle replays. ``floor`` (not round)
    keeps the two engines bit-identical — round ties break differently
    across engines.

    The clamp comes before the integer cast, so a value outside
    [lo, hi] (queries that are not a subset of the base the bounds came
    from) saturates at 0 or 255 however far out it lies; a NaN codes as
    0. A degenerate corpus (hi == lo) quantizes to all-zero codes (rng
    treated as 1) instead of dividing by zero; candidate ranking then
    falls through to the deterministic dst tie-break and the exact
    rerank still orders the output."""
    rng = (hi - lo) or 1.0
    codes = np.floor((X - lo) / rng * 256)
    return np.clip(np.nan_to_num(codes, nan=0.0), 0, 255).astype(np.uint8)


def sq_topk(
    queries: DataFrame,
    base: DataFrame,
    k: int = 5,
    refine: int = 20,
    exclude_self: bool = True,
) -> DataFrame:
    """SQ-accelerated top-k: rank candidates by INTEGER squared
    distance between uint8 codes (global-bounds scalar quantization),
    keep the top ``refine`` per query, exact-rerank those in float64.

    Output: (src, dst, dist, rank) — rank 1-based by exact distance
    (``knn.rank_key``), ties by dst, over the refined candidate set.

    Scale shape: the candidate scan reads d bytes per vector instead
    of 4d and adds/multiplies integers — on a 100 TB corpus this is
    the tier between IVF routing (prunes clusters) and the exact
    rerank (touches ``refine`` float vectors per query). The base
    broadcasts at the SAME row threshold as the exact tier (the
    broadcast carries the float64 vectors for the exact rerank, and
    each task derives the uint8 codes from them); past that,
    hash-split blocks each contribute their integer
    top-``refine`` and a per-query window merges them — block-count
    invariant, never a whole-base collect. Both stages are
    deterministic pure arithmetic, so the DuckDB oracle replays the
    whole path bit-for-bit.
    """
    # bounds + count in ONE aggregation job — it stands in for the tier
    # probe, so the hot path scans the base once here and once in the
    # candidate stage, not three times
    lo, hi, cnt = sq_bounds(base, with_count=True)
    cands = broadcast_or_blocks(
        base,
        lambda part, rows, _: broadcast_topk(
            queries,
            part,
            rows,
            refine,
            _CANDIDATES,
            lambda b_ids, b_X: _sq_state(b_ids, b_X, lo, hi),
            lambda state, q_ids, Q, kk: _sq_chunk(state, q_ids, Q, kk, exclude_self),
        ),
        n=cnt,
    )
    return _rerank(cands, refine, k)


def _rerank(cands: DataFrame, refine: int, k: int) -> DataFrame:
    """The SQ and PQ merge, the same in both tiers: the global
    top-``refine`` candidates by the integer metric ``(dq, dst)``, then
    the top ``k`` of those by exact distance (``knn.rank_key``, ties by
    ``dst``) — both windows deterministic."""
    w_dq = Window.partitionBy("src").orderBy("dq", "dst")
    w_ex = Window.partitionBy("src").orderBy(rank_key("dist"), F.col("dst"))
    return (
        cands.withColumn("crank", F.row_number().over(w_dq))
        .filter(F.col("crank") <= refine)
        .withColumn("rank", F.row_number().over(w_ex))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "dist", F.col("rank").cast("int").alias("rank"))
    )


#: SQ and PQ candidates: the integer metric ``dq`` next to the exact
#: distance, so one merge (:func:`_rerank`) serves both tiers
_CANDIDATES = "src long, dst long, dq long, dist double"

#: a self-hit's ``dq``: ranks after every real candidate, then dropped
_NO_CANDIDATE = np.iinfo(np.int64).max


def _candidates(dq, q_ids, Q, b_ids, b_T, kk, exclude_self):
    """SQ and PQ's chunk tail: each query's top-``kk`` base rows by
    ``(dq, dst)`` (``knn.top_k_cells``; self-hits under
    ``exclude_self`` are never taken) with their exact distances, the
    square root of ``knn.fold_sq``."""
    if exclude_self:
        dq[q_ids[:, None] == b_ids[None, :]] = _NO_CANDIDATE
    rows, cols, _ = top_k_cells(dq, kk)
    keep = dq[rows, cols] != _NO_CANDIDATE
    rows, cols = rows[keep], cols[keep]
    dist = np.sqrt(fold_sq(Q.T, b_T, rows, cols))
    return q_ids[rows], b_ids[cols], dq[rows, cols], dist


def _sq_state(b_ids, b_X, lo, hi):
    """SQ base state: ids, the transposed base (rerank fold) and the
    transposed uint8 codes (integer metric)."""
    codes = sq_codes(b_X, lo, hi)
    return b_ids, np.ascontiguousarray(b_X.T), np.ascontiguousarray(codes.T), lo, hi


def _sq_chunk(state, q_ids, Q, kk, exclude_self):
    """One chunk's SQ candidates: the integer squared code distance
    ``dq``, accumulated dim by dim over a (chunk, n) int64 buffer."""
    b_ids, b_T, c_T, lo, hi = state
    QC = sq_codes(Q, lo, hi).astype(np.int64)
    dq = np.zeros((len(q_ids), len(b_ids)), dtype=np.int64)
    diff = np.empty_like(dq)
    for i, col in enumerate(c_T):
        np.subtract(QC[:, i][:, None], col[None, :], out=diff)
        diff *= diff
        dq += diff
    return _candidates(dq, q_ids, Q, b_ids, b_T, kk, exclude_self)


# ---------------------------------------------------------------- product quantization


def pq_codebook(base_rows: list, m: int, ksub: int) -> "np.ndarray":
    """Deterministic PQ codebook: the ``ksub`` base vectors with the
    smallest keyed hash of their id (the same spread-sample rule as
    :func:`ivf_build_fixed`), each sliced into ``m`` subspaces —
    centroid ``c`` of subspace ``j`` is sample ``c``'s dims
    ``[j·ds, (j+1)·ds)``. KMeans-per-subspace codebooks train better
    lists; this tier trades that for a codebook every engine can
    reproduce (the DuckDB oracle replays it row for row).
    Returns (ksub, d) float64 — callers slice subspaces."""
    import hashlib

    keyed = sorted(
        base_rows,
        key=lambda r: (
            int(hashlib.md5(f"pq_{r['vec_id']}".encode()).hexdigest()[:15], 16),
            r["vec_id"],
        ),
    )[:ksub]
    return np.array([r["embedding"] for r in keyed], dtype=np.float64)


def _pq_subspace_mic(X: "np.ndarray", cents: "np.ndarray", m: int, j: int):
    """One subspace's micro-int distance table between rows of ``X``
    and the codebook: (n, ksub) int64 of floor(d² · 1e6 + 0.5) — the
    half-away-from-zero 6-decimal key DuckDB's ``round`` uses
    (distances are ≥ 0), so argmins and integer ADC sums agree with
    the oracle bit-for-bit. Accumulation is sequential per dim inside
    the subspace — fold parity with ``list_sum(list_transform(...))``."""
    ds = X.shape[1] // m
    acc = np.zeros((X.shape[0], cents.shape[0]))
    for i in range(j * ds, (j + 1) * ds):  # sequential fold parity
        diff = X[:, i][:, None] - cents[None, :, i]
        acc += diff * diff
    return np.floor(acc * 1e6 + 0.5).astype(np.int64)


def _pq_encode(
    X: "np.ndarray", cents: "np.ndarray", m: int, chunk: int = 65536
) -> "np.ndarray":
    """(n, m) uint8 codes — argmin centroid per (vector, subspace) by
    the micro-int key, ties to the lowest centroid index (np.argmin
    returns the first minimum), exactly the oracle's
    ``ORDER BY round(dist, 6), c``. Chunked over ``n`` (review round
    12): the old implementation materialized BOTH a float and an int
    (m, n, ksub) table — ~13 GB transient at the registered m=16 /
    ksub=64 config near the tier cap — where only one chunk's one
    subspace is ever needed at a time. The micro-int key replaced the
    old ``np.round`` float key, which was half-EVEN and could flip an
    argmin tie against the oracle's half-away rounding at an exact
    half-micro boundary."""
    n = X.shape[0]
    codes = np.empty((n, m), dtype=np.uint8)
    for lo in range(0, n, chunk):
        Xc = X[lo : lo + chunk]
        for j in range(m):
            codes[lo : lo + chunk, j] = np.argmin(
                _pq_subspace_mic(Xc, cents, m, j), axis=1
            )
    return codes


def _pq_query_mic(Q: "np.ndarray", cents: "np.ndarray", m: int):
    """(m, nq, ksub) int64 query ADC tables — one chunk of queries,
    so the full stack is small."""
    return np.stack([_pq_subspace_mic(Q, cents, m, j) for j in range(m)])


def pq_topk(
    queries: DataFrame,
    base: DataFrame,
    k: int = 5,
    refine: int = 20,
    m: int = 8,
    nbits: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Product-quantization ANN: each base vector is stored as ``m``
    sub-codes of ``nbits`` (argmin centroid per subspace), queries scan
    candidates by asymmetric distance (ADC — a per-query (m, 2^nbits)
    lookup table, candidate distance = sum of m table cells), keep the
    integer top-``refine``, exact-rerank in float64.

    Output: (src, dst, dist, rank) — rank 1-based by exact distance
    (``knn.rank_key``), ties by dst, over the refined candidates.

    Scale shape: PQ is the memory-compression tier of the ANN family —
    m·nbits bits per vector (4 bytes here vs 256 for the raw floats),
    so the candidate scan is table lookups + integer adds over a
    64× smaller working set; at 100 TB it composes with IVF routing
    (prune clusters, then ADC-scan the survivors, then rerank). The
    deterministic hash-sample codebook keeps every stage —
    quantization, ADC ranking, rerank — replayable by the DuckDB
    oracle. The base floats broadcast while the base fits — the SAME
    row threshold as the exact tier (the rerank floats dominate the
    payload) — and each task encodes them once; hash-split blocks with
    one global codebook and a global (dq, dst) merge past it —
    block-count invariant, never a whole-base collect.
    """
    from ..functions.hashing import hash60

    ksub = 2**nbits
    if ksub > 256:
        # _pq_encode stores codes as uint8 — nbits >= 9 would silently
        # wrap argmin indices past 255 and return wrong neighbors
        # (ADVICE round 12). Real PQ uses nbits <= 8 (FAISS's default
        # and ceiling for uint8 codes) for exactly this reason.
        raise ValueError(
            f"nbits={nbits} gives {ksub} sub-centroids, past the uint8 "
            "code range (max nbits=8)"
        )

    @functools.cache
    def global_codebook() -> "np.ndarray":
        # blocks share one codebook over the whole base: ksub rows via
        # a TakeOrdered — tiny — computed once, before the first block
        key = hash60(F.concat(F.lit("pq_"), F.col("vec_id").cast("string")))
        cent_rows = (
            base.select("vec_id", "embedding")
            .withColumn("_k", key)
            .orderBy("_k", "vec_id")
            .limit(ksub)
            .collect()
        )
        return np.array([r["embedding"] for r in cent_rows], dtype=np.float64)

    def block(part: DataFrame, rows: list | None, blocked: bool) -> DataFrame:
        # each task encodes its broadcast base against the codebook once
        cents = global_codebook() if blocked else pq_codebook(rows, m, ksub)
        return broadcast_topk(
            queries,
            part,
            rows,
            refine,
            _CANDIDATES,
            lambda b_ids, b_X: (
                b_ids,
                np.ascontiguousarray(b_X.T),
                _pq_encode(b_X, cents, m).T.astype(np.int64),
            ),
            lambda state, q_ids, Q, kk: _pq_chunk(state, cents, q_ids, Q, kk, exclude_self),
        )

    return _rerank(broadcast_or_blocks(base, block), refine, k)


def _pq_chunk(state, cents, q_ids, Q, kk, exclude_self):
    """One chunk's PQ candidates: ``dq`` by ADC, the query's per-subspace
    micro-int tables gathered at the base codes and summed j-major
    (integer adds: exact in any order)."""
    b_ids, b_T, codes_T = state
    qmic = _pq_query_mic(Q, cents, len(codes_T))  # (m, nq, ksub)
    dq = qmic[0][:, codes_T[0]]
    for j in range(1, len(codes_T)):
        dq += qmic[j][:, codes_T[j]]
    return _candidates(dq, q_ids, Q, b_ids, b_T, kk, exclude_self)


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.45,
    bits: int = 32,
    band_bits: int | None = None,
    d: int = 64,
    quality: DataFrame | None = None,
    pair_budget: int | None = DEFAULT_PAIR_BUDGET,
) -> DataFrame:
    """Semantic (embedding-space) dedup, SemDeDup-shaped: the bucketed
    LSH near-dup pairs (:func:`emb_near_dups_lsh` — banded hyperplane
    blocking, exact-cosine verify, never all-pairs) collapsed to
    connected components, one canonical vector kept per cluster.

    Same last-mile rationale as ``dedup.near_dup_clusters``: cosine
    near-duplication is transitive in practice, so the pair list alone
    over-counts — a cluster of m paraphrases yields O(m²) pairs but
    should surrender m−1 rows. The closure reuses the tiered
    pair-components helper (driver union-find under the broadcast cap,
    distributed label propagation past it); canonical policy is
    smallest ``vec_id`` (the component label), or highest ``quality``
    (ties to smallest id) when a ``(vec_id, quality)`` frame is given.

    Output: (vec_id, cluster_id, cluster_size, is_canonical) — one row
    per input vector; singletons are their own cluster. Filtering
    ``is_canonical`` yields the semantically deduplicated collection.

    Scale shape: pair volume is output-bound via the banded join; the
    closure touches only edge-incident vectors (the near-dup fraction);
    the final size/canonical joins shuffle on cluster id.
    """
    from .dedup import _pair_components

    pairs = emb_near_dups_lsh(
        emb,
        threshold=threshold,
        bits=bits,
        band_bits=band_bits,
        d=d,
        pair_budget=pair_budget,
    ).select(F.col("src").alias("doc1"), F.col("dst").alias("doc2"))
    comp_active = _pair_components(pairs).select(
        F.col("doc_id").alias("vec_id"), "_cid"
    )
    # comp feeds the size aggregate AND the final join — materialize
    # the narrow (vec_id, cluster_id) map once (mirrors
    # dedup.near_dup_clusters)
    comp = (
        emb.select("vec_id")
        .join(comp_active, on="vec_id", how="left")
        .select(
            "vec_id", F.coalesce(F.col("_cid"), F.col("vec_id")).alias("cluster_id")
        )
        .localCheckpoint(eager=True)
    )
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    out = comp.join(sizes, on="cluster_id")
    if quality is None:
        return out.select(
            "vec_id",
            "cluster_id",
            "cluster_size",
            (F.col("vec_id") == F.col("cluster_id")).alias("is_canonical"),
        )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("vec_id")
    )
    return (
        out.join(quality.select("vec_id", "quality"), on="vec_id", how="left")
        .withColumn("_rn", F.row_number().over(w))
        .select(
            "vec_id",
            "cluster_id",
            "cluster_size",
            (F.col("_rn") == 1).alias("is_canonical"),
        )
    )


def save_ivf_index(assigned: DataFrame, centroids: np.ndarray, path: str) -> None:
    """Persist an IVF index (build once, search many — the lifecycle
    the reference lacks: it rebuilds its faiss index every experiment
    cell, which SURVEY §3.3 identifies as its dominant cost).

    Layout: the assignment table is written PARTITIONED BY CLUSTER, so
    a later probe's equi-join on ``cluster`` prunes unprobed clusters
    at the file level (partition pruning / DPP) — at 100 TB a
    nprobe=4-of-1024 search touches ~0.4 % of the bytes on disk. The
    centroid matrix is a single tiny parquet loaded driver-side (one
    row per cluster; it is broadcast state, not data).
    """
    sess = assigned.sparkSession
    assigned.write.partitionBy("cluster").mode("overwrite").parquet(
        f"{path}/assigned"
    )
    cent = sess.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    )
    cent.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_append(spark, path: str, new_vectors: DataFrame) -> None:
    """Incremental index maintenance: route NEW vectors through the
    EXISTING centroids and append them into the cluster partitions —
    the arrival path of a live corpus (the reference rebuilds its
    whole faiss index on any change; SURVEY §3.3).

    No existing file is touched: ``mode("append")`` under
    ``partitionBy(cluster)`` adds files inside the affected cluster
    directories only, so readers keep partition pruning and a search
    after the append is plan-identical to one over a from-scratch
    index with the same centroids. Centroids are NOT moved — the
    standard IVF trade (periodic re-train compacts drift; that is
    :func:`ivf_build_fixed` + ``save_ivf_index`` again)."""
    _, centroids = load_ivf_index(spark, path)
    assigned = new_vectors.select(
        "vec_id",
        "embedding",
        _argmin_cluster("embedding", centroids).alias("cluster"),
    )
    assigned.write.partitionBy("cluster").mode("append").parquet(
        f"{path}/assigned"
    )


def ivf_erase(spark, path: str, victims: DataFrame, key: str = "vec_id") -> dict:
    """Erasure propagation into the persisted IVF index — the MIRROR
    of :func:`ivf_append` (VERDICT r12 #4: deleting base rows must
    also delete them from derived artifacts, or "we deleted the row"
    is not "we deleted the data"). Removes the ``victims`` key set
    physically: only the cluster partitions that actually hold a
    victim are rewritten (survivor rows re-written into fresh files,
    the superseded files deleted); every other cluster's files are
    untouched on disk — byte-identical, same inodes — so a search
    after the erase is plan-identical to one over a from-scratch
    assignment of the survivor corpus under the same centroids.

    Two jobs + a driver-side directory swap:

    1. **Locate** — a semi-join of the assignment table against the
       victim keys, reading ONLY (vec_id, cluster); ``cluster`` is the
       partition column and ``vec_id`` a thin int64, so parquet column
       pruning skips the embedding payload that dominates index bytes.
       (An id-keyed sidecar could prune this scan too; at 100 TB the
       thin-column scan is the standard trade for not maintaining a
       second index.)
    2. **Rewrite** — survivors of ONLY the touched clusters
       (``cluster IN (...)`` prunes untouched partitions at the file
       level) written partitioned-by-cluster to a temp dir, then each
       touched ``cluster=c`` directory is atomically swapped and the
       old files deleted. A cluster whose every row was a victim
       simply loses its directory. Same single-writer rename contract
       as :func:`ivf_compact`; at cluster scale the identical rewrite
       runs through a table format's transactional partition
       overwrite.

    What this does NOT forget: the frozen centroids. They are derived
    index state (hash-sampled vectors / KMeans means), so a victim
    that seeded a centroid leaves its coordinates in the routing
    table; when centroid provenance matters, the retrain path
    (:func:`ivf_build_fixed` over the survivors + ``save_ivf_index``)
    completes the forget — the audit dict reports
    ``centroid_rows_retained`` so callers can gate that decision,
    exactly like :func:`ivf_maintenance_report` gates drift retrains.

    Returns ``{"rows_erased", "clusters_touched", "clusters_total",
    "bytes_rewritten", "bytes_total_before", "bytes_total_after",
    "centroid_rows_retained"}`` — bytes_rewritten vs
    bytes_total_before IS the measured advantage over a full rebuild.
    """
    import os
    import shutil

    from .maintenance import parquet_file_stats

    src = f"{path}/assigned"
    before = parquet_file_stats(src)
    n_centroids = spark.read.parquet(f"{path}/centroids").count()
    assigned = spark.read.parquet(src).select(
        "vec_id", "embedding", F.col("cluster").cast("int").alias("cluster")
    )
    v = victims.select(F.col(key).alias("vec_id")).dropDuplicates(["vec_id"])
    # one job: per-cluster victim counts (touched set + rows_erased).
    # No forced broadcast: the victim set is caller-provided and
    # unbounded (an explicit hint is never demoted); delete batches
    # are small in practice, so AQE broadcasts them on its own.
    per_cluster = (
        assigned.join(v, on="vec_id", how="left_semi")
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    touched = sorted(int(r["cluster"]) for r in per_cluster)
    rows_erased = sum(int(r["n"]) for r in per_cluster)
    if not touched:
        return {
            "rows_erased": 0,
            "clusters_touched": 0,
            "clusters_total": n_centroids,
            "bytes_rewritten": 0,
            "bytes_total_before": before["total_bytes"],
            "bytes_total_after": before["total_bytes"],
            "centroid_rows_retained": n_centroids,
        }
    surv = assigned.filter(F.col("cluster").isin(touched)).join(
        v, on="vec_id", how="left_anti"
    )
    tmp = f"{path}/assigned__erase_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        surv.repartition("cluster")
        .write.partitionBy("cluster")
        .mode("overwrite")
        .parquet(tmp)
    )
    bytes_rewritten = parquet_file_stats(tmp)["total_bytes"]
    for c in touched:
        sdir = os.path.join(src, f"cluster={c}")
        tdir = os.path.join(tmp, f"cluster={c}")
        old = sdir + "__old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(sdir, old)
        if os.path.isdir(tdir):  # absent = cluster fully erased
            os.rename(tdir, sdir)
        shutil.rmtree(old)  # the victims' bytes leave disk here
    shutil.rmtree(tmp)
    after = parquet_file_stats(src)
    return {
        "rows_erased": rows_erased,
        "clusters_touched": len(touched),
        "clusters_total": n_centroids,
        "bytes_rewritten": bytes_rewritten,
        "bytes_total_before": before["total_bytes"],
        "bytes_total_after": after["total_bytes"],
        "centroid_rows_retained": n_centroids,
    }


def ivf_compact(spark, path: str, target_rows_per_file: int = 1_000_000) -> dict:
    """Compact the small files repeated :func:`ivf_append` accumulates
    inside cluster partitions (each append lays down ≥1 new file per
    touched cluster, so after A appends a hot cluster holds O(A) files
    and every probe pays the open/footer overhead per file).

    One hash shuffle on ``cluster`` rewrites each partition into
    ~``target_rows_per_file``-row files while PRESERVING the
    ``PARTITIONED BY cluster`` layout, so probe-time partition pruning
    is untouched. The swap is a driver-side directory rename here
    (single-filesystem scratch); at cluster scale the identical rewrite
    runs through the table format's transactional partition-overwrite.
    Search results are bit-identical before/after — the
    ``ivf_compact_parity`` pack gate asserts it every round.

    Returns ``{"rows", "before": stats, "after": stats}`` with
    file-count/byte audits from the metadata walk.
    """
    import os
    import shutil

    from .maintenance import parquet_file_stats

    src = f"{path}/assigned"
    tmp = f"{path}/assigned__compact_tmp"
    before = parquet_file_stats(src)
    df = spark.read.parquet(src).select(
        "vec_id", "embedding", F.col("cluster").cast("int").alias("cluster")
    )
    n = df.count()
    (
        df.repartition("cluster")  # one partition (≥1 file) per cluster
        .write.option("maxRecordsPerFile", target_rows_per_file)
        .partitionBy("cluster")
        .mode("overwrite")
        .parquet(tmp)
    )
    old = f"{path}/assigned__old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(src, old)
    os.rename(tmp, src)
    shutil.rmtree(old)
    after = parquet_file_stats(src)
    return {"rows": n, "before": before, "after": after}


def ivf_maintenance_report(
    spark,
    path: str,
    occupancy_skew: float = 4.0,
    files_per_cluster: int = 8,
    mse_skew: float = 4.0,
) -> dict:
    """Occupancy/drift probe for a persisted IVF index — the signal
    that tells an operator WHEN the two maintenance actions are due:

    - **compact** when any cluster partition holds more than
      ``files_per_cluster`` parquet files (append fragmentation —
      :func:`ivf_compact` fixes it without touching results);
    - **retrain** when per-cluster occupancy skews past
      ``occupancy_skew`` × the mean (a hot cell degrades its probes
      toward brute force) or when a cluster's mean squared distance to
      its own centroid exceeds ``mse_skew`` × the median cluster MSE
      (appended vectors the frozen centroids never assimilated —
      quantization drift). Retrain = ``ivf_build_fixed`` +
      ``save_ivf_index`` again; it moves centroids, so unlike
      compaction it legitimately changes results.

    Driver cost: one metadata walk plus one aggregate over the
    assignment table (per-cluster count + MSE — a single shuffle on
    the partition key). Returns a plain dict so callers can log it or
    gate a maintenance job on the two booleans.
    """
    import os

    from ..functions.distance import squared_euclidean

    assigned, cents = load_ivf_index(spark, path)
    cent_df = spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(cents)],
        "cluster int, centroid array<double>",
    )
    per = (
        assigned.join(F.broadcast(cent_df), on="cluster")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(
                squared_euclidean(
                    F.col("embedding").cast("array<double>"), F.col("centroid")
                )
            ).alias("mse"),
        )
        .orderBy("cluster")
        .collect()
    )
    files = {}
    base = f"{path}/assigned"
    for entry in os.listdir(base):
        if entry.startswith("cluster="):
            cdir = os.path.join(base, entry)
            files[entry] = sum(
                1 for f in os.listdir(cdir) if f.endswith(".parquet")
            )
    counts = [r["n"] for r in per]
    mses = sorted(r["mse"] for r in per)
    med_mse = mses[len(mses) // 2] if mses else 0.0
    mean_n = (sum(counts) / len(counts)) if counts else 0.0
    max_files = max(files.values(), default=0)
    # booleans first, human-readable reasons derived FROM them (review
    # round 12: the retrain flag used to substring-match the reason
    # strings, coupling control flow to presentation wording)
    fragmented = max_files > files_per_cluster
    skewed = bool(counts and mean_n > 0 and max(counts) / mean_n > occupancy_skew)
    drifted = bool(med_mse > 0 and mses[-1] / med_mse > mse_skew)
    reasons = []
    if fragmented:
        reasons.append(f"fragmentation: {max_files} files in one cluster")
    if skewed:
        reasons.append(
            f"occupancy skew: max {max(counts)} vs mean {mean_n:.1f}"
        )
    if drifted:
        reasons.append(
            f"quantization drift: max cluster MSE {mses[-1]:.4f} vs "
            f"median {med_mse:.4f}"
        )
    return {
        "clusters": len(per),
        "rows": sum(counts),
        "max_files_per_cluster": max_files,
        "occupancy": {r["cluster"]: r["n"] for r in per},
        "recommend_compact": fragmented,
        "recommend_retrain": skewed or drifted,
        "reasons": reasons,
    }


def load_ivf_index(spark, path: str) -> tuple[DataFrame, np.ndarray]:
    """Load a persisted IVF index: (assigned DataFrame, centroids).
    The assignment scan stays partition-pruned: only the clusters a
    query routes to are ever read."""
    assigned = spark.read.parquet(f"{path}/assigned").select(
        "vec_id", "embedding", F.col("cluster").cast("int").alias("cluster")
    )
    rows = spark.read.parquet(f"{path}/centroids").orderBy("cluster").collect()
    centroids = np.array([r["centroid"] for r in rows], dtype=np.float64)
    return assigned, centroids
