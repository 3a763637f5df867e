"""TVP and RS watermark pipelines (SURVEY C1/C2/C3).

Reference: ``watermark_embedding_by_ai`` (``/root/reference/
watermarking.py:275-342``), ``watermark_embedding`` (``:345-400``),
``watermark_extraction`` (``:402-427``).

Pipeline shape (C1): kNN graph → accessibility index → compat
group/classify (pandas UDF over the whole collection) → per-group
deficit (F5) → carrier selection (W1 two-tier rank-threshold, or W6
seeded sample for RS) → bit surgery on carriers only (P5).

Each step has one implementation here, and SCPW (``watermark.scpw``)
runs the same one: ``_classify`` takes the scheme's per-vector
``(vid, group_id, hidden_bit)`` function, ``_avail_from_classified``
the deficit, ``_select_random`` the keyed carrier pick, and
``_apply_embedding`` the carrier join with a per-row rewrite — bit
surgery for TVP and RS, the noise rejection loop for SCPW.

The reference's per-bit Python loop disappears: groups are disjoint,
so selection and embedding happen for all L groups in one shot —
window functions partitioned by ``group_id`` (SURVEY §3.1 stage 8).

Scale notes: every step shuffles by ``group_id`` or joins on
``vec_id``; the only Python is one classifier pass per row (a
``mapInPandas`` relation the optimizer cannot split or duplicate, so a
pipeline evaluates it exactly once) and the carrier bit-surgery UDF.
Per-group deficits and the AI threshold are window aggregates over the
classified rows, not self-joins that would re-run the classifier. At
100 TB the classifier is the hot path — the native parity tier
(``operators.grouping``) is the all-JVM alternative with the same
relational shape.

Determinism (SURVEY §4.2): RS "random" selection orders by a keyed
hash of (seed, vec_id) instead of CPython's stateful
``random.sample`` — partitioning-invariant; documented deviation.
"""

from __future__ import annotations

import functools
import math

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import bits
from ..functions.hashing import compat_md5_mod, hash60, key_dims
from ..operators.graph import accessibility_index
from ..operators.knn import knn_edges

_CLS_FIELDS = [
    T.StructField("vid", T.StringType()),
    T.StructField("group_id", T.IntegerType()),
    T.StructField("hidden_bit", T.IntegerType()),
]


@functools.lru_cache(maxsize=None)
def _keys(d: int, seed: int) -> tuple[tuple[int, ...], frozenset[int]]:
    """Key dims of a length-``d`` vector and their skip set. The
    workers derive them from the rows they read (memoised per length),
    so no driver-side probe job has to learn ``d`` first."""
    dims = tuple(key_dims(d, seed))
    return dims, frozenset(dims)


def _classify(emb: DataFrame, row_fn) -> DataFrame:
    """A1 classifier relation shared by every compat-tier scheme: the
    input columns minus ``embedding``, plus the ``(vid, group_id,
    hidden_bit)`` that ``row_fn(vector)`` returns for each row.

    One ``mapInPandas`` relation: filters above it cannot be pushed
    into a second Python evaluation, and the vectors do not come back
    out of Python."""
    schema = T.StructType(
        [f for f in emb.schema.fields if f.name != "embedding"] + _CLS_FIELDS
    )

    def _cls(batches):
        for pdf in batches:
            vids, gids, hbits = [], [], []
            for vec in pdf["embedding"]:
                vid, gid, hbit = row_fn(list(vec))
                vids.append(vid)
                gids.append(gid)
                hbits.append(hbit)
            yield pdf.drop(columns="embedding").assign(
                vid=vids, group_id=gids, hidden_bit=hbits
            )

    return emb.mapInPandas(_cls, schema)


def classify_compat(emb: DataFrame, L: int, seed: int = 20) -> DataFrame:
    """A1 compat tier: :func:`_classify` with the full-128-bit-md5 /
    binary-expansion semantics (``watermarking.py:119-150``)."""

    def _row(vec):
        dims, skip = _keys(len(vec), seed)
        vid = bits.content_id_py(vec, dims)
        # integer fast tier — bit-identical (functions.bits)
        return vid, compat_md5_mod(vid, L), bits.extract_bit_fast(vec, vid, skip)

    return _classify(emb, _row)


def _with_wm_bit(cls: DataFrame, watermark: str) -> DataFrame:
    """Attach each row's group-target bit from the watermark string."""
    wm_arr = F.array(*[F.lit(int(b)) for b in watermark])
    return cls.withColumn("wm_bit", F.element_at(wm_arr, F.col("group_id") + 1))


def _deficit_cols(strength: float) -> list[Column]:
    """F5 deficit algebra (``watermarking.py:316-328``) over a group's
    ``n_total`` and ``n_have`` columns: ``n_avail`` (the disagreeing
    rows) and the deficit capped at it. The single home of the
    formula — selection and the carrier audit both consume it."""
    n_avail = F.col("n_total") - F.col("n_have")
    need = F.ceil(F.lit(strength) * F.col("n_total")).cast("long") - F.col("n_have")
    return [
        F.least(F.greatest(F.lit(0), need), n_avail).alias("deficit"),
        n_avail.alias("n_avail"),
    ]


def _agrees() -> Column:
    return (F.col("hidden_bit") == F.col("wm_bit")).cast("int")


def _group_stats(cls_wm: DataFrame, strength: float) -> DataFrame:
    """Per group: (group_id, n_total, n_have, deficit, n_avail)."""
    stats = cls_wm.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_total"), F.sum(_agrees()).alias("n_have")
    )
    return stats.select("*", *_deficit_cols(strength))


def _avail_from_classified(cls: DataFrame, watermark: str, strength: float) -> DataFrame:
    """F5 bit-deficit computation (``watermarking.py:316-328``) over an
    already-classified DataFrame: attach the group's target bit,
    compute how many carriers each group still needs, and keep only the
    flippable rows. Classifier-agnostic (the compat tier or the
    native parity tier feed the same deficit algebra). The group counts
    are window aggregates, so the classified rows are read once."""
    g = Window.partitionBy("group_id")
    cls = (
        _with_wm_bit(cls, watermark)
        .withColumn("n_total", F.count(F.lit(1)).over(g))
        .withColumn("n_have", F.sum(_agrees()).over(g))
    )
    return cls.select("*", *_deficit_cols(strength)).filter(
        F.col("hidden_bit") != F.col("wm_bit")
    )


def _selection_base(
    emb: DataFrame, watermark: str, seed: int, strength: float
) -> DataFrame:
    """Shared F5 bit-deficit computation (``watermarking.py:316-328``):
    classify (compat tier), then the deficit algebra."""
    cls = classify_compat(emb, len(watermark), seed)
    return _avail_from_classified(cls, watermark, strength)


def _select_by_ai(avail: DataFrame, th: float) -> DataFrame:
    """W1 (``select_by_ai``, ``watermarking.py:203-246``): two-tier
    rank-threshold selection per group.

    Tier 1: rows whose AI ≥ the AI at rank ``int(n_avail·th)`` of the
    AI-descending order, taken in *vec_id order* (the reference
    iterates candidates in data order) up to the deficit. Tier 2
    (backfill, ``:234-244``): remaining rows in AI-descending order.
    """
    w_group = Window.partitionBy("group_id")
    w_ai = w_group.orderBy(F.col("ai").desc(), F.col("vec_id"))
    avail = avail.withColumn("ai_rank", F.row_number().over(w_ai))
    thr_rank = F.floor(F.col("n_avail") * F.lit(th)).cast("long")

    # the AI at the threshold rank; null when no row holds that rank
    # (int(n_avail·th) < 1), and then every row passes
    thr_ai = F.max(F.when(F.col("ai_rank") == thr_rank, F.col("ai"))).over(w_group)
    avail = avail.withColumn("thr_ai", thr_ai).withColumn(
        "passer",
        F.when(F.col("thr_ai").isNull(), F.lit(True)).otherwise(
            F.col("ai") >= F.col("thr_ai")
        ),
    )
    n_pass = F.sum(F.col("passer").cast("long")).over(w_group)
    avail = avail.withColumn("n_pass", n_pass)

    w_tier = Window.partitionBy("group_id", "passer")
    rn_t1 = F.row_number().over(w_tier.orderBy("vec_id"))
    rn_t2 = F.row_number().over(w_tier.orderBy(F.col("ai").desc(), F.col("vec_id")))
    avail = avail.withColumn("rn_t1", rn_t1).withColumn("rn_t2", rn_t2)

    tier1 = F.col("passer") & (F.col("rn_t1") <= F.col("deficit"))
    tier2 = (~F.col("passer")) & (
        F.col("rn_t2") <= F.col("deficit") - F.least(F.col("deficit"), F.col("n_pass"))
    )
    return avail.filter(tier1 | tier2)


def _select_random(avail: DataFrame, seed: int) -> DataFrame:
    """W6 (``random_select_vectors``, ``watermarking.py:152-165``):
    exact-n per-group sample, ordered by a keyed hash — a pure function
    of (seed, vec_id), unlike the reference's stateful RNG."""
    order_key = hash60(F.concat_ws("_", F.lit(str(seed)), F.col("vec_id")))
    w = Window.partitionBy("group_id").orderBy(order_key, F.col("vec_id"))
    return avail.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= F.col("deficit")
    )


def _apply_embedding(emb: DataFrame, carriers: DataFrame, rewrite) -> DataFrame:
    """P5 application: left-join the carrier targets and rewrite only
    those embeddings with ``rewrite(vector, vec_id, vid, target)``;
    rows without a target pass through untouched."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(
        embs: pd.Series, vec_ids: pd.Series, vids: pd.Series, targets: pd.Series
    ) -> pd.Series:
        out = []
        for vec, vec_id, vid, target in zip(embs, vec_ids, vids, targets):
            if target is None or (isinstance(target, float) and math.isnan(target)):
                out.append(vec)
            else:
                out.append(rewrite(list(vec), int(vec_id), vid, int(target)))
        return pd.Series(out)

    tagged = emb.join(
        carriers.select("vec_id", "vid", F.col("wm_bit").alias("_target")),
        on="vec_id",
        how="left",
    )
    return tagged.withColumn(
        "embedding",
        _embed("embedding", "vec_id", "vid", F.col("_target").cast("double")),
    ).select(*emb.columns)


def _set_bit(seed: int, vec: list, vec_id: int, vid: str, target: int) -> list:
    """The TVP/RS rewrite: set the carrier's hidden bit (P5)."""
    return bits.embed_bit_fast(vec, target, vid, _keys(len(vec), seed)[1])


def tvp_embed(
    emb: DataFrame,
    watermark: str,
    strength: float,
    th: float,
    seed: int = 20,
    knn_k: int = 10,
) -> tuple[DataFrame, DataFrame]:
    """C1 (``watermark_embedding_by_ai``, ``watermarking.py:275-342``).

    Returns ``(watermarked, carriers)``; ``carriers`` has
    ``(vec_id, group_id, wm_bit, ai)``.
    """
    wm_df, carriers, _ = tvp_embed_with_ai(
        emb, watermark, strength, th, seed=seed, knn_k=knn_k
    )
    return wm_df, carriers


def tvp_embed_with_ai(
    emb: DataFrame,
    watermark: str,
    strength: float,
    th: float,
    seed: int = 20,
    knn_k: int = 10,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`tvp_embed` plus the per-node accessibility index it
    computed internally — so callers needing the reference's 5-tuple
    (``watermarking.py:342``) don't rebuild the kNN graph (the
    pipeline's dominant cost) a second time."""
    edges = knn_edges(emb.select("vec_id", "embedding"), k=knn_k)
    ai = accessibility_index(edges, emb).select("vec_id", "ai").persist()
    avail = _selection_base(emb, watermark, seed, strength).join(ai, on="vec_id")
    carriers = _select_by_ai(avail, th).select("vec_id", "group_id", "wm_bit", "vid", "ai")
    wm_df = _apply_embedding(emb, carriers, functools.partial(_set_bit, seed))
    return wm_df, carriers, ai


def tvp_select_native(
    emb: DataFrame,
    watermark: str,
    strength: float,
    th: float,
    seed: int = 20,
    knn_k: int = 10,
) -> DataFrame:
    """W1+F5 carrier selection over the NATIVE classification tier
    (hash60 group ids + parity hidden bit — ``operators.grouping``):
    the same selection model as :func:`tvp_embed` (deficits, AI
    threshold, two-tier backfill; ``watermarking.py:203-246,316-328``)
    with every step a native SQL expression, so the whole path is
    DuckDB-oracle-checkable. AI is computed over 6-decimal edge lengths
    and rounded to 5 so rankings are cross-engine stable.

    Returns carriers ``(vec_id, group_id, wm_bit)``.
    """
    from ..operators.grouping import classify

    d = len(emb.select("embedding").head()[0])
    dims = key_dims(d, seed)
    cls = classify(emb, dims, L=len(watermark), d=d)
    avail = _avail_from_classified(cls, watermark, strength)
    edges = knn_edges(emb.select("vec_id", "embedding"), k=knn_k)
    ai = accessibility_index(edges, emb, decimals=6).select(
        "vec_id", F.round("ai", 5).alias("ai")
    )
    carriers = _select_by_ai(avail.join(ai, on="vec_id"), th)
    return carriers.select("vec_id", "group_id", "wm_bit")


def tvp_carrier_invariants(
    emb: DataFrame,
    watermark: str,
    strength: float,
    th: float,
    seed: int = 20,
    knn_k: int = 10,
) -> DataFrame:
    """Per-group invariant audit of the compat-tier TVP carrier
    selection and embedding (C1, ``watermark_embedding_by_ai``,
    ``watermarking.py:275-342``).

    The compat classification (full-128-bit md5 group ids + binary-
    expansion hidden bits) lives in a pandas UDF no SQL engine can
    replay, so the carrier *listing* is not oracle-checkable. What IS
    provable — and falsifiable — is the algebra composed around it:

    - ``deficit_met``: the selection takes exactly the capped deficit
      ``min(max(0, ceil(strength·n_total) − n_have), n_avail)`` per
      group (F5 ``watermarking.py:316-328`` + W1 ``:203-246``).
    - ``embed_fixed_carriers``: after embedding, an independent
      re-classification of the watermarked vectors agrees with the
      target bit on exactly ``n_have + n_carriers`` rows — i.e. every
      carrier flipped to its target and no non-carrier was disturbed.
      Wrong carrier targeting, a drifted embed position, or an
      extraction mismatch all break this equality.
    - ``group_bit_decoded``: the post-embed majority decode of each
      group equals its planted bit (guaranteed at strength > 0.5 when
      everything composes; an off-by-one in group indexing flips it).

    Each check crosses the embed/extract boundary or compares
    independently-derived counts, so none is true by construction.
    Returns one row per group: ``(group_id, deficit_met,
    embed_fixed_carriers, group_bit_decoded)``.
    """
    L = len(watermark)

    cls = classify_compat(emb, L, seed)
    stats = _group_stats(_with_wm_bit(cls, watermark), strength)
    avail = _avail_from_classified(cls, watermark, strength)
    edges = knn_edges(emb.select("vec_id", "embedding"), k=knn_k)
    ai = accessibility_index(edges, emb).select("vec_id", "ai")
    # carriers feeds the per-group count AND the embedding pass, and
    # its subtree contains the kNN build + accessibility index —
    # materialize the tiny selected set once instead of re-running the
    # graph pipeline per consumer
    carriers = _select_by_ai(avail.join(ai, on="vec_id"), th).select(
        "vec_id", "group_id", "wm_bit", "vid"
    ).localCheckpoint(eager=True)
    n_car = carriers.groupBy("group_id").agg(F.count(F.lit(1)).alias("n_carriers"))

    # embed for real, then re-classify the watermarked vectors — the
    # audit's right-hand sides come from a second, independent pass
    # through the extraction path
    wm_df = _apply_embedding(emb, carriers, functools.partial(_set_bit, seed))
    post = _with_wm_bit(classify_compat(wm_df, L, seed), watermark)
    post_stats = post.groupBy("group_id").agg(
        F.sum(_agrees()).alias("n_have_post"),
        F.count(F.lit(1)).alias("n_total_post"),
    )

    audited = (
        stats.join(n_car, on="group_id", how="left")
        .join(post_stats, on="group_id")
        .select(
            "group_id",
            (F.coalesce(F.col("n_carriers"), F.lit(0)) == F.col("deficit")).alias(
                "deficit_met"
            ),
            (
                F.col("n_have_post")
                == F.col("n_have") + F.coalesce(F.col("n_carriers"), F.lit(0))
            ).alias("embed_fixed_carriers"),
            (F.col("n_have_post") * 2 > F.col("n_total_post")).alias(
                "group_bit_decoded"
            ),
        )
    )
    return audited.orderBy("group_id")


def rs_embed(
    emb: DataFrame,
    watermark: str,
    strength: float,
    seed: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """C2 (``watermark_embedding``, ``watermarking.py:345-400``):
    TVP with uniform-random carrier selection (the ablation)."""
    avail = _selection_base(emb, watermark, seed, strength)
    carriers = _select_random(avail, seed).select("vec_id", "group_id", "wm_bit", "vid")
    wm_df = _apply_embedding(emb, carriers, functools.partial(_set_bit, seed))
    return wm_df, carriers


def tvp_extract(wm_data: DataFrame, L: int, seed: int = 20) -> str:
    """C3 (``watermark_extraction``, ``watermarking.py:402-427``):
    blind extraction — needs only (seed, L)."""
    from ..operators.grouping import decode_bitstring

    return decode_bitstring(classify_compat(wm_data, L, seed), L)
