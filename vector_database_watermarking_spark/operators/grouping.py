"""Group/classify + majority-vote decode (SURVEY A1/A2, the heart of
the detection pipelines C3/C5).

Reference: ``group_vectors_and_classify_bits``
(``/root/reference/watermarking.py:119-150``, clone ``SCPW.py:130-169``)
buckets row indices into a nested dict per (group_id, hidden_bit);
``watermark_extraction`` (``watermarking.py:402-427``) majority-votes
each group. Here both are single hash aggregations: no dicts, no loops,
map-side partial aggregation for free.

Scale notes: ``groupBy(group_id, hidden_bit)`` shuffles only L*2 rows
after partial agg — O(1) output regardless of input size. The
classification itself is a narrow projection (md5 + arithmetic inside
whole-stage codegen). This is the shape that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import content_id, hash_mod, parity_hidden_bit


def classify(emb: DataFrame, dims: list[int], L: int, d: int) -> DataFrame:
    """A1 projection: add ``vid`` (content id), ``group_id`` and
    ``hidden_bit`` (the native parity bit, P7 tier) columns to an
    embeddings DataFrame. The TVP-compat pipelines classify through
    ``watermark.tvp.classify_compat`` instead."""
    vid = content_id("embedding", dims)
    out = emb.withColumn("vid", vid).withColumn(
        "group_id", hash_mod(F.col("vid"), L).cast("int")
    )
    bit = parity_hidden_bit("embedding", F.col("vid"), d)
    return out.withColumn("hidden_bit", bit.cast("int"))


def group_counts(classified: DataFrame) -> DataFrame:
    """A1 aggregation: rows per (group_id, hidden_bit)."""
    return classified.groupBy("group_id", "hidden_bit").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )


def majority_decode(classified: DataFrame) -> DataFrame:
    """A2: per-group majority vote → decoded bit
    (``watermarking.py:415-425``: 1 iff strictly more 1s than 0s)."""
    return (
        classified.groupBy("group_id")
        .agg(
            F.sum("hidden_bit").alias("n_ones"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .withColumn(
            "decoded_bit",
            F.when(2 * F.col("n_ones") > F.col("n_total"), 1).otherwise(0),
        )
    )


def decode_bitstring(classified: DataFrame, L: int) -> str:
    """Assemble the decoded watermark string in group_id order.

    Groups with no members decode to '0' (the reference's dict is
    pre-seeded with all L groups; empty → 0 > 0 is False → '0',
    ``watermarking.py:121,419-423``).
    """
    rows = majority_decode(classified).select("group_id", "decoded_bit").collect()
    bits = {r["group_id"]: r["decoded_bit"] for r in rows}
    return "".join(str(bits.get(i, 0)) for i in range(L))


def ber(wm: str, extracted: str) -> float:
    """P13 bit-error rate (``watermarking.py:445-451``). Driver-side:
    watermarks are tiny (L ≤ 28)."""
    assert len(wm) == len(extracted)
    return sum(1 for a, b in zip(wm, extracted) if a != b) / len(wm)
