"""Reference-shaped top-level API.

One function per public entry point of
``daweiren12/vector_database_watermarking``, with the reference's
signature shapes, so a user of the reference can switch by changing
imports: data in/out is ``(vec_id, embedding)`` DataFrames (or a
parquet path) instead of HDF5 ndarrays, and the row index becomes the
explicit ``vec_id`` key (SURVEY J5).

| reference | here |
|---|---|
| ``watermarking.watermark_embedding_by_ai`` (watermarking.py:275) | :func:`watermark_embedding_by_ai` |
| ``watermarking.watermark_embedding`` (watermarking.py:345) | :func:`watermark_embedding` |
| ``watermarking.watermark_extraction`` (watermarking.py:402) | :func:`watermark_extraction` |
| ``watermarking.BER`` (watermarking.py:445) | :func:`BER` |
| ``watermarking.adaptive_dele`` (watermarking.py:430) | :func:`adaptive_dele` |
| ``SCPW.watermark_embedding`` (SCPW.py:179) | :func:`scpw_watermark_embedding` |
| ``SCPW.watermark_extraction`` (SCPW.py:231) | :func:`scpw_watermark_extraction` |
| ``SCPW.random_dele`` (SCPW.py:269) | :func:`random_dele` |
| ``roubust.random_modify`` (roubust/roubust.py:132) | :func:`random_modify` |
| ``roubust.adaptive_insertion`` (roubust/roubust.py:198) | :func:`adaptive_insertion` |
| ``tabularMark.watermark_embed`` (tabularMark.py:117) | :func:`tabularmark_embed` |
| ``tabularMark.watermark_extrction`` (tabularMark.py:170) | :func:`tabularmark_detect` |
| ``load_data`` (watermarking.py:30) | :func:`load_data` |
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from .operators import attacks
from .operators.grouping import ber as _ber
from .sources.tables import load_embeddings
from .watermark import scpw as _scpw
from .watermark import tabularmark as _tm
from .watermark import tvp as _tvp


def load_data(
    spark: SparkSession, path_or_dir: str, num_samples: int | None = None
) -> DataFrame:
    """S1 (``load_data``, ``watermarking.py:30-37``): head-sliced
    vector-collection scan. ``path_or_dir`` is an sf directory or a
    parquet path."""
    if path_or_dir.endswith(".parquet"):
        df = spark.read.parquet(path_or_dir)
        if num_samples is not None:
            df = df.filter(df.vec_id < num_samples)
        return df
    return load_embeddings(spark, path_or_dir, num_samples)


def watermark_embedding_by_ai(
    data: DataFrame,
    strength: float,
    th: float,
    watermark: str = "0000000000",
    random_seed: int = 20,
) -> tuple[DataFrame, int, DataFrame, DataFrame, DataFrame]:
    """C1 (``watermarking.py:275-342``). Returns
    ``(watermarked, L, carriers, original, accessibility)`` — the
    reference's 5-tuple with DataFrames for the array members. The
    accessibility index is the one the embed computed internally (the
    kNN graph is built once, not twice)."""
    wm_df, carriers, ai = _tvp.tvp_embed_with_ai(
        data, watermark, strength, th, seed=random_seed
    )
    return wm_df, len(watermark), carriers, data, ai


def watermark_embedding(
    data: DataFrame,
    strength: float,
    watermark: str = "0000000000",
    random_seed: int = 20,
) -> tuple[DataFrame, int, DataFrame, DataFrame]:
    """C2 (``watermarking.py:345-400``): random-selection ablation."""
    wm_df, carriers = _tvp.rs_embed(data, watermark, strength, seed=random_seed)
    return wm_df, len(watermark), carriers, data


def watermark_extraction(
    watermarked_data: DataFrame, watermark_length: int, random_seed: int = 20
) -> str:
    """C3 (``watermarking.py:402-427``): blind extraction."""
    return _tvp.tvp_extract(watermarked_data, watermark_length, seed=random_seed)


def BER(wm: str, ex_wm: str) -> float:
    """P13 (``watermarking.py:445-451``)."""
    return _ber(wm, ex_wm)


def adaptive_dele(data: DataFrame, p: float, accessibility: DataFrame) -> DataFrame:
    """W2 (``watermarking.py:430-443``): drop the top ``ceil(n·p)`` rows
    by accessibility index."""
    return attacks.adaptive_delete(data, accessibility, p)


def random_dele(data: DataFrame, p: float, seed: int = 42) -> DataFrame:
    """W6 (``SCPW.py:269-290``, ``roubust/roubust.py:76-97``)."""
    return attacks.random_delete(data, p, seed=seed)


def random_modify(data: DataFrame, p: float, seed: int = 42) -> DataFrame:
    """C8 (``roubust/roubust.py:132-156``)."""
    return attacks.random_modify(data, p, seed=seed)


def adaptive_insertion(data: DataFrame, p: float, seed: int = 42) -> DataFrame:
    """P14+SO2 (``roubust/roubust.py:185-208``): insert ``ceil(n·p)``
    rows."""
    return attacks.gaussian_insertion(
        data.select("vec_id", "embedding"), lambda n: math.ceil(n * p), seed=seed
    )


def scpw_watermark_embedding(
    data: DataFrame,
    top_k: int,
    strength: float,
    position: int,
    standard_e: float | None = None,
    watermark: str = "00000",
    seed: int = 20,
) -> tuple[DataFrame, int, DataFrame, DataFrame]:
    """C4 (``SCPW.py:179-229``)."""
    wm_df, carriers = _scpw.scpw_embed(
        data, watermark, strength, top_k=top_k, position=position, std_e=standard_e,
        seed=seed,
    )
    return wm_df, len(watermark), carriers, data


def scpw_watermark_extraction(
    watermarked_data: DataFrame, top_k: int, watermark_length: int, position: int
) -> str:
    """C5 (``SCPW.py:231-252``)."""
    return _scpw.scpw_extract(watermarked_data, watermark_length, top_k=top_k, position=position)


def tabularmark_embed(
    data: DataFrame, nw: int, p: float, k: int, position: int
) -> tuple[DataFrame, DataFrame]:
    """C6 (``tabularMark.py:117-127``)."""
    return _tm.tabularmark_embed(data, nw=nw, p=p, k=k, position=position)


def tabularmark_detect(
    original: DataFrame,
    watermarked: DataFrame,
    key_cells: DataFrame,
    p: float,
    k: int,
    position: int,
) -> dict:
    """C7 (``tabularMark.py:170-190``): returns
    {"detected", "z", "ng", "nw"}."""
    return _tm.tabularmark_detect(original, watermarked, key_cells, p=p, k=k, position=position)
