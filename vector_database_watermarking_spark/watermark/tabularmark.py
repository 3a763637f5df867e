"""TabularMark baseline: key-cell interval watermark with z-test
detection (SURVEY C6/C7, ``/root/reference/tabularMark.py``).

Scheme: the first ``nw`` rows are key cells. Per key cell, the unit
interval ``[-p, p]`` is split into random segments alternately
assigned to two categories of equal total length ("green"/"red"),
seeded by the row's content id (``tabularMark.py:48-105``); a random
number from the green category is added to the cell's value at
``position`` (``:117-127``). Detection re-finds key rows by content id
(first-match, ``:129-154``), classifies each matched row's perturbation
``Δ = wm − orig``, counts green hits ``ng``, and declares the watermark
present when ``z = 2(ng − nw/2)/√nw > 1.96`` (``:183-190``).

The content id is the native ``functions.hashing.content_id`` over
the first ``k`` dims (``first_dims``, shared with SCPW), a JVM column:
key cells, the key-row flag of the embedder and both matchers read it
without a Python pass.

Deviations (documented):
- content id uses the engine-wide scaled digit (``floor(|x|·100)``) —
  the reference's raw leading digit degenerates to all-zeros on
  unit-scale data (see ``functions.hashing``);
- the per-id RNG is ``random.Random(id)`` rather than reseeding the
  global CPython RNG (same construction, safe under concurrency).
"""

from __future__ import annotations

import math
import random

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import content_id, first_dims

ALPHA = 1.96  # one-sided z threshold (tabularMark.py:14)

Segment = tuple[float, float]


def _build_partition(
    p: float, rng: random.Random
) -> tuple[list[Segment], list[Segment]]:
    """Core of P10: consume draws from ``rng`` to split [-p, p] into
    random segments, alternately assigned to whichever category
    currently has the smaller total length; when one category reaches
    total length p its last segment is trimmed and the remainder goes
    to the other."""
    cat1: list[Segment] = []
    cat2: list[Segment] = []
    len1 = len2 = 0.0
    start = -p
    while start < p:
        seg_len = rng.uniform(1, min(p - start, p))
        end = start + seg_len
        if len1 <= len2:
            cat1.append((start, end))
            len1 += seg_len
        else:
            cat2.append((start, end))
            len2 += seg_len
        if len1 >= p or len2 >= p:
            break
        start = end

    def _trim(full: list[Segment], other: list[Segment]) -> None:
        last_start, _ = full.pop()
        new_end = last_start + (p - sum(e - s for s, e in full))
        full.append((last_start, new_end))
        other.append((new_end, p))

    if len1 >= p:
        _trim(cat1, cat2)
    elif len2 >= p:
        _trim(cat2, cat1)
    return cat1, cat2


def divide_interval_randomly(p: float, seed_id: str) -> tuple[list[Segment], list[Segment]]:
    """P10 (``tabularMark.py:48-105``), deterministic in ``seed_id``."""
    return _build_partition(p, random.Random(seed_id))


def green_perturbation(p: float, seed_id: str) -> float:
    """The deterministic per-id green-cell perturbation: the reference
    seeds the global RNG inside ``divide_interval_randomly`` and then
    draws the choice from the same stream (``tabularMark.py:122-124``),
    so Δ is a pure function of the id. One ``random.Random(id)``
    carries through both the partition build and the choice (P11,
    ``tabularMark.py:107-115``)."""
    rng = random.Random(seed_id)
    cat1, _cat2 = _build_partition(p, rng)
    start, end = rng.choice(cat1)
    return rng.uniform(start, end)


def find_category(number: float, cat1: list[Segment], cat2: list[Segment]) -> int:
    """P12 (``tabularMark.py:156-168``): 0 = green, 1 = red, -1 = neither."""
    for s, e in cat1:
        if s <= number <= e:
            return 0
    for s, e in cat2:
        if s <= number <= e:
            return 1
    return -1


def tabularmark_embed(
    emb: DataFrame, nw: int, p: float, k: int, position: int
) -> tuple[DataFrame, DataFrame]:
    """C6 (``watermark_embed``, ``tabularMark.py:117-127``): perturb the
    first ``nw`` rows (W7 head slice) at ``position`` by a green draw.

    Returns ``(watermarked, key_cells)``; key_cells is
    ``(vec_id, vid)`` — the embedder's bookkeeping (``i_tuple``).
    """
    vid = content_id("embedding", first_dims(k))

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _perturb(embs: pd.Series, vids: pd.Series) -> pd.Series:
        out = []
        for vec, seed_id in zip(embs, vids):
            if seed_id is None:  # not a key row
                out.append(vec)
                continue
            v = list(vec)
            v[position] = float(v[position]) + green_perturbation(p, seed_id)
            out.append(v)
        return pd.Series(out)

    key = F.col("vec_id") < nw
    wm = emb.withColumn("embedding", _perturb("embedding", F.when(key, vid)))
    key_cells = emb.filter(key).select("vec_id", vid.alias("vid"))
    return wm, key_cells


def tabularmark_detect(
    orig: DataFrame,
    wm_data: DataFrame,
    key_cells: DataFrame,
    p: float,
    k: int,
    position: int,
) -> dict:
    """C7 (``watermark_extrction``, ``tabularMark.py:170-190``).

    J4 matching: every watermarked row whose content id equals a key
    cell's id matches the *first* such key cell (``break`` at
    ``tabularMark.py:150`` → ``row_number() == 1`` ordered by key-cell
    vec_id). Δ classification + one-sided z-test.
    Returns {"detected": bool, "z": float, "ng": int, "nw": int}.
    """
    wm_ids = wm_data.select(
        F.col("vec_id").alias("wm_vec_id"),
        F.element_at("embedding", position + 1).alias("wm_value"),
        content_id("embedding", first_dims(k)).alias("vid"),
    )
    orig_vals = orig.select(
        F.col("vec_id").alias("orig_vec_id"),
        F.element_at("embedding", position + 1).alias("orig_value"),
    )
    keys = key_cells.select(
        F.col("vec_id").alias("key_vec_id"), F.col("vid")
    ).join(orig_vals, F.col("key_vec_id") == F.col("orig_vec_id"))

    # first-match per watermarked row, by key-cell order
    w = Window.partitionBy("wm_vec_id").orderBy("key_vec_id")
    matched = (
        wm_ids.join(F.broadcast(keys), on="vid")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )

    @F.pandas_udf(T.IntegerType())
    def _is_green(vids: pd.Series, diffs: pd.Series) -> pd.Series:
        out = []
        for vid, diff in zip(vids, diffs):
            c1, c2 = divide_interval_randomly(p, vid)
            out.append(1 if find_category(float(diff), c1, c2) == 0 else 0)
        return pd.Series(out)

    greens = matched.select(
        _is_green(F.col("vid"), F.col("wm_value") - F.col("orig_value")).alias("g")
    ).agg(F.sum("g").alias("ng"))
    ng = int(greens.head()["ng"] or 0)
    nw = key_cells.count()
    z = 2.0 * (ng - 0.5 * nw) / math.sqrt(nw) if nw else 0.0
    return {"detected": z > ALPHA, "z": z, "ng": ng, "nw": nw}


def tabularmark_match_count(wm_data: DataFrame, key_cells: DataFrame, k: int) -> int:
    """Reference ``Matching_vector`` (``tabularMark.py:129-154``) as a
    count: the number of (attacked) data rows whose content id matches
    some key cell's id — the reference appends one ``match_index``
    entry per data row that finds a key (first match, then ``break``),
    so the count is rows-with-a-key-match, not keys-found. The
    compare-grid's "match proportion lost" is ``1 − count/nw``
    (``compare/roubust.py:207-213``). Distributed shape: broadcast the
    nw key ids, hash-join on the content id — no per-row driver loop."""
    ids = wm_data.select(content_id("embedding", first_dims(k)).alias("vid"))
    keys = key_cells.select("vid").distinct()
    return ids.join(F.broadcast(keys), on="vid", how="leftsemi").count()
