"""Attack operators (SURVEY C8, W2/W6/P14/SO2 —
``/root/reference/roubust/roubust.py:61-208``, ``compare/roubust.py:50-96``).

All randomness is a pure function of (seed, vec_id) via keyed 60-bit
md5 hashes (SURVEY §4.2): the same attack on the same data gives the
same result under any partitioning — and the DuckDB oracle can replay
it, so even the "random" attacks are oracle-checkable.

Scale notes: every exact-n rank selection goes through
:func:`take_ranked` — an ``approxQuantile`` threshold bracket plus a
bounded tie-band window (never a global single-task sort), with exact
``(key, vec_id)`` order guaranteed by runtime-checked rank bounds, in
three actions on a slim probe that also yields the row count the
keep-count is computed from. Both modifications share one rewrite,
:func:`_overwrite_span` (a native ``transform``, no UDF, interpreted
once per element; the keyed per-row draws live below the target
join, so they run once per row), and one count/min/max aggregate;
they differ only in how the target rows are chosen. Insertion
derives per-dim stats with one posexplode aggregation and
synthesizes rows JVM-side with Box-Muller over keyed hashes.
"""

from __future__ import annotations

import math
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash60

SPAN = 30  # consecutive dims one modification overwrites (the reference's)
INSERTED_ID_BASE = 10_000_000  # inserted rows get vec_ids from here up


def _rank_key(seed: int, tag: str) -> Column:
    return hash60(F.concat_ws("_", F.lit(str(seed)), F.lit(tag), F.col("vec_id")))


def take_ranked(
    df: DataFrame,
    keep: Callable[[int], int],
    key: Column,
    *,
    descending: bool = False,
) -> DataFrame:
    """Exactly the first ``n = keep(count(df))`` rows of ``df`` in
    ``(key, vec_id)`` order (``row_number() <= n`` semantics, NULL
    keys ranking last — matching ``Window.orderBy(key.desc())``'s
    nulls-last placement the adaptive attacks relied on) WITHOUT a
    global single-task sort. ``keep`` maps the row count, which the
    probe learns anyway, to the number of rows to keep; a caller whose
    count comes from another frame ignores its argument.

    Scale shape (the same threshold-plus-tie-band idea as
    ``graph.hidden_nodes``, generalized to continuous keys): an
    ``approxQuantile`` probe over a SLIM (key, tie) projection
    brackets the n-th key between two thresholds whose rank error is
    provably inside the pad — only driver scalars survive the probe's
    three actions (row and non-null counts, the two quantiles, the two
    bracket counts), and the full relation is never persisted. Rows strictly below the
    lower threshold pass a plain parallel filter, and only the
    bracket band — O(relative-error · N), capped ~10⁵ rows — goes
    through a row_number window to resolve the last slots. The
    quantile guarantee is re-checked against exact counts at runtime;
    if it ever fails (pathological key distribution) a global-window
    path runs instead, so results are always exact ``(key, tie)``
    order regardless.

    Ordering inside the band uses the ORIGINAL key (long hashes lose
    precision past 2⁵³ as doubles; the double cast is only used for
    the coarse threshold filters, which strict comparisons keep
    consistent with the exact order).
    """
    out_cols = list(df.columns)
    akey = (-key) if descending else key
    akd = akey.cast("double")
    # single-partition by construction (band is capped ~1e5 rows;
    # fallback is the rare exact path) — the non-foldable constant
    # partition key silences the WindowExec no-partition warning so a
    # NEW unpartitioned window (a real bug) stays visible in the logs
    from ..functions.windows import one_partition

    w_all = Window.partitionBy(one_partition("vec_id")).orderBy(
        F.asc_nulls_last(akey), F.col("vec_id")
    )

    def _fallback() -> DataFrame:
        return (
            df.withColumn("_rn", F.row_number().over(w_all))
            .filter(F.col("_rn") <= n)
            .select(*out_cols)
        )

    # probe on a slim projection: per-row cost is ~16 bytes, persisted
    # only for the three actions below, then released
    probe = df.select(akd.alias("_akd"), F.col("vec_id")).persist()
    try:
        total, nn = probe.agg(F.count(F.lit(1)), F.count("_akd")).head()
        n = keep(total)
        if n <= 0:
            return df.filter(F.lit(False))
        if n >= total:
            return df
        if n >= nn:
            # every non-null row selected; the remainder comes from the
            # null-key tail in tie order (rare; bounded by null count)
            return _fallback()
        eps = max(1e-6, min(1e-3, 50_000.0 / nn))
        pad = max(3.0 * eps * nn, 2.0)
        q_lo = max(0.0, (n - pad) / nn)
        q_hi = min(1.0, (n + pad) / nn)
        # approxQuantile ignores nulls, so ranks are within the
        # non-null population — consistent with nulls-last ordering
        t_lo, t_hi = probe.stat.approxQuantile("_akd", [q_lo, q_hi], eps)
        c_sure, c_band = probe.agg(
            F.count_if(F.col("_akd") < t_lo),
            F.count_if((F.col("_akd") >= t_lo) & (F.col("_akd") <= t_hi)),
        ).head()
        if c_sure > n:  # low-side guarantee violated
            return _fallback()
        quota = n - c_sure
        if c_band < quota:  # high-side guarantee violated
            return _fallback()
    finally:
        probe.unpersist()

    sure = df.filter(akd < t_lo)
    if quota == 0:
        return sure.select(*out_cols)
    band = df.filter((akd >= t_lo) & (akd <= t_hi))
    picked = (
        band.withColumn("_rn", F.row_number().over(w_all))
        .filter(F.col("_rn") <= quota)
    )
    return sure.select(*out_cols).unionByName(picked.select(*out_cols))


def _uniform01(*cols: Column) -> Column:
    """U(0,1) from a keyed hash — pure, partitioning-invariant."""
    return (hash60(F.concat_ws("_", *cols)) + F.lit(1).cast("double")) / F.lit(
        float(2**60 + 2)
    )


def _embedding_stats(emb: DataFrame) -> tuple[int, float, float]:
    """Row count and the global [min, max] over every embedding value,
    in one aggregate."""
    n, lo, hi = emb.agg(
        F.count(F.lit(1)),
        F.min(F.array_min("embedding")),
        F.max(F.array_max("embedding")),
    ).head()
    return n, float(lo), float(hi)


def _overwrite_span(
    emb: DataFrame, targets: DataFrame, lo: float, hi: float, seed: int
) -> DataFrame:
    """The C8 rewrite of the ``targets`` rows (``vec_id``): overwrite
    ``SPAN`` consecutive dims (mod d) from a keyed per-row offset with
    one keyed uniform value from [lo, hi].

    The keyed draws (offset hash, value) are computed on the target
    side of the join, once per target row. The ``transform`` lambda is
    interpreted once per element (``ArrayTransform`` has no codegen)
    and reads only join outputs and ``size(embedding)``: a draw
    computed above the join would be inlined into the lambda, its md5s
    re-run per element. No Python, no shuffle beyond the target join."""
    draws = targets.select(
        "vec_id",
        _rank_key(seed, "off").alias("_h"),
        (
            F.lit(lo)
            + (F.lit(hi) - F.lit(lo))
            * _uniform01(F.lit(str(seed)), F.lit("val"), F.col("vec_id"))
        )
        .cast("float")
        .alias("_nv"),
    )
    d = F.size("embedding")
    offset = (F.col("_h") % d).cast("int")
    modified = F.transform(
        "embedding",
        lambda x, i: F.when(
            ((i - offset + d) % d) < F.lit(SPAN), F.col("_nv")
        ).otherwise(x),
    )
    return (
        emb.join(draws, on="vec_id", how="left")
        .withColumn(
            "embedding",
            F.when(F.col("_h").isNotNull(), modified).otherwise(F.col("embedding")),
        )
        .drop("_h", "_nv")
    )


def random_delete(emb: DataFrame, p: float, seed: int = 42) -> DataFrame:
    """W6 deletion (``roubust/roubust.py:76-97``): keep exactly
    ``n − ceil(n·p)`` rows, chosen by hash order (the reference keeps a
    uniform sample of that size — see SURVEY W6 note on its
    keep-count semantics)."""
    return take_ranked(
        emb, lambda n: n - int(math.ceil(n * p)), _rank_key(seed, "dele")
    )


def adaptive_delete(emb: DataFrame, ai: DataFrame, p: float) -> DataFrame:
    """W2 adaptive deletion (``adaptive_dele``,
    ``watermarking.py:430-443``): drop the top ``ceil(n·p)`` rows by
    accessibility index (the attacker removes the most likely
    carriers). ``ai`` is ``(vec_id, ai)``.

    Rows of ``emb`` with no ``ai`` entry (an AI snapshot older than an
    insertion attack, say) are KEPT — the attacker can't rank what it
    has no score for. NULL AI scores rank last (never removed while
    scored rows remain), matching the desc-nulls-last window order."""
    remove = int(math.ceil(emb.count() * p))
    removed = take_ranked(
        ai, lambda _: remove, F.col("ai"), descending=True
    ).select("vec_id")
    return emb.join(removed, on="vec_id", how="left_anti")


def modify_targets(emb: DataFrame, p: float, seed: int = 42) -> DataFrame:
    """The ``ceil(n·p)`` hash-chosen vec_ids that :func:`random_modify`
    rewrites under the same (p, seed) — the attacked-row set, exposed
    so impact studies (A13) can treat them as carriers."""
    return take_ranked(
        emb.select("vec_id"),
        lambda n: int(math.ceil(n * p)),
        _rank_key(seed, "modi"),
    )


def random_modify(emb: DataFrame, p: float, seed: int = 42) -> DataFrame:
    """C8 modification (``random_modify``, ``roubust/roubust.py:132-156``,
    ``tabularMark.py:192-219``): :func:`_overwrite_span` on the
    :func:`modify_targets` rows, the value drawn from the global
    [min, max] of the embedding values."""
    _, lo, hi = _embedding_stats(emb)
    return _overwrite_span(emb, modify_targets(emb, p, seed), lo, hi, seed)


def adaptive_modify(
    emb: DataFrame, ai: DataFrame, p: float, seed: int = 42
) -> DataFrame:
    """W2 modification (``adaptive_modify``, ``roubust/roubust.py:99-130``):
    the :func:`random_modify` rewrite on the top ``ceil(n·p)`` rows by
    AI (NULL AI ranks last)."""
    n, lo, hi = _embedding_stats(emb)
    modify = int(math.ceil(n * p))
    targets = take_ranked(
        ai, lambda _: modify, F.col("ai"), descending=True
    ).select("vec_id")
    return _overwrite_span(emb, targets, lo, hi, seed)


def gaussian_insertion(
    emb: DataFrame,
    count: Callable[[int], int],
    seed: int = 42,
) -> DataFrame:
    """P14+SO2 insertion attack (``generate_vector`` +
    ``adaptive_insertion``, ``roubust/roubust.py:185-208``): append
    ``count(n)`` synthetic rows (``n`` the row count; a fixed-size
    caller ignores it) drawn ~ N(col_mean, col_std) per dimension.

    Per-dim stats and ``n`` come from one ``posexplode_outer``
    aggregation (null or empty embeddings land in the ``dim IS NULL``
    group, which counts towards ``n`` only); the synthetic rows are
    built natively — ``transform`` over the dim sequence with
    Box-Muller gaussians from keyed hashes. New rows get ids above
    ``INSERTED_ID_BASE`` (the reference loses identity; we keep it
    explicit).
    """
    stats = (
        emb.select(F.posexplode_outer("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.avg("v").alias("mean"), F.stddev_pop("v").alias("std"), F.count("*").alias("n")
        )
        .orderBy("dim")  # nulls first
        .collect()
    )
    # a row has one dim 0, or is in the null group
    n = sum(r["n"] for r in stats if r["dim"] in (None, 0))
    stats = [r for r in stats if r["dim"] is not None]
    d = len(stats)
    means = F.array(*[F.lit(float(r["mean"])) for r in stats])
    stds = F.array(*[F.lit(float(r["std"])) for r in stats])

    spark = emb.sparkSession
    new_rows = spark.range(count(n)).select(
        (F.col("id") + F.lit(INSERTED_ID_BASE)).alias("vec_id")
    )

    def gauss(i: Column) -> Column:
        u1 = _uniform01(F.lit(str(seed)), F.lit("g1"), F.col("vec_id"), i)
        u2 = _uniform01(F.lit(str(seed)), F.lit("g2"), F.col("vec_id"), i)
        return F.sqrt(-2.0 * F.log(u1)) * F.cos(2.0 * math.pi * u2)

    embedding = F.transform(
        F.sequence(F.lit(0), F.lit(d - 1)),
        lambda i: (
            F.element_at(means, i + 1) + F.element_at(stds, i + 1) * gauss(i)
        ).cast("float"),
    )
    new_rows = new_rows.withColumn("embedding", embedding)
    base = emb.select("vec_id", "embedding")
    return base.unionByName(new_rows)
