"""Round-6 batch-2 operators: deterministic k-means refinement,
class rebalancing, MAD outliers, EWMA frames, bucketed joins."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from vector_database_watermarking_spark.operators import clustering


@pytest.fixture(scope="module")
def spark():
    from vector_database_watermarking_spark.session import get_spark

    return get_spark("round6b_tests")


SF = "/root/testdata/sf0.001"


def _lloyd_numpy(X: np.ndarray, ids: np.ndarray, order: np.ndarray, k: int, iters: int):
    """Reference Lloyd with the module's exact rational-centroid rule:
    xq = floor(x*1e4 + 0.5); centroid = (sum, count); dist compared as
    (c·x − s)² integer numerator over c². Returns final assignment."""
    xq = np.floor(X.astype(np.float64) * 10000 + 0.5).astype(np.int64)
    cents = [(xq[i].copy(), 1) for i in order[:k]]

    def assign():
        best = np.zeros(len(xq), dtype=np.int64)
        bestd = np.full(len(xq), np.inf)
        for j, (s, c) in enumerate(cents):
            a = ((c * xq - s).astype(np.float64) ** 2).sum(axis=1)
            d = a / float(c * c)
            take = d < bestd  # strict: ties keep the lower index
            best[take] = j
            bestd[take] = d[take]
        return best

    lab = assign()
    for _ in range(iters - 1):
        new = []
        for j, old in enumerate(cents):
            m = lab == j
            if m.any():
                new.append((xq[m].sum(axis=0), int(m.sum())))
            else:
                new.append(old)
        cents = new
        lab = assign()
    return lab


def test_kmeans_refine_matches_numpy_reference(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    # init order: hash60('km_'||id) asc, ties by id — recompute in python
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    order = np.lexsort((ids, np.array([h60(f"km_{i}") for i in ids])))
    ref = _lloyd_numpy(X, ids, order, k=8, iters=2)
    got = clustering.kmeans_refine(emb, n_clusters=8, iters=2)
    got_map = {r["vec_id"]: r["cluster"] for r in got.select("vec_id", "cluster").collect()}
    for i, vid in enumerate(ids):
        assert got_map[vid] == ref[i]


def test_kmeans_refine_mean_tier_same_plan_shape(spark):
    """The overflow-free scale tier partitions all rows into the same
    number of clusters and never yields a null assignment."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = clustering.kmeans_refine(emb, n_clusters=8, iters=2, exact=False)
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cluster").isNull().cast("int")).alias("nulls"),
        F.countDistinct("cluster").alias("k"),
    ).collect()[0]
    assert agg["n"] == emb.count()
    assert agg["nulls"] == 0
    assert agg["k"] == 8


def test_kmeans_refine_empty_cluster_keeps_centroid(spark):
    """A cluster whose members all migrate keeps its previous centroid
    (no crash, k preserved): 4 clusters over 6 near-identical points
    plus 2 outliers exercises the COALESCE path."""
    pts = [(i, [0.1 + 0.0001 * i] * 4) for i in range(6)]
    pts += [(6, [0.4] * 4), (7, [-0.4] * 4)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    out = clustering.kmeans_refine(df, n_clusters=4, iters=3)
    assert out.count() == 8
    assert out.filter(F.col("cluster").isNull()).count() == 0


def test_rebalance_classes_exact_quota_per_class(spark):
    """Every class lands on exactly max_class_count rows; copies are
    contiguous 1..copies per (class, key); base rows all survive."""
    from vector_database_watermarking_spark.operators.sampling import (
        rebalance_classes,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    m = docs.groupBy("lang").count().agg(F.max("count")).collect()[0][0]
    out = rebalance_classes(docs, class_col="lang", key_col="doc_id", seed=42)
    per_class = {r["lang"]: r["n"] for r in
                 out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(per_class.values()) == {m}
    # replica indices are exactly 1..copies for every source row
    bad = out.groupBy("lang", "doc_id", "copies").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("copy_idx").alias("lo"),
        F.max("copy_idx").alias("hi"),
    ).filter(
        (F.col("n") != F.col("copies"))
        | (F.col("lo") != 1)
        | (F.col("hi") != F.col("copies"))
    )
    assert bad.count() == 0
    # no source row dropped
    assert out.select("doc_id").distinct().count() == docs.count()


def test_rebalance_classes_partitioning_invariant(spark):
    """The copy assignment is a pure function of (seed, key): a
    repartitioned input yields the identical multiset."""
    from vector_database_watermarking_spark.operators.sampling import (
        rebalance_classes,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    a = rebalance_classes(docs, class_col="lang", key_col="doc_id", seed=7)
    b = rebalance_classes(docs.repartition(17), class_col="lang",
                          key_col="doc_id", seed=7)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_robust_outliers_planted(spark):
    """A planted extreme value is flagged; the bulk of a tight group
    is not; median/MAD match a numpy reference exactly."""
    from vector_database_watermarking_spark.operators.stats import robust_outliers

    rows = [(i, "g", 100 + (i % 7)) for i in range(40)] + [(40, "g", 100000)]
    df = spark.createDataFrame(rows, "id long, grp string, v long")
    out = robust_outliers(df, value_col="v", group_col="grp", k=3).collect()
    vals = np.array([100 + (i % 7) for i in range(40)] + [100000], dtype=float)
    med = np.median(vals)
    mad = np.median(np.abs(vals - med))
    by_id = {r["id"]: r for r in out}
    assert by_id[40]["is_outlier"] is True
    assert by_id[0]["med"] == med and by_id[0]["mad"] == mad
    flagged = {i for i, r in by_id.items() if r["is_outlier"]}
    expected = {i for i, v in enumerate(vals) if abs(v - med) > 3 * mad}
    assert flagged == expected


def test_robust_outliers_approx_tier_same_shape(spark):
    from vector_database_watermarking_spark.operators.stats import robust_outliers

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    out = robust_outliers(docs, "n_chars", "source", k=3, exact=False)
    assert out.count() == docs.count()
    assert set(out.columns) == {"source", "doc_id", "n_chars", "med", "mad", "is_outlier"}


def test_ewma_matches_numpy_fold(spark):
    from vector_database_watermarking_spark.operators.temporal import ewma_last

    ev = spark.read.parquet(f"{SF}/events.parquet")
    got = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in ewma_last(ev, "user_id", "ts", "value", "event_id").collect()
    }
    pdf = ev.select("user_id", "ts", "event_id", "value").toPandas()
    pdf = pdf.sort_values(["user_id", "ts", "event_id"])
    for uid, g in pdf.groupby("user_id"):
        e = None
        for x in g["value"]:
            e = x if e is None else (e + x) / 2
        n, ewma = got[uid]
        assert n == len(g)
        assert ewma == e  # bit-exact: same fold order, same IEEE ops


def test_ewma_partitioning_invariant(spark):
    from vector_database_watermarking_spark.operators.temporal import ewma_last

    ev = spark.read.parquet(f"{SF}/events.parquet")
    a = ewma_last(ev, "user_id", "ts", "value", "event_id")
    b = ewma_last(ev.repartition(13), "user_id", "ts", "value", "event_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_bucketed_table_join_no_exchange(spark):
    """The registered rel_bucketed_join layout: both sides re-read
    from bucketed storage join without any Exchange feeding the join."""
    from vector_database_watermarking_spark.operators.maintenance import (
        bucketed_table,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet").withColumnRenamed(
        "o_custkey", "custkey"
    )
    c = spark.read.parquet(f"{SF}/customer.parquet").withColumnRenamed(
        "c_custkey", "custkey"
    )
    ot = bucketed_table(spark, o, "t_bj_orders", "custkey", 8)
    ct = bucketed_table(spark, c, "t_bj_customer", "custkey", 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = ot.join(ct, "custkey")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan.split("SortMergeJoin")[1], plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS t_bj_orders")
        spark.sql("DROP TABLE IF EXISTS t_bj_customer")


def test_quantile_normalize_ties_and_bounds(spark):
    from vector_database_watermarking_spark.operators.stats import quantile_normalize

    rows = [(0, "g", 10), (1, "g", 20), (2, "g", 20), (3, "g", 30), (4, "h", 5)]
    df = spark.createDataFrame(rows, "id long, grp string, v long")
    out = {r["id"]: r["pr_e6"] for r in quantile_normalize(df, "v", "grp").collect()}
    # ANSI percent_rank over 4 rows: (rank-1)/3; ties share rank 2
    assert out[0] == 0
    assert out[1] == out[2] == round(1 / 3 * 1e6)
    assert out[3] == 1000000
    assert out[4] == 0  # single-row group


def test_mixture_plan_hand_computed(spark):
    from vector_database_watermarking_spark.operators.sampling import mixture_plan

    rows = [("a", 100), ("a", 150), ("b", 4000), ("c", 50)]
    df = spark.createDataFrame(rows, "source string, n long")
    out = {
        r["source"]: r
        for r in mixture_plan(
            df, "source", F.col("n"),
            weights_e6={"a": 500000, "b": 250000}, budget_tokens=1000,
        ).collect()
    }
    # a: avail 250, target 500 -> 2 epochs, rate 2.0
    assert out["a"]["target_tokens"] == 500
    assert out["a"]["epochs"] == 2
    assert out["a"]["rate_e6"] == 2000000
    # b: avail 4000, target 250 -> 1 epoch, rate 0.0625
    assert out["b"]["target_tokens"] == 250
    assert out["b"]["epochs"] == 1
    assert out["b"]["rate_e6"] == 62500
    # c: absent from recipe -> zeroed
    assert out["c"]["target_tokens"] == 0 and out["c"]["epochs"] == 0


def test_table_diff_classifies_hand_built_delta(spark):
    from vector_database_watermarking_spark.operators.merge import table_diff

    a = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20), (3, "z", 30), (4, None, 40)],
        "k long, s string, v long",
    )
    b = spark.createDataFrame(
        [(2, "y", 20), (3, "z2", 30), (4, "w", 40), (5, "new", 50)],
        "k long, s string, v long",
    )
    out = {r["k"]: r for r in table_diff(a, b, ["k"], ["s", "v"]).collect()}
    assert set(out) == {1, 3, 4, 5}  # 2 unchanged -> dropped
    assert out[1]["status"] == "removed" and out[1]["changed_mask"] == 0
    assert out[5]["status"] == "added" and out[5]["n_changed_cols"] == 0
    assert out[3]["status"] == "changed" and out[3]["changed_mask"] == 1
    # NULL -> 'w' is a null-safe change on column s (bit 0)
    assert out[4]["status"] == "changed" and out[4]["changed_mask"] == 1


def test_dq_audit_counts_planted_violations(spark):
    from vector_database_watermarking_spark.operators.audit import (
        duplicate_keys,
        null_violations,
        orphan_foreign_keys,
    )

    child = spark.createDataFrame(
        [(1, 10), (2, None), (2, 20), (3, 99)], "k long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    nulls = null_violations(child, ["fk"], "child").collect()[0]
    assert nulls["violations"] == 1
    dups = duplicate_keys(child, ["k"], "child").collect()[0]
    assert dups["violations"] == 1  # one row in excess of unique k=2
    orph = orphan_foreign_keys(child, parent, "fk", "pk", "child", "parent")
    assert orph.collect()[0]["violations"] == 1  # fk=99; NULL not counted


def test_kmeans_arrow_tier_bit_identical(spark):
    """assign_impl='arrow' must reproduce the native exact tier's
    assignment row-for-row (same integer numerators mod 2^64, same
    double division, same tie rule)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = clustering.kmeans_refine(emb, 8, 2).select("vec_id", "cluster")
    b = clustering.kmeans_refine(emb, 8, 2, assign_impl="arrow").select(
        "vec_id", "cluster"
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_kmeans_arrow_rejects_mean_tier(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError):
        clustering.kmeans_refine(emb, 8, 2, exact=False, assign_impl="arrow")


def test_running_concurrency_hand_built(spark):
    """Known interval stack: closed-interval semantics, start-before-
    end ties, point intervals never dip the count."""
    from vector_database_watermarking_spark.operators.temporal import (
        running_concurrency,
    )

    iv = spark.createDataFrame(
        [
            ("2024-01-01 10:00:00", "2024-01-01 11:00:00"),
            ("2024-01-01 10:30:00", "2024-01-01 12:00:00"),
            ("2024-01-01 11:00:00", "2024-01-01 11:30:00"),  # starts as #1 ends
            ("2024-01-01 13:00:00", "2024-01-01 13:00:00"),  # point interval
        ],
        "s string, e string",
    ).select(
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    out = running_concurrency(iv, "s", "e", bucket="hour")
    peak = out.agg(F.max("concurrency")).collect()[0][0]
    assert peak == 3  # at 11:00 the new start applies before the end
    assert out.agg(F.min("concurrency")).collect()[0][0] == 0
    # boundary conservation: sum of deltas is zero
    assert out.agg(F.sum("delta")).collect()[0][0] == 0


def test_running_concurrency_matches_single_sort(spark):
    """The hour-bucketed two-level prefix sum equals the naive global
    running sum on real session intervals (and is partitioning
    invariant)."""
    from vector_database_watermarking_spark.operators.temporal import (
        running_concurrency,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    iv = ev.groupBy("user_id").agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    two = running_concurrency(iv.repartition(11), "s", "e", bucket="hour")
    w = Window.orderBy(F.col("ts"), F.col("delta").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    naive = (
        iv.select(F.col("s").alias("ts"), F.lit(1).alias("delta"))
        .unionByName(iv.select(F.col("e").alias("ts"), F.lit(-1).alias("delta")))
        .withColumn("concurrency", F.sum("delta").over(w).cast("long"))
    )
    # compare the deterministic per-(ts,delta) max (per-row values among
    # identical boundaries are permutation-dependent by design)
    agg = lambda df: df.groupBy("ts", "delta").agg(
        F.max("concurrency").alias("m"), F.count(F.lit(1)).alias("n")
    )
    assert agg(two).exceptAll(agg(naive)).count() == 0
    assert agg(naive).exceptAll(agg(two)).count() == 0


def test_wau_bitmap_equals_count_distinct_tier(spark):
    from vector_database_watermarking_spark.operators.temporal import (
        rolling_active_users,
        rolling_active_users_bitmap,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    a = rolling_active_users(ev, window_days=7)
    b = rolling_active_users_bitmap(ev, window_days=7)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_wau_bitmap_block_boundaries(spark):
    """Users straddling a 64-block boundary (63, 64) and the same user
    on two days count correctly."""
    from vector_database_watermarking_spark.operators.temporal import (
        rolling_active_users_bitmap,
    )

    rows = [
        (63, "2024-01-01 10:00:00"),
        (64, "2024-01-01 11:00:00"),
        (63, "2024-01-02 10:00:00"),
        (127, "2024-01-02 11:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    out = {str(r["day"]): (r["wau"], r["dau"]) for r in
           rolling_active_users_bitmap(ev).collect()}
    assert out["2024-01-01"] == (2, 2)
    assert out["2024-01-02"] == (3, 2)  # 63,64 carried + 127 new; dau 63,127


def test_interval_union_swallowed_interval(spark):
    """The running-max rule: an interval entirely inside an earlier
    one must not split the island (the lag(end) formulation fails
    this); touching intervals merge; disjoint ones split."""
    from vector_database_watermarking_spark.operators.temporal import (
        interval_union,
    )

    rows = [
        ("k", "2024-01-01 00:00:00", "2024-01-10 00:00:00"),
        ("k", "2024-01-02 00:00:00", "2024-01-03 00:00:00"),  # swallowed
        ("k", "2024-01-10 00:00:00", "2024-01-12 00:00:00"),  # touching
        ("k", "2024-01-20 00:00:00", "2024-01-21 00:00:00"),  # disjoint
        ("j", "2024-01-05 00:00:00", "2024-01-06 00:00:00"),
    ]
    iv = spark.createDataFrame(rows, "key string, s string, e string").select(
        "key",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    out = interval_union(iv, "key", "s", "e").collect()
    k = sorted(
        [r for r in out if r["key"] == "k"], key=lambda r: r["island_id"]
    )
    assert len(k) == 2
    assert str(k[0]["union_start"]).startswith("2024-01-01")
    assert str(k[0]["union_end"]).startswith("2024-01-12")
    assert k[0]["n_intervals"] == 3
    assert k[1]["n_intervals"] == 1
    assert len([r for r in out if r["key"] == "j"]) == 1


# ---------------------------------------------------------------- hypothesis
from hypothesis import given, settings
from hypothesis import strategies as st

_intervals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2000),
        st.integers(min_value=0, max_value=500),
    ),
    min_size=1,
    max_size=25,
)


@given(_intervals)
@settings(max_examples=20, deadline=None)
def _check_interval_union_property(raw):
    """interval_union must match a brute-force union of closed integer
    intervals: same islands, same per-island interval counts."""
    spark = _check_interval_union_property._spark
    iv = [(s, s + d) for s, d in raw]
    df = spark.createDataFrame(
        [("k", s, e) for s, e in iv],
        "key string, s long, e long",
    ).select(
        "key",
        F.timestamp_seconds("s").alias("s"),
        F.timestamp_seconds("e").alias("e"),
    )
    from vector_database_watermarking_spark.operators.temporal import (
        interval_union,
    )

    got = sorted(
        (
            int(r["union_start"].timestamp()),
            int(r["union_end"].timestamp()),
            r["n_intervals"],
        )
        for r in interval_union(df, "key", "s", "e").collect()
    )
    # brute force: sort, merge closed intervals (touching merges)
    want = []
    for s, e in sorted(iv):
        if want and s <= want[-1][1]:
            want[-1][1] = max(want[-1][1], e)
            want[-1][2] += 1
        else:
            want.append([s, e, 1])
    assert got == [tuple(w) for w in want]


def test_interval_union_matches_bruteforce_property(spark):
    _check_interval_union_property._spark = spark
    _check_interval_union_property()


@given(_intervals)
@settings(max_examples=20, deadline=None)
def _check_concurrency_property(raw):
    """Peak running concurrency must equal the brute-force sweep over
    closed intervals (starts before ends at equal instants)."""
    spark = _check_concurrency_property._spark
    iv = [(s, s + d) for s, d in raw]
    df = spark.createDataFrame(iv, "s long, e long").select(
        F.timestamp_seconds("s").alias("s"),
        F.timestamp_seconds("e").alias("e"),
    )
    from vector_database_watermarking_spark.operators.temporal import (
        running_concurrency,
    )

    got = (
        running_concurrency(df, "s", "e", bucket="minute")
        .agg(F.max("concurrency"))
        .collect()[0][0]
    )
    events = sorted(
        [(s, 1) for s, _ in iv] + [(e, -1) for _, e in iv],
        key=lambda p: (p[0], -p[1]),
    )
    run = peak = 0
    for _, d in events:
        run += d
        peak = max(peak, run)
    assert got == peak


def test_concurrency_matches_bruteforce_property(spark):
    _check_concurrency_property._spark = spark
    _check_concurrency_property()


@given(
    st.lists(
        st.tuples(st.integers(0, 400), st.sampled_from("abcd")),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=15, deadline=None)
def _check_rebalance_property(rows):
    """Every class lands on exactly max-class-count rows and replica
    indices are 1..copies per source row, for arbitrary class skew."""
    spark = _check_rebalance_property._spark
    from collections import Counter

    from vector_database_watermarking_spark.operators.sampling import (
        rebalance_classes,
    )

    df = spark.createDataFrame(rows, "k long, cls string")
    out = rebalance_classes(df, class_col="cls", key_col="k", seed=3).collect()
    counts = Counter(r["cls"] for r in out)
    m = max(Counter(c for _, c in rows).values())
    assert set(counts.values()) == {m}
    per_row = Counter((r["cls"], r["k"]) for r in out)
    for r in out:
        assert 1 <= r["copy_idx"] <= r["copies"]
        assert per_row[(r["cls"], r["k"])] == r["copies"]


def test_rebalance_quota_property(spark):
    _check_rebalance_property._spark = spark
    _check_rebalance_property()


def test_cluster_split_has_zero_leakage_by_construction(spark):
    """Every near-dup cluster is split-homogeneous, and the leakage
    audit over the resulting assignment finds zero cross-split
    near-dup pairs."""
    from vector_database_watermarking_spark.registry import QUERIES

    out = QUERIES["ext_cluster_split"].fn(spark, SF)
    hetero = (
        out.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
    )
    assert hetero.count() == 0
    # cross-split near-dup pairs: members of one cluster in two splits
    pairs = out.alias("a").join(
        out.alias("b"),
        (F.col("a.cluster_id") == F.col("b.cluster_id"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.split") != F.col("b.split")),
    )
    assert pairs.count() == 0


def test_mixture_execute_expected_token_budget(spark):
    """Executing a plan lands within 3% of its target token budget per
    weighted source, and zero-weight sources vanish."""
    from vector_database_watermarking_spark.operators.sampling import (
        mixture_execute,
        mixture_plan,
    )
    from vector_database_watermarking_spark.operators.text import token_count

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    weights = {"src0": 500000, "src1": 500000}
    plan = mixture_plan(
        docs, "source", token_count("text"), weights, budget_tokens=200_000
    )
    out = mixture_execute(
        docs.select("doc_id", "source", token_count("text").alias("n_tok")),
        plan,
        source_col="source",
        key_col="doc_id",
    )
    got = {
        r["source"]: r["t"]
        for r in out.groupBy("source").agg(F.sum("n_tok").alias("t")).collect()
    }
    assert set(got) == {"src0", "src1"}
    for src in got:
        assert abs(got[src] - 100_000) / 100_000 < 0.03
    # determinism under repartitioning
    out2 = mixture_execute(
        docs.repartition(13).select("doc_id", "source", token_count("text").alias("n_tok")),
        plan, source_col="source", key_col="doc_id",
    )
    assert out.exceptAll(out2).count() == 0 and out2.exceptAll(out).count() == 0


def test_quantile_normalize_sketch_tier_error_bound(spark):
    """The binned scale tier stays within 2% rank units of the exact
    percent_rank on real data (and is a no-sort plan: no per-group
    window in the physical plan)."""
    from vector_database_watermarking_spark.operators.stats import (
        quantile_normalize,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    exact = quantile_normalize(docs, "n_chars", "source").select(
        "doc_id", F.col("pr_e6").alias("p_exact")
    )
    approx = quantile_normalize(docs, "n_chars", "source", exact=False).select(
        "doc_id", F.col("pr_e6").alias("p_approx")
    )
    j = exact.join(approx, "doc_id")
    max_err = j.agg(
        F.max(F.abs(F.col("p_exact") - F.col("p_approx")))
    ).collect()[0][0]
    # grid error is O(1/group size): on the tiny fixture groups
    # (~50 docs) a couple of rank steps dominate; at the tier's
    # actual scale (huge groups) the bound tightens to the sketch
    # accuracy. Allow 2 rank steps of the smallest group + 1%.
    min_group = (
        docs.groupBy("source").count().agg(F.min("count")).collect()[0][0]
    )
    assert max_err <= 2 * 1000000 // min_group + 10000
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "WindowExec" not in plan or "percent_rank" not in plan


def test_winsorize_hand_computed(spark):
    from vector_database_watermarking_spark.operators.stats import winsorize_iqr

    rows = [(i, "g", v) for i, v in enumerate([1, 2, 3, 4, 100])]
    df = spark.createDataFrame(rows, "id long, grp string, v long")
    out = {r["id"]: r for r in winsorize_iqr(df, "v", "grp", k=1.5).collect()}
    # q1 = 2, q3 = 4, IQR = 2 -> fences [-1, 7]
    assert out[0]["lo"] == -1.0 and out[0]["hi"] == 7.0
    assert out[4]["clipped"] == 7.0  # 100 clipped to the fence
    assert out[0]["clipped"] == 1.0  # in-range values unchanged


@given(st.lists(st.integers(0, 10000), min_size=2, max_size=40))
@settings(max_examples=15, deadline=None)
def _check_winsorize_property(vals):
    """Fences and clipped values must match numpy's linear-interpolated
    quartiles exactly (dyadic arithmetic on integer inputs)."""
    spark = _check_winsorize_property._spark
    from vector_database_watermarking_spark.operators.stats import winsorize_iqr

    df = spark.createDataFrame(
        [(i, "g", v) for i, v in enumerate(vals)], "id long, grp string, v long"
    )
    out = {r["id"]: r for r in winsorize_iqr(df, "v", "grp", k=1.5).collect()}
    q1 = np.percentile(vals, 25, method="linear")
    q3 = np.percentile(vals, 75, method="linear")
    lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
    for i, v in enumerate(vals):
        assert out[i]["lo"] == lo and out[i]["hi"] == hi
        assert out[i]["clipped"] == min(max(float(v), lo), hi)


def test_winsorize_matches_numpy_property(spark):
    _check_winsorize_property._spark = spark
    _check_winsorize_property()


# ---------------------------------------------------------------- hierarchy


def test_bom_rollup_hand_computed(spark):
    """Forest: root 1 with children 2,3 (3 has child 4); root 5 alone.
    Costs 10/20/30/40/50 cents."""
    from vector_database_watermarking_spark.operators.hierarchy import bom_rollup

    nodes = spark.createDataFrame(
        [(1, None, 10), (2, 1, 20), (3, 1, 30), (4, 3, 40), (5, None, 50)],
        "key long, parent_key long, cost_cents long",
    )
    out = {r["root"]: r for r in bom_rollup(nodes).collect()}
    assert out[1]["n_parts"] == 4
    assert out[1]["total_cost_cents"] == 100
    assert out[1]["max_depth"] == 2
    assert out[5]["n_parts"] == 1 and out[5]["max_depth"] == 0


def test_bom_rollup_loop_equals_native_recursive_cte(spark, sf_dir):
    """The frontier-iteration tier and Spark's native WITH RECURSIVE
    tier must agree row-for-row on the derived parts forest."""
    from vector_database_watermarking_spark.operators.hierarchy import (
        bom_rollup,
        derive_bom_edges,
    )
    from vector_database_watermarking_spark.sources.tables import load_table

    nodes = derive_bom_edges(load_table(spark, sf_dir, "part"))
    loop = {tuple(r) for r in bom_rollup(nodes, impl="loop").collect()}
    sql = {tuple(r) for r in bom_rollup(nodes, impl="sql").collect()}
    assert loop == sql and len(loop) == 8


def test_bom_rollup_cycle_guard(spark):
    """A detached parent cycle is unreachable from any root and drops
    out of the walk (documented); a chain deeper than max_depth fails
    fast with the guard error instead of looping."""
    import pytest

    from vector_database_watermarking_spark.operators.hierarchy import (
        bom_rollup,
        resolve_roots,
    )

    cyc = spark.createDataFrame(
        [(1, None, 1), (2, 3, 1), (3, 2, 1)],
        "key long, parent_key long, cost_cents long",
    )
    out = {r["root"]: r for r in bom_rollup(cyc).collect()}
    assert set(out) == {1} and out[1]["n_parts"] == 1

    chain = spark.createDataFrame(
        [(1, None, 1), (2, 1, 1), (3, 2, 1), (4, 3, 1)],
        "key long, parent_key long, cost_cents long",
    )
    with pytest.raises(RuntimeError, match="max_depth"):
        resolve_roots(chain, carry=["cost_cents"], max_depth=2)
