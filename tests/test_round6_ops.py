"""Differential tests for the round-6 breadth operators: multi-source
BFS, RA link prediction, SCD2 history, RAG chunking, exact heavy
hitters, and the FastSS spelling-variant join — each checked against a
brute-force pure-Python reference on inputs that exercise the paths
the graded fixtures can't (multi-partition sketches with forced
prunes, unreachable nodes, fully-deleted keys, adversarial
variant-blocking corner cases).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from vector_database_watermarking_spark.operators import dedup, graph, merge, packing, text

from tests.plan_checks import optimized_classes


# ------------------------------------------------------------- BFS hops


def _brute_bfs(edges: set[tuple[int, int]], seeds: set[int], max_hops: int):
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        nxt = {d for (s, d) in edges if s in frontier} - dist.keys()
        if not nxt:
            break
        for n in nxt:
            dist[n] = h
        frontier = nxt
    return dist


def test_bfs_hops_matches_brute_force(spark):
    rng = random.Random(11)
    edges = set()
    for _ in range(300):
        a, b = rng.randrange(60), rng.randrange(60)
        if a != b:
            edges.add((a, b))
            edges.add((b, a))
    # two isolated nodes (61, 62) must never appear in the output
    nodes = sorted({a for a, _ in edges} | {61, 62})
    seeds = {0, 7, 13}
    e_df = spark.createDataFrame(sorted(edges), ["src", "dst"])
    s_df = spark.createDataFrame([(s,) for s in sorted(seeds)], ["vec_id"])
    got = {
        r["vec_id"]: r["hops"]
        for r in graph.bfs_hops(e_df, s_df, max_hops=3).collect()
    }
    assert got == _brute_bfs(edges, seeds, 3)
    assert 61 not in got and 62 not in got


def test_bfs_hops_bounded_lineage(spark):
    """Pins the BFS loop's lineage mechanism (VERDICT r13 #6): every
    level IS eagerly localCheckpointed inside the loop (graph.bfs_hops
    — ``nxt.localCheckpoint(eager=True)``), so the returned union
    re-derives nothing: its plan is a union of materialized RDD scans
    — one per emitted level — with no joins left anywhere. Dropping
    the per-level checkpoint would put the frontier⋈edges joins back
    into this plan and fail here; a deep BFS would then re-derive
    level h from levels 1..h-1 on recompute."""
    e = [(i, i + 1) for i in range(8)] + [(i + 1, i) for i in range(8)]
    e_df = spark.createDataFrame(e, ["src", "dst"])
    s_df = spark.createDataFrame([(0,)], ["vec_id"])
    out = graph.bfs_hops(e_df, s_df, max_hops=5)
    classes = optimized_classes(out)
    assert "Join" not in classes, classes
    # seed level + 5 hop levels, each a checkpointed RDD scan
    assert classes.count("LogicalRDD") == 6, classes
    got = {r["vec_id"]: r["hops"] for r in out.collect()}
    assert got == {i: i for i in range(6)}


def test_bfs_hops_early_exit_single_component(spark):
    """A path graph from the seed: hop labels are exact positions and
    the cap truncates the tail."""
    e = [(i, i + 1) for i in range(10)] + [(i + 1, i) for i in range(10)]
    e_df = spark.createDataFrame(e, ["src", "dst"])
    s_df = spark.createDataFrame([(0,)], ["vec_id"])
    got = {
        r["vec_id"]: r["hops"]
        for r in graph.bfs_hops(e_df, s_df, max_hops=4).collect()
    }
    assert got == {i: i for i in range(5)}


# ----------------------------------------------------- link prediction


def test_link_prediction_ra_matches_brute_force(spark):
    rng = random.Random(23)
    und = set()
    for _ in range(120):
        a, b = rng.randrange(30), rng.randrange(30)
        if a != b:
            und.add((min(a, b), max(a, b)))
    sym = sorted(und | {(b, a) for a, b in und})
    deg: dict[int, int] = {}
    for a, _ in sym:
        deg[a] = deg.get(a, 0) + 1
    scores: dict[tuple[int, int], list[int]] = {}
    for z in deg:
        nbrs = sorted(d for s, d in sym if s == z)
        for i, u in enumerate(nbrs):
            for v in nbrs[i + 1 :]:
                scores.setdefault((u, v), []).append(1000000 // deg[z])
    expected = sorted(
        (
            (u, v, len(t), sum(t))
            for (u, v), t in scores.items()
            if len(t) >= 2 and (u, v) not in und
        ),
        key=lambda r: (-r[3], r[0], r[1]),
    )[:10]
    e_df = spark.createDataFrame(sym, ["src", "dst"])
    got = [
        (r["u"], r["v"], r["common_neighbors"], r["score_e6"])
        for r in graph.link_prediction_ra(e_df, min_common=2, top_k=10)
        .orderBy("rank")
        .collect()
    ]
    assert got == expected


# --------------------------------------------------------- SCD2 history


def test_scd2_history_intervals_and_current(spark):
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
    )
    ch = spark.createDataFrame(
        [
            (1, 10, "update", "a2"),
            (1, 20, "delete", None),
            (1, 30, "insert", "a3"),
            (2, 15, "delete", None),
            (4, 5, "insert", "d1"),
        ],
        ["doc_id", "seq", "op", "text"],
    )
    hist = {
        (r["doc_id"], r["version"]): r
        for r in merge.scd2_history(base, ch).collect()
    }
    # key 1: base → update@10 → (delete@20 closes) → insert@30
    assert hist[(1, 1)]["valid_from_seq"] == 0
    assert hist[(1, 1)]["valid_to_seq"] == 10
    assert hist[(1, 2)]["valid_to_seq"] == 20 and hist[(1, 2)]["text"] == "a2"
    assert hist[(1, 3)]["valid_to_seq"] is None
    assert hist[(1, 3)]["is_current"] == 1 and hist[(1, 3)]["text"] == "a3"
    # key 2: deleted, no current version
    assert hist[(2, 1)]["valid_to_seq"] == 15
    assert hist[(2, 1)]["is_current"] == 0
    # key 3: untouched base row stays open
    assert hist[(3, 1)]["valid_to_seq"] is None and hist[(3, 1)]["is_current"] == 1
    # key 4: change-only key opens at its own seq
    assert hist[(4, 1)]["valid_from_seq"] == 5 and hist[(4, 1)]["is_current"] == 1
    assert len(hist) == 6


def test_scd2_current_rows_match_apply_changes(spark, sf_dir):
    """The is_current slice of the history IS the MERGE snapshot."""
    from vector_database_watermarking_spark.registry_more import _merge_inputs

    base, ch = _merge_inputs(spark, sf_dir)
    snap = {
        r["doc_id"]: (r["text"], r["lang"], r["source"])
        for r in merge.apply_changes(base, ch).collect()
    }
    cur = {
        r["doc_id"]: (r["text"], r["lang"], r["source"])
        for r in merge.scd2_history(base, ch)
        .filter(F.col("is_current") == 1)
        .collect()
    }
    assert cur == snap


# ------------------------------------------------------------- chunking


def test_chunk_documents_covers_text_exactly(spark):
    rng = random.Random(7)
    size, stride = 20, 15
    texts = [
        "".join(rng.choice("abcdef ") for _ in range(n))
        for n in [1, 5, 19, 20, 21, 35, 36, 100, 101]
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    out = packing.chunk_documents(docs, size=size, stride=stride).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(texts):
        chunks = sorted(by_doc[i], key=lambda r: r["chunk_idx"])
        n = len(t)
        expect_n = 1 if n <= size else -(-(n - size) // stride) + 1
        assert len(chunks) == expect_n
        for j, c in enumerate(chunks):
            assert c["chunk_idx"] == j and c["chunk_start"] == j * stride
            assert c["chunk_text"] == t[j * stride : j * stride + size]
            assert c["chunk_len"] == len(c["chunk_text"])
        # the final chunk reaches the end of the document
        last = chunks[-1]
        assert last["chunk_start"] + last["chunk_len"] == n


def test_chunk_documents_skips_empty(spark):
    docs = spark.createDataFrame([(0, ""), (1, "xy")], ["doc_id", "text"])
    rows = packing.chunk_documents(docs, size=4, stride=2).collect()
    assert [r["doc_id"] for r in rows] == [1]


# --------------------------------------------------------- heavy hitters


def test_heavy_hitters_exact_under_forced_prunes(spark):
    """Zipf-ish corpus across 7 partitions with capacity 5 — the MG
    sketch prunes constantly, yet the candidate union must retain
    every token above total/(capacity+1) and the rescan must emit
    exactly the full-aggregation answer."""
    rng = random.Random(3)
    words = [f"w{i}" for i in range(40)]

    def draw() -> str:
        p = rng.random()
        if p < 0.28:
            return words[0]
        if p < 0.42:
            return words[1]
        return words[rng.randrange(2, 40)]

    texts = [
        " ".join(draw() for _ in range(rng.randrange(5, 30)))
        for _ in range(200)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    ).repartition(7)
    cap = 5
    got = {
        r["tok"]: (r["n_occurrences"], r["total_tokens"])
        for r in text.heavy_hitters(docs, capacity=cap).collect()
    }
    counts: dict[str, int] = {}
    for t in texts:
        for w in t.split(" "):
            counts[w] = counts.get(w, 0) + 1
    total = sum(counts.values())
    expected = {
        w: (c, total) for w, c in counts.items() if c * (cap + 1) > total
    }
    assert got == expected
    assert expected  # the fixture must actually produce heavy hitters


# ------------------------------------------------------ spelling variants


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_spelling_variants_match_brute_force(spark):
    """Random short-alphabet vocabulary (dense distance-1 structure,
    plus classic blocking false-positives like transposition pairs
    sharing a deletion variant) vs all-pairs Levenshtein."""
    rng = random.Random(5)
    vocab = {
        "".join(rng.choice("ab") for _ in range(rng.randrange(2, 6)))
        for _ in range(60)
    }
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(sorted(vocab))], ["doc_id", "text"]
    )
    got = {
        (r["t1"], r["t2"]): (r["df1"], r["df2"])
        for r in dedup.spelling_variants(docs, min_len=2).collect()
    }
    keep = sorted(w for w in vocab if len(w) >= 2)
    expected = {
        (a, b): (1, 1)
        for i, a in enumerate(keep)
        for b in keep[i + 1 :]
        if _lev(a, b) == 1
    }
    assert got == expected
    assert expected  # dense fixture: distance-1 pairs must exist
    # and the blocking really faced transposition-style candidates
    assert any(_lev(a, b) == 2 for i, a in enumerate(keep) for b in keep[i + 1 :])


# ------------------------------------------------------- trailing spikes


def test_trailing_spikes_brute_force(spark):
    """Random daily series vs a pure-Python trailing-window z-test;
    the fixture is tuned to contain genuine spikes."""
    import datetime
    import math

    from vector_database_watermarking_spark.operators import temporal

    rng = random.Random(9)
    rows = []
    base = datetime.datetime(2025, 1, 1)
    series: dict[str, list[int]] = {}
    for key in ["a", "b"]:
        counts = [rng.randrange(8, 13) for _ in range(30)]
        counts[12] = 60  # injected spike
        counts[25] = 1   # dip (must NOT flag: one-sided test)
        series[key] = counts
        for d, c in enumerate(counts):
            day = base + datetime.timedelta(days=d)
            rows += [(len(rows) + i, day, key) for i in range(c)]
    ev = spark.createDataFrame(rows, ["event_id", "ts", "event_type"])
    got = {
        (r["key"], str(r["day"])): r["is_spike"]
        for r in temporal.trailing_spikes(ev, key_col="event_type").collect()
    }
    for key, counts in series.items():
        for d, x in enumerate(counts):
            trail = counts[max(0, d - 7) : d]
            n = len(trail)
            expect = 0
            if n >= 3:
                s, q = sum(trail), sum(v * v for v in trail)
                mean = s / n
                var = q / n - mean * mean
                expect = int(x > mean + 3 * math.sqrt(max(var, 0.0)))
            day = str((base + datetime.timedelta(days=d)).date())
            assert got[(key, day)] == expect, (key, day, x, trail)
    assert sum(got.values()) == 2  # exactly the two injected spikes


# ----------------------------------------------------- basket affinity


def test_basket_affinity_brute_force(spark):
    from vector_database_watermarking_spark.operators.stats import basket_affinity

    rng = random.Random(31)
    rows = []
    for b in range(50):
        for it in rng.sample(range(12), rng.randrange(1, 6)):
            rows.append((b, it))
            if rng.random() < 0.3:
                rows.append((b, it))  # duplicate lines must not inflate
    df = spark.createDataFrame(rows, ["bk", "it"])
    got = {
        (r["x"], r["y"]): (
            r["pair_baskets"], r["x_baskets"], r["y_baskets"], r["lift_e4"]
        )
        for r in basket_affinity(df, "bk", "it", min_support=2).collect()
    }
    baskets: dict[int, set] = {}
    for b, it in rows:
        baskets.setdefault(b, set()).add(it)
    nb = len(baskets)
    sup: dict[int, int] = {}
    pair: dict[tuple[int, int], int] = {}
    for items in baskets.values():
        for it in items:
            sup[it] = sup.get(it, 0) + 1
        s = sorted(items)
        for i, x in enumerate(s):
            for y in s[i + 1 :]:
                pair[(x, y)] = pair.get((x, y), 0) + 1
    expected = {
        (x, y): (c, sup[x], sup[y], (10000 * nb * c) // (sup[x] * sup[y]))
        for (x, y), c in pair.items()
        if c >= 2
    }
    assert got == expected and expected


# ------------------------------------------------- range-frame rolling


def test_rolling_range_frame_brute_force(spark, sf_dir):
    """The trailing-hour frame vs a brute per-user scan at fixture
    scale (includes same-timestamp peers via RANGE semantics)."""
    from vector_database_watermarking_spark.registry import QUERIES

    got = {
        r["event_id"]: (r["n_1h"], r["sum_1h_e6"])
        for r in QUERIES["rel_events_rolling_range"].fn(spark, sf_dir).collect()
    }
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "ts", "value")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    import math

    for rows in by_user.values():
        us = [(int(r["ts"].timestamp() * 1e6), r) for r in rows]
        for t, r in us:
            win = [
                math.floor(r2["value"] * 1e6 + 0.5)
                for t2, r2 in us
                if t - 3_600_000_000 <= t2 <= t
            ]
            assert got[r["event_id"]] == (len(win), sum(win))


# ------------------------------------------------------------ key skew


def test_key_skew_gini_brute_force(spark):
    """Histogram-collapsed Gini vs the textbook rank formula on a
    skewed key sample (ties across blocks included)."""
    from vector_database_watermarking_spark.operators.stats import key_skew

    rng = random.Random(17)
    keys = []
    for k in range(40):
        keys += [k] * (1 + min(rng.randrange(1, 30), rng.randrange(1, 30)))
    keys += [99] * 200  # hot key
    rng.shuffle(keys)
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    row = key_skew(df, "k", label="k").collect()[0]
    counts = sorted(
        [keys.count(k) for k in set(keys)]
    )
    n, s = len(counts), sum(counts)
    sw = sum((i + 1) * x for i, x in enumerate(counts))
    assert row["n_keys"] == n and row["n_rows"] == s
    assert row["max_n"] == max(counts)
    assert row["top_share_e6"] == (1000000 * max(counts)) // s
    assert row["gini_e6"] == ((2 * sw - (n + 1) * s) * 1000000) // (n * s)
    assert row["gini_e6"] > 300000  # the fixture is genuinely skewed


def test_key_skew_uniform_is_zero(spark):
    from vector_database_watermarking_spark.operators.stats import key_skew

    df = spark.createDataFrame([(k % 10,) for k in range(50)], ["k"])
    row = key_skew(df, "k").collect()[0]
    assert row["gini_e6"] == 0 and row["max_n"] == 5


# ------------------------------------------------------------- DAU/WAU


def test_rolling_active_users_brute_force(spark):
    import datetime

    from vector_database_watermarking_spark.operators import temporal

    rng = random.Random(29)
    base = datetime.datetime(2025, 3, 1)
    rows = []
    for i in range(800):
        rows.append(
            (
                i,
                base + datetime.timedelta(days=rng.randrange(20), hours=rng.randrange(24)),
                rng.randrange(40),
            )
        )
    ev = spark.createDataFrame(rows, ["event_id", "ts", "user_id"])
    got = {
        str(r["day"]): (r["wau"], r["dau"])
        for r in temporal.rolling_active_users(ev, window_days=7).collect()
    }
    pairs = {(r[2], r[1].date()) for r in rows}
    days = sorted({d for _, d in pairs})
    expected = {}
    for d in days:
        wau = {u for u, d2 in pairs if 0 <= (d - d2).days <= 6}
        dau = {u for u, d2 in pairs if d2 == d}
        expected[str(d)] = (len(wau), len(dau))
    assert got == expected
