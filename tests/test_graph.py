import numpy as np
from pyspark.sql import functions as F

from vector_database_watermarking_spark.operators import graph, knn


def test_bidirectional_counts_symmetry(spark, sf_dir):
    """Sum of mutual-edge counts must be even-consistent: each mutual
    pair contributes 1 to both endpoints."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = knn.knn_edges(emb, k=5).cache()
    bidir = graph.bidirectional_edge_counts(edges, emb)
    total = bidir.agg(F.sum("bidir_edges")).collect()[0][0]
    # count mutual pairs directly
    e = {(r["src"], r["dst"]) for r in edges.select("src", "dst").collect()}
    mutual_pairs = sum(1 for (a, b) in e if (b, a) in e)
    assert total == mutual_pairs
    edges.unpersist()


def test_edge_count_histogram_single_pass(spark, sf_dir):
    """G7 histogram: ratios sum to 1, counts match a direct groupBy,
    and the denominator comes from a window over the aggregated
    histogram — no separate count() job (single scan of the input)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = knn.knn_edges(emb, k=5)
    bidir = graph.bidirectional_edge_counts(edges, emb)
    hist = graph.edge_count_histogram(bidir)
    rows = hist.collect()
    assert abs(sum(r["ratio"] for r in rows) - 1.0) < 1e-12
    direct = {
        r["bidir_edges"]: r["count"]
        for r in bidir.groupBy("bidir_edges").count().collect()
    }
    assert {r["bidir_edges"]: r["n_nodes"] for r in rows} == direct
    total = sum(direct.values())
    for r in rows:
        assert r["ratio"] == r["n_nodes"] / total


def test_accessibility_index_zero_mean(spark, sf_dir):
    """AI is a linear combination of z-scores → population mean ≈ 0."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = knn.knn_edges(emb, k=5)
    ai = graph.accessibility_index(edges, emb)
    rows = ai.collect()
    vals = np.array([r["ai"] for r in rows])
    assert abs(vals.mean()) < 1e-9
    assert len(rows) == emb.count()


def test_connected_components_on_tiny_graph(spark):
    edges = spark.createDataFrame(
        [(0, 1, 1.0, 1), (1, 2, 1.0, 1), (3, 4, 1.0, 1)],
        ["src", "dst", "dist", "rank"],
    )
    nodes = spark.createDataFrame([(i,) for i in range(6)], ["vec_id"])
    comp = {r["vec_id"]: r["component"] for r in graph.connected_components(edges, nodes).collect()}
    assert comp[0] == comp[1] == comp[2] == 0
    assert comp[3] == comp[4] == 3
    assert comp[5] == 5


def test_connected_components_tier_equivalence(spark, monkeypatch):
    """The driver union-find tier and the distributed label-propagation
    loop must label identically (component = min reachable id) — the
    scale tier is forced by zeroing the shared broadcast cap."""
    import random

    from vector_database_watermarking_spark.operators import knn

    rng = random.Random(7)
    edge_rows = sorted({(rng.randrange(40), rng.randrange(40)) for _ in range(45)})
    edges = spark.createDataFrame(edge_rows, ["src", "dst"])
    nodes = spark.createDataFrame([(i,) for i in range(40)], ["vec_id"])
    fast = sorted(map(tuple, graph.connected_components(edges, nodes).collect()))
    monkeypatch.setattr(knn, "MAX_BROADCAST_ROWS", 0)
    slow = sorted(map(tuple, graph.connected_components(edges, nodes).collect()))
    assert fast == slow


def test_connected_components_star_matches_union_find(spark):
    """Large-star/small-star must produce the same min-id labeling as
    the union-find ground truth on random graphs AND on a long chain
    (the adversarial case for O(diameter) algorithms)."""
    import random

    rng = random.Random(11)
    cases = [
        sorted({(rng.randrange(60), rng.randrange(60)) for _ in range(70)}),
        [(i, i + 1) for i in range(5, 45)],  # 40-node chain, min inside
        [(2, 9), (9, 4), (50, 51)],
    ]
    for edge_rows in cases:
        edge_rows = [(a, b) for a, b in edge_rows if a != b]
        node_ids = sorted({n for e in edge_rows for n in e} | {0, 99})
        edges = spark.createDataFrame(edge_rows, ["src", "dst"])
        nodes = spark.createDataFrame([(i,) for i in node_ids], ["vec_id"])
        expected = dict(graph.union_find_labels(edge_rows))
        got = {
            r["vec_id"]: r["component"]
            for r in graph.connected_components_star(edges, nodes).collect()
        }
        for n in node_ids:
            assert got[n] == expected.get(n, n), (n, got[n], expected.get(n, n))


def test_hidden_nodes_fraction(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = knn.knn_edges(emb, k=5)
    qc = knn.query_counts(edges, emb)
    hidden = graph.hidden_nodes(qc, ratio=0.1)
    n = emb.count()
    rows = hidden.collect()
    assert len(rows) == int(n * 0.1)
    # hidden nodes have the smallest query counts
    max_hidden = max(r["query_count"] for r in rows)
    others = {r["vec_id"]: r["query_count"] for r in qc.collect()}
    hidden_ids = {r["vec_id"] for r in rows}
    non_hidden_min = min(c for v, c in others.items() if v not in hidden_ids)
    assert max_hidden <= non_hidden_min
    # exact parity with the rank-based definition: first int(n*ratio)
    # rows ordered by (query_count, vec_id)
    expected = {
        v for v, _ in sorted(others.items(), key=lambda kv: (kv[1], kv[0]))[: int(n * 0.1)]
    }
    assert hidden_ids == expected


def test_hidden_nodes_no_global_window(spark, sf_dir):
    """The W4 selection must not sort the whole relation through one
    task: any Window in the plan is partitioned (boundary tie-band
    only), never an empty-partition global window."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = knn.knn_edges(emb, k=5)
    qc = knn.query_counts(edges, emb)
    hidden = graph.hidden_nodes(qc, ratio=0.1)
    plan = hidden._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition(" in line.lower():
            # partitioned spec renders as windowspecdefinition(col, ...);
            # a global window would have no partition column before the
            # ordering spec
            assert "windowspecdefinition(query_count" in line.lower(), plan


def test_accessibility_index_duplicate_edges_no_fanout(spark, sf_dir):
    from vector_database_watermarking_spark.operators import knn
    from vector_database_watermarking_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    edges = knn.knn_edges(emb, k=3).select("src", "dst", "dist")
    clean = graph.accessibility_index(edges, emb).orderBy("vec_id").collect()
    # duplicating every edge row must leave both per-node metrics as
    # they were: the mutual count is duplicate-safe by construction,
    # and the average sees every distance exactly twice
    dup = edges.unionByName(edges)
    doubled = graph.accessibility_index(dup, emb).orderBy("vec_id").collect()
    assert len(clean) == len(doubled) == 50
    for a, b in zip(clean, doubled):
        assert a["vec_id"] == b["vec_id"]
        assert b["bidir_edges"] == a["bidir_edges"], (a, b)
        if a["avg_edge_len"] is not None:
            assert abs(b["avg_edge_len"] - a["avg_edge_len"]) < 1e-12


def test_pagerank_mass_and_exact_tier_parity(spark, sf_dir):
    from vector_database_watermarking_spark.operators import graph, knn
    from vector_database_watermarking_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    edges = knn.knn_edges(emb, k=10).persist()
    n = emb.count()
    fl = graph.pagerank(edges, emb, damping=0.85, iters=3)
    ex = graph.pagerank_exact(edges, emb, k=10, iters=3)
    # rank mass is conserved (every node has out-degree k, no dangling)
    assert abs(fl.agg(F.sum("pr")).head()[0] - 1.0) < 1e-9
    assert abs(ex.agg(F.sum("pr")).head()[0] - 1.0) < 1e-9
    # the integer formulation computes the same ranks as the float one
    j = {r["vec_id"]: (r["pr"], r["pr2"]) for r in fl.join(
        ex.select("vec_id", F.col("pr").alias("pr2")), on="vec_id"
    ).collect()}
    assert len(j) == n
    assert all(abs(a - b) < 1e-12 for a, b in j.values())
    # integer tier is partitioning-invariant EXACTLY
    again = {
        r["vec_id"]: r["pr_scaled"]
        for r in graph.pagerank_exact(
            edges.repartition(13), emb, k=10, iters=3
        ).collect()
    }
    first = {r["vec_id"]: r["pr_scaled"] for r in ex.collect()}
    assert again == first
    edges.unpersist()


def test_triangle_counts_brute_force_parity(spark):
    """Triangle counts via degree-ordered wedges must equal the brute
    force enumeration on a hand-made graph (two triangles sharing an
    edge, one pendant, one isolate)."""
    from itertools import combinations

    from vector_database_watermarking_spark.operators.graph import triangle_counts

    #   0-1, 1-2, 0-2   (triangle A)
    #   1-3, 2-3        (triangle B = 1,2,3)
    #   3-4             (pendant), 5 isolated
    und = [(0, 1), (1, 2), (0, 2), (1, 3), (2, 3), (3, 4)]
    directed = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(directed, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(6)], "vec_id long")
    got = {
        r["vec_id"]: (r["degree"], r["n_triangles"], r["clustering"])
        for r in triangle_counts(edges, nodes).collect()
    }

    adj = {i: set() for i in range(6)}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    for n in range(6):
        tri = sum(
            1 for x, y in combinations(sorted(adj[n]), 2) if y in adj[x]
        )
        d = len(adj[n])
        coeff = round(2.0 * tri / (d * (d - 1)), 6) if d >= 2 else 0.0
        assert got[n] == (d, tri, coeff), (n, got[n], (d, tri, coeff))
    # global count: triangles {0,1,2} and {1,2,3}
    assert sum(v[1] for v in got.values()) == 6  # 2 triangles × 3 nodes


def test_triangle_counts_ignores_one_way_edges(spark):
    """Only MUTUAL pairs form the undirected graph: one-way kNN edges
    must not create triangles."""
    from vector_database_watermarking_spark.operators.graph import triangle_counts

    directed = [(0, 1), (1, 0), (1, 2), (2, 1), (0, 2)]  # 0→2 one-way
    edges = spark.createDataFrame(directed, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(3)], "vec_id long")
    out = triangle_counts(edges, nodes).collect()
    assert all(r["n_triangles"] == 0 for r in out)
    assert {r["vec_id"]: r["degree"] for r in out} == {0: 1, 1: 2, 2: 1}


def test_k_core_matches_bruteforce_and_tiers(spark, monkeypatch):
    """k-core on a hand-built graph: triangle+tail — the tail peels
    off, the triangle survives at k=2; driver and distributed tiers
    agree. Duplicate edges count once on both tiers: the repeated
    4→5/5→4 edge must not keep the tail's degree at 2."""
    from vector_database_watermarking_spark.operators import knn as knn_mod

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    sym = edges + [(b, a) for a, b in edges]
    e = spark.createDataFrame(sym, "src long, dst long")
    dup = spark.createDataFrame(sym + [(4, 5), (5, 4), (1, 2)], "src long, dst long")
    want = {1: 2, 2: 2, 3: 2}  # 4-5 tail peeled, triangle stays
    for cap in (knn_mod.MAX_BROADCAST_ROWS, 2):  # driver, then distributed
        monkeypatch.setattr(knn_mod, "MAX_BROADCAST_ROWS", cap)
        for g in (e, dup):
            out = {r["vec_id"]: r["core_degree"] for r in graph.k_core(g, k=2).collect()}
            assert out == want, (cap, g is dup)
            # k above the max degree empties the core
            assert graph.k_core(g, k=4).count() == 0


def test_mutual_edges_match_reverse_semi_join(spark, sf_dir):
    """Optimization round 13: the one-pass canonical-pair mutual
    graph must equal the reverse-semi-join formulation it replaced —
    on the real kNN edge table AND on a crafted table with one-way
    edges and duplicated rows."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = knn.knn_edges(emb, k=5).select("src", "dst").localCheckpoint(eager=True)
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    old_mutual = {
        (r["src"], r["dst"])
        for r in e.join(rev, on=["src", "dst"], how="left_semi").collect()
    }
    new_mutual = [
        (r["src"], r["dst"]) for r in graph.mutual_edges(e).collect()
    ]
    assert len(new_mutual) == len(set(new_mutual))
    assert set(new_mutual) == old_mutual
    old_und = {
        (r["src"], r["dst"])
        for r in e.join(rev, on=["src", "dst"], how="left_semi")
        .filter(F.col("src") < F.col("dst"))
        .collect()
    }
    new_und = {(r["a"], r["b"]) for r in graph.mutual_undirected(e).collect()}
    assert new_und == old_und

    # crafted multigraph: (1,2) mutual, (3,4) one-way, (5,6) mutual but
    # duplicated on one side — the duplicate must not change the pair set
    rows = [(1, 2), (2, 1), (3, 4), (5, 6), (5, 6), (6, 5)]
    m = spark.createDataFrame(rows, "src long, dst long")
    got = {(r["a"], r["b"]) for r in graph.mutual_undirected(m).collect()}
    assert got == {(1, 2), (5, 6)}
    # a one-way duplicate must NOT appear mutual
    one_way_dup = spark.createDataFrame(
        [(7, 8), (7, 8)], "src long, dst long"
    )
    assert graph.mutual_undirected(one_way_dup).count() == 0


# float64 tolerance for ``ai`` and ``avg_edge_len``: each z-score sums
# at most a few thousand float64 terms (relative error ~ n·eps ≈ 1e-13
# at eps = 2.2e-16); 1e-9 keeps a wide margin yet is orders of magnitude
# below the ~1e-2 shift any one-off mutual count or dropped edge row
# causes
AI_TOL = 1e-9


def _reference_accessibility(edge_rows, node_ids):
    """``{node: (bidir_edges, avg_edge_len, ai)}`` from collected
    ``(src, dst, dist)`` rows, in plain Python/NumPy: mutuality is read
    off the SET of directed pairs (self-loops excluded), the average
    over every out-edge row, z-scores with population std skipping
    nodes without out-edges."""
    pairs = {(s, d) for s, d, _ in edge_rows}
    bidir = {u: 0 for u in node_ids}
    for s, d in pairs:
        if s != d and (d, s) in pairs:
            bidir[s] += 1
    dists = {u: [] for u in node_ids}
    for s, _, w in edge_rows:
        dists[s].append(w)
    avg = {u: float(np.mean(v)) if v else None for u, v in dists.items()}
    e = np.array([bidir[u] for u in node_ids], dtype=np.float64)
    d = np.array([a for a in avg.values() if a is not None], dtype=np.float64)
    return {
        u: (
            bidir[u],
            avg[u],
            None
            if avg[u] is None
            else 0.5 * (avg[u] - d.mean()) / d.std()
            - 0.5 * (bidir[u] - e.mean()) / e.std(),
        )
        for u in node_ids
    }


def _assert_matches_reference(edges, nodes):
    edge_rows = [(r["src"], r["dst"], r["dist"]) for r in edges.collect()]
    node_ids = [r["vec_id"] for r in nodes.collect()]
    want = _reference_accessibility(edge_rows, node_ids)
    got = {
        r["vec_id"]: (r["bidir_edges"], r["avg_edge_len"], r["ai"])
        for r in graph.accessibility_index(edges, nodes).collect()
    }
    bidir = {
        r["vec_id"]: r["bidir_edges"]
        for r in graph.bidirectional_edge_counts(edges, nodes).collect()
    }
    assert set(got) == set(bidir) == set(want)
    for u, (w_bidir, w_avg, w_ai) in want.items():
        g_bidir, g_avg, g_ai = got[u]
        assert g_bidir == bidir[u] == w_bidir, (u, got[u], bidir[u], want[u])
        if w_avg is None:
            assert g_avg is None and g_ai is None, (u, got[u])
        else:
            assert abs(g_avg - w_avg) <= AI_TOL, (u, got[u], want[u])
            assert abs(g_ai - w_ai) <= AI_TOL, (u, got[u], want[u])
    return want


def test_accessibility_matches_reference_on_knn_edges(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = knn.knn_edges(emb, k=5).select("src", "dst", "dist")
    edges = edges.localCheckpoint(eager=True)
    want = _assert_matches_reference(edges, emb.select("vec_id"))
    assert any(b > 0 for b, _, _ in want.values())


def test_accessibility_matches_reference_on_crafted_edges(spark):
    """Self-loop (0,0), one-way edge 1→2, mutual pair (3,4) whose 3→4
    row is duplicated, node 5 with edges only into the others, and an
    isolated node 6. Self-loops count 0 and the duplicate must not fake
    mutuality for anyone."""
    rows = [
        (0, 0, 0.5),
        (0, 1, 1.0),
        (1, 2, 1.0),
        (3, 4, 2.0),
        (3, 4, 2.0),
        (4, 3, 2.0),
        (5, 0, 3.0),
        (5, 3, 1.5),
    ]
    edges = spark.createDataFrame(rows, "src long, dst long, dist double")
    nodes = spark.createDataFrame([(i,) for i in range(7)], "vec_id long")
    want = _assert_matches_reference(edges, nodes)
    assert {u: b for u, (b, _, _) in want.items()} == {
        0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 0, 6: 0
    }
