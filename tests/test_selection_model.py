"""Model-based test for W1 carrier selection: the DataFrame logic in
``_select_by_ai`` must match an independent per-group Python
simulation of the reference semantics (``select_by_ai``,
``watermarking.py:203-246``): threshold at rank int(n·th) of the
AI-descending order; tier 1 takes passers in vec_id order up to the
deficit; tier 2 backfills non-passers in AI-descending order."""

import math

from pyspark.sql import functions as F

from vector_database_watermarking_spark.operators.graph import accessibility_index
from vector_database_watermarking_spark.operators.knn import knn_edges
from vector_database_watermarking_spark.watermark.tvp import (
    _select_by_ai,
    _selection_base,
)

WM = "10101"
SEED = 20


def model_select(rows, th):
    """rows: list of (vec_id, ai, deficit) for one group, any order."""
    rows = sorted(rows)  # vec_id order
    deficit = rows[0][2] if rows else 0
    by_ai = sorted(rows, key=lambda r: (-r[1], r[0]))
    n = len(rows)
    thr_idx = int(n * th) - 1
    thr_ai = by_ai[thr_idx][1] if thr_idx >= 0 else float("-inf")
    selected = []
    for vid, ai, _ in rows:  # data order
        if len(selected) >= deficit:
            break
        if ai >= thr_ai:
            selected.append(vid)
    if len(selected) < deficit:
        chosen = set(selected)
        for vid, ai, _ in by_ai:
            if len(selected) >= deficit:
                break
            if vid not in chosen:
                selected.append(vid)
    return set(selected)


def test_select_by_ai_matches_model(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    edges = knn_edges(emb.select("vec_id", "embedding"), k=10)
    ai = accessibility_index(edges, emb).select("vec_id", "ai")
    for th in (0.1, 0.5, 1.0):
        avail = _selection_base(emb, WM, SEED, 0.8).join(ai, on="vec_id")
        got = (
            _select_by_ai(avail, th)
            .select("group_id", "vec_id")
            .collect()
        )
        got_by_group = {}
        for r in got:
            got_by_group.setdefault(r["group_id"], set()).add(r["vec_id"])
        rows = avail.select("group_id", "vec_id", "ai", "deficit").collect()
        groups = {}
        for r in rows:
            groups.setdefault(r["group_id"], []).append(
                (r["vec_id"], r["ai"], r["deficit"])
            )
        for gid, grows in groups.items():
            expect = model_select(grows, th)
            assert got_by_group.get(gid, set()) == expect, (th, gid)


# (vec_id, group_id, hidden_bit, ai) — WM's group bits are 1 0 1 0 1.
# g0 agrees everywhere (n_avail = 0); g1 has 9 flippable rows (th=0.1
# leaves no threshold rank); g2 ties three rows at its th=0.5 rank and
# needs more carriers than pass the threshold (tier-2 backfill); g3's
# deficit exceeds its 3 flippable rows at strength 1.2 (the cap); g4
# is all ties.
CRAFTED = (
    [(i, 0, 1, 0.5) for i in range(4)]
    + [(10, 1, 0, 0.9)] + [(11 + i, 1, 1, 0.1 * (9 - i)) for i in range(9)]
    + [(27, 2, 0, 0.75), (21, 2, 0, 0.5), (25, 2, 0, 0.5), (23, 2, 0, 0.5),
       (26, 2, 0, 0.25), (22, 2, 0, 0.25)]
    + [(30, 3, 0, 0.5), (31, 3, 0, 0.5), (34, 3, 1, 0.125), (32, 3, 1, 0.5),
       (33, 3, 1, 0.875)]
    + [(40 + i, 4, 0, 0.5) for i in range(3)]
)


def test_select_by_ai_edge_cases_match_model(spark, monkeypatch):
    """The window-aggregate deficit and threshold against the model on
    a crafted table, with the deficit derived independently here."""
    from vector_database_watermarking_spark.watermark import tvp

    cls = spark.createDataFrame(
        [(v, f"id{v}", g, b) for v, g, b, _ in CRAFTED],
        "vec_id long, vid string, group_id int, hidden_bit int",
    )
    ai = spark.createDataFrame([(v, a) for v, _, _, a in CRAFTED], "vec_id long, ai double")
    monkeypatch.setattr(tvp, "classify_compat", lambda emb, L, seed: cls)
    hit = set()
    for strength in (0.8, 1.2):
        for th in (0.1, 0.5, 1.0):
            avail = _selection_base(cls, WM, SEED, strength).join(ai, on="vec_id")
            got = {}
            for r in _select_by_ai(avail, th).collect():
                got.setdefault(r["group_id"], set()).add(r["vec_id"])
            engine_deficit = {
                r["group_id"]: r["deficit"]
                for r in avail.select("group_id", "deficit").distinct().collect()
            }
            for gid in range(len(WM)):
                rows = [(v, b, a) for v, g, b, a in CRAFTED if g == gid]
                n_have = sum(b == int(WM[gid]) for _, b, _ in rows)
                flippable = [(v, a) for v, b, a in rows if b != int(WM[gid])]
                n_avail = len(flippable)
                need = math.ceil(strength * len(rows)) - n_have
                deficit = min(max(0, need), n_avail)
                assert engine_deficit.get(gid, 0) == deficit, (strength, th, gid)
                expect = model_select([(v, a, deficit) for v, a in flippable], th)
                assert got.get(gid, set()) == expect, (strength, th, gid)
                # which edge cases this group exercised
                ranked = sorted(a for _, a in flippable)[::-1]
                k = int(n_avail * th)
                if n_avail == 0:
                    hit.add("no_avail")
                elif k < 1:
                    hit.add("no_threshold_row")
                else:
                    if ranked.count(ranked[k - 1]) > 1:
                        hit.add("tie_at_threshold")
                    if deficit > sum(a >= ranked[k - 1] for a in ranked):
                        hit.add("backfill")
                if need > n_avail > 0:
                    hit.add("capped")
    assert hit == {"no_avail", "no_threshold_row", "tie_at_threshold", "backfill", "capped"}
