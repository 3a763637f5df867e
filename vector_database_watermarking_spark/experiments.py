"""Experiment harnesses (SURVEY C9/C10/A14): robustness grids and
utility-impact measurement.

Reference: ``strength_analysis``/``th_analysis``
(``/root/reference/roubust/roubust.py:226-304``), scheme comparison
(``compare/roubust.py:158-306``), impact (``impact/impact.py:70-171``).

The grid is driver-side orchestration of parameterized DAGs (SURVEY
§3.3). Unlike the reference — which rebuilds its HNSW index in every
cell (its dominant cost) — the loaded base table and the embedded
output are cached across attack proportions, and each cell reuses one
watermarked DataFrame.

Results come back as a DataFrame-able list of dicts; ``to_df`` writes
the grid as a table (the reference pickles nested dicts —
``roubust/roubust.py:262-263``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .operators import attacks
from .operators.grouping import ber
from .operators.knn import knn_edges
from .operators.graph import accessibility_index
from .watermark.scpw import scpw_embed, scpw_extract
from .watermark.tabularmark import tabularmark_embed, tabularmark_match_count
from .watermark.tvp import rs_embed, tvp_embed, tvp_extract

# SCPW compare-grid config (``compare/roubust.py:166-171``: top_k=20,
# strength=0.54, Standard_e=1.8, position=100). Two knobs adapt to the
# d=64 unit-scale fixture: position (the reference corpus has >100
# dims; any dim OUTSIDE the first-top_k id dims is equivalent — the
# reference's 100 > 20 encodes that same constraint, and a position
# inside the id dims would let the embedding corrupt its own content
# id), and σe (the reference's 1.8
# presumes SIFT-scale column variance; the scheme's own
# distribution-preserving construction requires σe ≤ 2σx, which 1.8
# violates on unit-scale data — None picks σe = σx, always valid and
# the same *relative* noise level). Neither affects deletion
# robustness, which is what the compare grid measures: BER under
# deletion is a property of the per-group majority margin.
SCPW_TOP_K = 20
SCPW_POSITION = 32  # outside the [0, top_k) id dims, < d=64
SCPW_STD_E = None


@dataclass
class RobustnessResult:
    scheme: str
    attack: str
    strength: float
    th: float
    p: float
    ber: float
    extracted: str = field(repr=False, default="")


def robustness_grid(
    emb: DataFrame,
    watermark: str,
    attack: str = "random_delete",
    scheme: str = "tvp",
    strengths: tuple[float, ...] = (0.7,),
    ths: tuple[float, ...] = (1.0,),
    ps: tuple[float, ...] = (0.1, 0.3, 0.5, 0.8),
    seed: int = 20,
    scpw_position: int | None = None,
) -> list[RobustnessResult]:
    """C10: embed once per (strength, th), attack per p, extract, BER.

    ``attack`` ∈ {random_delete, adaptive_delete, random_modify,
    adaptive_modify, insertion}. ``scpw_position`` overrides the
    fixture-default carrier dim (the d=64 default is 32; the 128-dim
    reference-geometry fixture uses the reference's own 100 —
    ``compare/roubust.py:247``).
    """
    pos = SCPW_POSITION if scpw_position is None else scpw_position
    L = len(watermark)
    emb = emb.cache()
    results: list[RobustnessResult] = []
    need_ai = attack.startswith("adaptive")
    for strength in strengths:
        for th in ths:
            if scheme == "tvp":
                wm_df, _ = tvp_embed(emb, watermark, strength, th, seed=seed)
            elif scheme == "rs":
                wm_df, _ = rs_embed(emb, watermark, strength, seed=seed)
            elif scheme == "scpw":
                wm_df, _ = scpw_embed(
                    emb,
                    watermark,
                    strength,
                    top_k=SCPW_TOP_K,
                    position=pos,
                    std_e=SCPW_STD_E,
                    seed=seed,
                )
            else:
                raise ValueError(f"unknown scheme {scheme}")
            wm_df = wm_df.cache()
            ai = None
            if need_ai:
                # the attacker recomputes AI on the (watermarked) data
                edges = knn_edges(wm_df.select("vec_id", "embedding"), k=10)
                ai = accessibility_index(edges, wm_df).select("vec_id", "ai").cache()
            for p in ps:
                attacked = _apply_attack(wm_df, attack, p, ai, seed)
                if scheme == "scpw":
                    extracted = scpw_extract(
                        attacked, L, top_k=SCPW_TOP_K, position=pos
                    )
                else:
                    extracted = tvp_extract(attacked, L, seed=seed)
                results.append(
                    RobustnessResult(
                        scheme, attack, strength, th, p, ber(watermark, extracted), extracted
                    )
                )
            wm_df.unpersist()
            if ai is not None:
                ai.unpersist()
    emb.unpersist()
    return results


def _apply_attack(
    wm_df: DataFrame, attack: str, p: float, ai: DataFrame | None, seed: int
) -> DataFrame:
    if attack == "random_delete":
        return attacks.random_delete(wm_df, p, seed=seed)
    if attack == "adaptive_delete":
        return attacks.adaptive_delete(wm_df, ai, p)
    if attack == "random_modify":
        return attacks.random_modify(wm_df, p, seed=seed)
    if attack == "adaptive_modify":
        return attacks.adaptive_modify(wm_df, ai, p, seed=seed)
    if attack == "insertion":
        return attacks.gaussian_insertion(
            wm_df.select("vec_id", "embedding"), lambda n: int(n * p), seed=seed
        )
    raise ValueError(f"unknown attack {attack}")


def to_df(spark: SparkSession, results: list[RobustnessResult]) -> DataFrame:
    return spark.createDataFrame(
        [
            (r.scheme, r.attack, r.strength, r.th, r.p, r.ber)
            for r in results
        ],
        "scheme string, attack string, strength double, th double, p double, ber double",
    )


def tabularmark_match_grid(
    emb: DataFrame,
    nw: int = 100,
    p_green: float = 4.0,
    k: int = 40,
    position: int = 45,
    ps: tuple[float, ...] = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8),
    seed: int = 20,
    attack: str = "random_delete",
) -> list[dict]:
    """TabularMark row of the compare grid (``compare/roubust.py:
    207-213`` deletion, ``:233-306`` modification): embed once (nw=100,
    p=4, dim=40 — the reference's config), attack per p, and record the
    MATCH PROPORTION LOST ``1 − matched/nw`` instead of BER
    (TabularMark's detection requires re-finding key rows by content
    id; the grid measures how the attack erodes that matching).
    Deletion: loss ≈ p (key rows deleted at the corpus rate; reference
    0.099 at p=0.1 up to 0.78 at p=0.8). Modification: loss ≈
    p·(k+span−1)/d — a modified key row loses its match only when the
    span-dim overwrite window overlaps its first-``k`` id dims
    (reference 0.0555 at p=0.1 up to 0.4115 at p=0.8 on the d=128 SIFT
    corpus, i.e. the 69/128 ≈ 0.54 geometric factor — reproducing it
    requires a d=128 fixture). position adapted like the SCPW row — it
    must lie OUTSIDE the first-``k`` content-id dims (the reference's
    100 > 40) or the green perturbation corrupts the key rows' own
    ids."""
    wm, keys = tabularmark_embed(emb, nw, p_green, k, position)
    # multi-consumer: the watermarked frame feeds every per-p attack
    wm = wm.localCheckpoint(eager=True)
    keys = keys.localCheckpoint(eager=True)
    out = []
    for p in ps:
        if attack == "random_modify":
            attacked = attacks.random_modify(wm, p, seed=seed)
        elif attack == "random_delete":
            attacked = attacks.random_delete(wm, p, seed=seed)
        else:
            raise ValueError(f"unknown attack {attack}")
        matched = tabularmark_match_count(attacked, keys, k)
        out.append(
            {
                "scheme": "tabularmark",
                "attack": attack,
                "p": p,
                "match_loss": round(1.0 - matched / nw, 4),
            }
        )
    return out


def utility_impact(
    emb: DataFrame,
    wm_df: DataFrame,
    carriers: DataFrame,
    k: int = 100,
) -> DataFrame:
    """C9 (``impact/impact.py:70-128``, ``test_erro.py:31-120``): build
    the kNN result before and after embedding; per-carrier missed/extra
    querying vectors (A13, averaged — see stats.carrier_impact)."""
    from .operators.stats import carrier_impact

    before = knn_edges(emb.select("vec_id", "embedding"), k=k)
    after = knn_edges(wm_df.select("vec_id", "embedding"), k=k)
    return carrier_impact(before, after, carriers)
