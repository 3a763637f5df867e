"""The benchmark's workloads: set-up, one op each, timed from outside
through the package's public API, and the check of every op's output.

Every workload watermarks a generated collection with the same
L=21 watermark and key seed 20 at strength 0.7 (the reference's
``compare/roubust.py`` configuration).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

WATERMARK = "001010010101001010010"
KEY_SEED = 20
STRENGTH = 0.7
TH = 1.0
ATTACK_P = 0.5


@dataclass(frozen=True)
class Workload:
    name: str
    n: int
    smoke_n: int
    # each is called as (spark, input_path, work_dir)
    prepare: Callable  # set-up the ops rely on
    op: Callable  # the timed op; returns the handle for the check
    # (spark, handle, work_dir) -> extracted watermarks; runs outside the timed region
    check: Callable


def _scan(spark, inp: str, work: str):
    from vector_database_watermarking_spark import api

    api.load_data(spark, inp).count()


def _embed_tvp_op(spark, inp: str, work: str):
    from vector_database_watermarking_spark import api

    data = api.load_data(spark, inp)
    wm = api.watermark_embedding_by_ai(
        data, strength=STRENGTH, th=TH, watermark=WATERMARK, random_seed=KEY_SEED
    )[0]
    wm.write.mode("overwrite").parquet(os.path.join(work, "watermarked.parquet"))


def _embed_tvp_check(spark, handle, work: str) -> list[str]:
    from vector_database_watermarking_spark import api

    copy = api.load_data(spark, os.path.join(work, "watermarked.parquet"))
    return [api.watermark_extraction(copy, len(WATERMARK), random_seed=KEY_SEED)]


def _suspect(work: str) -> str:
    return os.path.join(work, "suspect.parquet")


def _rs_watermark(spark, inp: str, work: str):
    """The data owner's RS embed, written out as the suspect copy."""
    from vector_database_watermarking_spark import api

    wm = api.watermark_embedding(
        api.load_data(spark, inp), STRENGTH, watermark=WATERMARK, random_seed=KEY_SEED
    )[0]
    wm.write.mode("overwrite").parquet(_suspect(work))


def _audit_attacked_op(spark, inp: str, work: str):
    from vector_database_watermarking_spark import api

    suspect = api.load_data(spark, _suspect(work))
    extracted = []
    for attack in (api.random_dele, api.random_modify, api.adaptive_insertion):
        attacked = attack(suspect, ATTACK_P, seed=KEY_SEED)
        extracted.append(
            api.watermark_extraction(attacked, len(WATERMARK), random_seed=KEY_SEED)
        )
    return extracted


def _audit_attacked_check(spark, extracted, work: str) -> list[str]:
    return extracted


WORKLOADS = {
    w.name: w
    for w in [
        Workload("embed_tvp", 3_000, 300, _scan, _embed_tvp_op, _embed_tvp_check),
        Workload(
            "audit_attacked", 8_000, 4_000,
            _rs_watermark, _audit_attacked_op, _audit_attacked_check,
        ),
    ]
}
