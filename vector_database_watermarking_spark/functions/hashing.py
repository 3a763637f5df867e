"""Keyed hashing and content-derived ids (SURVEY §2.2 P1/P2/P7).

Reference semantics: ``hash_re`` (``/root/reference/watermarking.py:20-27``,
clone ``SCPW.py:64-71``) interprets the *entire* 128-bit md5 digest as a
Python int and mods by a small modulus. ``mod`` of the full digest is not
``mod`` of a truncated prefix, so (per SURVEY §4.2 / P1 note) the engine
defines two tiers:

- **native** ``hash60``: the first 15 hex digits (60 bits) of md5, as a
  bigint — computable exactly both by Spark (``conv(substring(md5(x),
  1,15),16,10)``, JVM-side, codegen'd) and by the DuckDB oracle
  (``CAST('0x'||substr(md5(x),1,15) AS BIGINT)``). Used for every
  oracle-checked operator.
- **compat** ``compat_md5_mod``: full-128-bit mod, plain Python,
  used inside pandas UDFs of the reference-parity watermark pipelines.

Content-derived vector id (P2, ``watermarking.py:39-50``): the reference
takes the leading decimal digit of each selected dimension. SIFT values
are integers in [0, 218]; our fixture embeddings are floats in (-0.5,
0.5), where "leading digit of int(|x|)" is always 0. The engine
therefore scales: digit = first char of ``floor(|x| * 100)`` — same
spirit (content-derived, survives row reordering), non-degenerate on
any real-valued data. Documented deviation.
"""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------- native tier


def hash60(col: Column | str) -> Column:
    """60-bit md5-prefix hash of a string column (P1 native tier)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash_mod(col: Column | str, m: int) -> Column:
    """``hash60(col) % m`` — always non-negative (hash60 < 2^60)."""
    return hash60(col) % F.lit(m)


def _digit(elem: Column) -> Column:
    """Leading decimal digit of floor(|x| * 100), as a 1-char string."""
    return F.substring(
        F.floor(F.abs(elem) * F.lit(100.0)).cast("long").cast("string"), 1, 1
    )


def content_id(embedding: Column | str, dims: list[int]) -> Column:
    """P2: content-derived vector id (``watermarking.py:39-50``).

    Like the reference, uses ``dims[:-1]`` — the last key dim is reserved
    as the embedding fallback position, not part of the id.
    """
    e = F.col(embedding) if isinstance(embedding, str) else embedding
    parts = [_digit(F.element_at(e, d + 1)) for d in dims[:-1]]
    return F.concat(*parts)


def embed_position(id_col: Column, d: int) -> Column:
    """Dimension index (0-based) where the watermark bit lives:
    ``hash(id) % d`` (``watermarking.py:56``). The native tier does not
    skip key dims (the skip-loop is reference-compat detail handled in
    the pandas-UDF tier)."""
    return hash_mod(id_col, d).cast("int")


def parity_hidden_bit(embedding: Column | str, id_col: Column, d: int) -> Column:
    """P7-style parity bit, fully native (SCPW's extraction at
    ``/root/reference/SCPW.py:120-128``: ``md5(value) % 2 XOR (pos % 2)``).

    The value is canonicalized through ``floor(|x| * 1e6)`` (a bigint)
    before hashing so Spark and DuckDB hash identical strings —
    float-to-string rendering differs between engines, integer rendering
    does not.
    """
    e = F.col(embedding) if isinstance(embedding, str) else embedding
    pos = embed_position(id_col, d)
    value = F.element_at(e, pos + F.lit(1))
    value_key = F.floor(F.abs(value) * F.lit(1000000.0)).cast("long").cast("string")
    return (hash_mod(value_key, 2).cast("int")).bitwiseXOR(pos % 2)


def key_dims(d: int, seed: int, n: int = 10) -> list[int]:
    """Secret key dims: ``random.sample(range(d), n)`` under the seed
    (``watermarking.py:282``). Driver-side, CPython-stable; the seed IS
    the secret key (``watermarking.py:406-407``)."""
    return random.Random(seed).sample(range(d), n)


def first_dims(k: int) -> list[int]:
    """Id dims over the *first* ``k`` dimensions — the SCPW
    (``SCPW.py:73-84``) and TabularMark content id. The trailing entry
    is the sentinel that :func:`content_id` drops (``dims[:-1]``)."""
    return [*range(k), 0]


# ---------------------------------------------------------------- compat tier


def compat_md5_mod(s: str, m: int) -> int:
    """Reference-exact ``hash_re(x) % m`` (``watermarking.py:20-27``).
    For use inside pandas UDFs."""
    return compat_md5_int(s) % m


def compat_md5_int(s: str) -> int:
    """Full 128-bit md5 digest as int (``watermarking.py:20-27``)."""
    return int(hashlib.md5(str(s).encode("utf-8")).hexdigest(), 16)


# ------------------------------------------------------- DuckDB oracle SQL


def oracle_hash60(expr: str) -> str:
    """DuckDB SQL fragment computing exactly ``hash60(expr)``."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def oracle_hash_mod(expr: str, m: int) -> str:
    return f"({oracle_hash60(expr)} % {m})"


def oracle_content_id(embedding_expr: str, dims: list[int]) -> str:
    # CAST to DOUBLE before multiplying: DuckDB parses the literal as
    # DECIMAL and would otherwise multiply in float32, rounding
    # differently from Spark's double arithmetic.
    parts = [
        f"substr(CAST(CAST(floor(CAST(abs({embedding_expr}[{d + 1}]) AS DOUBLE) * 100.0) AS BIGINT) AS VARCHAR), 1, 1)"
        for d in dims[:-1]
    ]
    return "concat(" + ", ".join(parts) + ")"


def oracle_embed_position(id_expr: str, d: int) -> str:
    return f"CAST({oracle_hash_mod(id_expr, d)} AS INTEGER)"


def oracle_parity_hidden_bit(embedding_expr: str, id_expr: str, d: int) -> str:
    pos = oracle_embed_position(id_expr, d)
    value = f"{embedding_expr}[{pos} + 1]"
    value_key = f"CAST(CAST(floor(CAST(abs({value}) AS DOUBLE) * 1000000.0) AS BIGINT) AS VARCHAR)"
    return f"CAST(xor({oracle_hash_mod(value_key, 2)}, {pos} % 2) AS INTEGER)"
