"""Additional operator queries: attack-impact metrics (A11/A12/A13),
source ops (S3), relational coverage (semi join, rollup,
sessionization), and the remaining composite pipelines (SCPW,
TabularMark, robustness grid) as rows-only checks.

Imported by ``registry.py`` alongside ``registry_ext``.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import (
    D,
    DIMS,
    K,
    QUERIES,
    SEED,
    _COS_RANK,
    _DIST_RANK,
    _ID,
    _components_oracle,
    _knn_cte,
    register,
)
from .sources.tables import load_table

# ---------------------------------------------------------------- A11/A12

# kNN of the full set and of the post-deletion survivor set, both as
# CTEs (the attack is the keyed-hash deletion, replayable in SQL).
_DELE_KEY = (
    "CAST('0x' || substr(md5(concat('42', '_dele_', CAST(vec_id AS VARCHAR))), 1, 15) AS BIGINT)"
)

_BEFORE_AFTER_CTE = f"""
WITH survivors AS (
  SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding, row_number() OVER (ORDER BY {_DELE_KEY}, vec_id) AS rn
    FROM embeddings
  ) WHERE rn <= (SELECT count(*) - CAST(ceil(count(*) * 0.3) AS BIGINT) FROM embeddings)
),
pairs_b AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
    list_sum(list_transform(range(1, {D + 1}),
      i -> (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
         * (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)))) AS dist_sq
  FROM embeddings a CROSS JOIN embeddings b WHERE a.vec_id <> b.vec_id
),
edges_b AS (
  SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY round_even(dist_sq * CAST(1000000.0 AS DOUBLE), 0), dst) AS rank
    FROM pairs_b) WHERE rank <= {K}
),
pairs_a AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
    list_sum(list_transform(range(1, {D + 1}),
      i -> (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
         * (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)))) AS dist_sq
  FROM survivors a CROSS JOIN survivors b WHERE a.vec_id <> b.vec_id
),
edges_a AS (
  SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY round_even(dist_sq * CAST(1000000.0 AS DOUBLE), 0), dst) AS rank
    FROM pairs_a) WHERE rank <= {K}
)
"""


def _attacked_edges(spark: SparkSession, sf_dir: str):
    from .operators import knn
    from .operators.attacks import random_delete

    emb = load_table(spark, sf_dir, "embeddings")
    before = knn.knn_edges(emb, k=K)
    survivors = random_delete(emb, 0.3, seed=42)
    after = knn.knn_edges(survivors, k=K)
    return before, after


@register(
    "a11_hit_rate",
    oracle=_BEFORE_AFTER_CTE
    + f"""
, sets AS (
  SELECT b.src,
         len(list_intersect(list(b.dst), any_value(a_l.dsts))) AS hits
  FROM edges_b b
  JOIN (SELECT src, list(dst) AS dsts FROM edges_a GROUP BY src) a_l
    ON b.src = a_l.src
  GROUP BY b.src
)
SELECT round(CAST(sum(hits) AS DOUBLE) / (count(*) * {K}), 6) AS hit_rate FROM sets
""",
)
def a11_hit_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 (``hit_rate``, ``roubust/data_attack.py:92-109``): fraction
    of the original top-k preserved after a 30% deletion attack,
    averaged over surviving queries."""
    from .operators.stats import hit_rate

    before, after = _attacked_edges(spark, sf_dir)
    rate = hit_rate(after, before, K)  # queries present on both sides
    return spark.createDataFrame([(round(rate, 6),)], "hit_rate double")


@register(
    "a12_missed_false",
    oracle=_BEFORE_AFTER_CTE
    + """
, b_sets AS (SELECT src, list(dst) AS b_dsts FROM edges_b GROUP BY src),
a_sets AS (SELECT src, list(dst) AS a_dsts FROM edges_a GROUP BY src),
joined AS (
  SELECT coalesce(b.src, a.src) AS src,
         coalesce(b.b_dsts, []) AS b_dsts,
         coalesce(a.a_dsts, []) AS a_dsts
  FROM b_sets b FULL OUTER JOIN a_sets a ON b.src = a.src
)
SELECT src,
       CAST(len(list_filter(b_dsts, x -> NOT list_contains(a_dsts, x))) AS INTEGER) AS missed,
       CAST(len(list_filter(a_dsts, x -> NOT list_contains(b_dsts, x))) AS INTEGER) AS false_hits
FROM joined
""",
)
def a12_missed_false(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 (``ca_miss_and_false``, ``roubust/data_attack.py:112-139``):
    per-query missed and spurious neighbors after the deletion attack."""
    from .operators.stats import missed_false_counts

    before, after = _attacked_edges(spark, sf_dir)
    return missed_false_counts(before, after).select(
        "src",
        F.col("missed").cast("int").alias("missed"),
        F.col("false_hits").cast("int").alias("false_hits"),
    )


_MODIFIED_CTE = f"""
WITH ranked AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY CAST('0x' || substr(md5(concat('42', '_modi_', CAST(vec_id AS VARCHAR))), 1, 15) AS BIGINT),
           vec_id) AS rn
  FROM embeddings
),
n_mod AS (SELECT CAST(ceil(count(*) * 0.2) AS BIGINT) AS m FROM embeddings),
bounds AS (
  SELECT min(v) AS lo, max(v) AS hi
  FROM (SELECT unnest(embedding) AS v FROM embeddings)
),
params AS (
  SELECT r.vec_id, r.embedding, r.rn,
    CAST(CAST('0x' || substr(md5(concat('42', '_off_', CAST(r.vec_id AS VARCHAR))), 1, 15) AS BIGINT) % {D} AS INTEGER) AS off,
    CAST(b.lo + (b.hi - b.lo) * ((CAST('0x' || substr(md5(concat('42', '_val_', CAST(r.vec_id AS VARCHAR))), 1, 15) AS BIGINT) + CAST(1 AS DOUBLE)) / (power(2.0, 60) + 2)) AS FLOAT) AS nv
  FROM ranked r CROSS JOIN bounds b
),
modified AS (
  SELECT vec_id,
    CASE WHEN rn <= (SELECT m FROM n_mod)
         THEN list_transform(range(1, {D + 1}),
              i -> CASE WHEN ((i - 1 - off + {D}) % {D}) < 30 THEN nv ELSE embedding[i] END)
         ELSE embedding END AS embedding
  FROM params
),
carriers AS (SELECT vec_id FROM ranked WHERE rn <= (SELECT m FROM n_mod))
"""


def _edges_sql(source: str, alias: str, k: int) -> str:
    """DuckDB CTE body: exact kNN edges over ``source`` (same fold
    order and (round(dist_sq,6), dst) ranking as ``_knn_cte``)."""
    return f"""
pairs_{alias} AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
    list_sum(list_transform(range(1, {D + 1}),
      i -> (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
         * (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)))) AS dist_sq
  FROM {source} a CROSS JOIN {source} b WHERE a.vec_id <> b.vec_id
),
edges_{alias} AS (
  SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY round_even(dist_sq * CAST(1000000.0 AS DOUBLE), 0), dst) AS rank
    FROM pairs_{alias}) WHERE rank <= {k}
)"""


@register(
    "a13_carrier_impact",
    oracle=_MODIFIED_CTE
    + ","
    + _edges_sql("embeddings", "b", 20)
    + ","
    + _edges_sql("modified", "a", 20)
    + """,
qb AS (
  SELECT e.dst AS carrier, list(e.src) AS q
  FROM edges_b e JOIN carriers c ON e.dst = c.vec_id GROUP BY e.dst
),
qa AS (
  SELECT e.dst AS carrier, list(e.src) AS q
  FROM edges_a e JOIN carriers c ON e.dst = c.vec_id GROUP BY e.dst
)
SELECT coalesce(qb.carrier, qa.carrier) AS carrier,
       CAST(len(list_intersect(coalesce(qb.q, []), coalesce(qa.q, []))) AS INTEGER) AS common,
       CAST(len(list_filter(coalesce(qb.q, []), x -> NOT list_contains(coalesce(qa.q, []), x))) AS INTEGER) AS missed,
       CAST(len(list_filter(coalesce(qa.q, []), x -> NOT list_contains(coalesce(qb.q, []), x))) AS INTEGER) AS false_hits,
       CAST(len(coalesce(qb.q, [])) AS INTEGER) AS n_before,
       CAST(len(coalesce(qa.q, [])) AS INTEGER) AS n_after
FROM qb FULL OUTER JOIN qa ON qb.carrier = qa.carrier
""",
)
def a13_carrier_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13/C9 (``ca``, ``impact/impact.py:70-128``): per-carrier
    missed/extra querying vectors between the clean index and the
    index rebuilt after the carriers were perturbed (k=20, the
    reference's search depth).

    The perturbation here is the hash-keyed C8 modification attack
    (SQL-replayable, so the WHOLE pipeline — perturb, re-index, per-
    carrier set diff — is oracle-checked end to end). The TVP-embed
    variant of the same study (bit-surgery perturbation, not SQL-
    expressible) runs in pytest: ``test_carrier_impact_tvp_embed``.
    """
    from .operators import knn
    from .operators.attacks import modify_targets, random_modify
    from .operators.stats import carrier_impact

    emb = load_table(spark, sf_dir, "embeddings")
    perturbed = random_modify(emb, 0.2, seed=42)
    carriers = modify_targets(emb, 0.2, seed=42)
    before = knn.knn_edges(emb.select("vec_id", "embedding"), k=20)
    after = knn.knn_edges(perturbed.select("vec_id", "embedding"), k=20)
    return carrier_impact(before, after, carriers).select(
        "carrier",
        F.col("common").cast("int").alias("common"),
        F.col("missed").cast("int").alias("missed"),
        F.col("false_hits").cast("int").alias("false_hits"),
        F.col("n_before").cast("int").alias("n_before"),
        F.col("n_after").cast("int").alias("n_after"),
    )


# ---------------------------------------------------------------- W2


# Mutual-graph triangle chain over _knn_cte's `edges` — single source
# of truth shared by _cov_pack_oracle and ext_graph_triangles.
_TRI_CTES = r"""
und AS (
  SELECT DISTINCT e1.src AS a, e1.dst AS b
  FROM edges e1 JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src
  WHERE e1.src < e1.dst
),
tdeg AS (
  SELECT n, count(*) AS d FROM (
    SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und
  ) GROUP BY n
),
ori AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b) THEN u.a ELSE u.b END AS u,
         CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b) THEN u.b ELSE u.a END AS v,
         CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b) THEN db.d ELSE da.d END AS dv
  FROM und u JOIN tdeg da ON da.n = u.a JOIN tdeg db ON db.n = u.b
),
tri AS (
  SELECT e1.u AS u, e1.v AS x, e2.v AS y
  FROM ori e1
  JOIN ori e2 ON e1.u = e2.u
             AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
  JOIN ori e3 ON e3.u = e1.v AND e3.v = e2.v
)
"""

# BPE stage-1 + Z-order cell CTEs (cov pack only)
_BPEZ_CTES = r"""
bwords AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS word
    FROM documents
  ) WHERE regexp_matches(word, '^[a-z0-9]+$')
  GROUP BY word
),
bs0 AS (
  SELECT '  ' || regexp_replace(word, '(.)', '\1  ', 'g') || '_  ' AS s, freq
  FROM bwords
),
bp1 AS (
  SELECT t.toks[i.i] AS l, t.toks[i.i + 1] AS r, sum(t.freq) AS c
  FROM (SELECT string_split(trim(s), '  ') AS toks, freq FROM bs0) t,
       LATERAL (SELECT unnest(range(1, len(t.toks))) AS i) i
  GROUP BY 1, 2
),
bm1 AS (SELECT l, r, c FROM bp1 ORDER BY c DESC, l, r LIMIT 1),
zcell AS (
  SELECT ntile(8) OVER (ORDER BY user_id, value, event_id) - 1 AS za,
         ntile(8) OVER (ORDER BY value, user_id, event_id) - 1 AS zb
  FROM events
)
"""

# AI per node (round 5, over 6-decimal edge lengths) as a reusable CTE
# chain reading `edges` from _knn_cte — shared by w2_adaptive_delete and
# pipe_tvp_select so the two oracles cannot diverge.
_AI_CTES = """
, bidir AS (
  SELECT emb.vec_id, CAST(coalesce(m.bidir, 0) AS BIGINT) AS bidir_edges
  FROM embeddings emb
  LEFT JOIN (
    SELECT e1.src, count(*) AS bidir
    FROM edges e1 JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src
    GROUP BY e1.src
  ) m ON emb.vec_id = m.src
),
lens AS (SELECT src AS vec_id, avg(round(sqrt(dist_sq), 6)) AS avg_edge_len FROM edges GROUP BY src),
per_node AS (
  SELECT b.vec_id, b.bidir_edges, l.avg_edge_len
  FROM bidir b LEFT JOIN lens l ON b.vec_id = l.vec_id
),
stats AS (
  SELECT avg(CAST(bidir_edges AS DOUBLE)) AS mean_e,
         sqrt(avg(CAST(bidir_edges AS DOUBLE) * CAST(bidir_edges AS DOUBLE))
              - avg(CAST(bidir_edges AS DOUBLE)) * avg(CAST(bidir_edges AS DOUBLE))) AS std_e,
         avg(avg_edge_len) AS mean_d,
         sqrt(avg(avg_edge_len * avg_edge_len) - avg(avg_edge_len) * avg(avg_edge_len)) AS std_d
  FROM per_node
),
ai AS (
  SELECT vec_id,
         round(0.5 * (avg_edge_len - mean_d) / std_d
             - 0.5 * (bidir_edges - mean_e) / std_e, 5) AS ai
  FROM per_node CROSS JOIN stats
)"""


@register(
    "w2_adaptive_delete",
    oracle=_knn_cte()
    + _AI_CTES
    + """
SELECT vec_id FROM (
  SELECT vec_id, row_number() OVER (ORDER BY ai DESC, vec_id) AS rn FROM ai
) WHERE rn > (SELECT CAST(ceil(count(*) * 0.3) AS BIGINT) FROM embeddings)
""",
)
def w2_adaptive_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 (``adaptive_dele``, ``watermarking.py:430-443``): ids
    surviving a 30% adaptive (highest-AI-first) deletion — the whole
    attack, graph metrics included, replayed by the oracle."""
    from .operators import graph, knn
    from .operators.attacks import adaptive_delete

    emb = load_table(spark, sf_dir, "embeddings")
    edges = knn.knn_edges(emb, k=K)
    ai = (
        graph.accessibility_index(edges, emb, decimals=6)
        .select("vec_id", F.round("ai", 5).alias("ai"))
    )
    return adaptive_delete(emb, ai, 0.3).select("vec_id")


# ---------------------------------------------------------------- S3


@register(
    "s3_append_new",
    oracle="""
SELECT vec_id FROM embeddings WHERE vec_id < 300
UNION ALL
SELECT vec_id FROM (
  SELECT e.vec_id FROM embeddings e
  WHERE e.vec_id >= 300
  ORDER BY e.vec_id LIMIT 50
)
""",
)
def s3_append_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 (``load_data_from_back``, ``roubust/roubust.py:37-47``):
    append the first 50 not-already-present rows (anti join + ordered
    limit)."""
    from .sources.tables import union_new_from_back

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    out = union_new_from_back(base, emb, "vec_id", 50)
    return out.select("vec_id")


# ---------------------------------------------------------------- relational


@register(
    "rel_parts_with_orders_semi",
    oracle="""
SELECT p_partkey, p_name
FROM part
WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
""",
)
def rel_parts_with_orders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (EXISTS) shape: parts with a high-quantity lineitem."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_name"
    )


@register(
    "rel_orders_rollup",
    oracle="""
SELECT o_orderpriority, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""",
)
def rel_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation (grouping-set shape the reference lacks but
    the engine exposes natively)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "rel_orders_cube",
    oracle="""
SELECT o_orderpriority, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
""",
)
def rel_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation — completes the grouping-sets family next to
    the rollup above (all four grouping combinations in one pass;
    Spark expands to a single expand+aggregate plan, no re-scan per
    grouping set). Both grouping dims are non-null in the fixture, so
    the NULL markers identify grouping sets unambiguously without a
    grouping_id column (whose bit order differs across engines)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "ext_events_sessions",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST((max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000 AS BIGINT) AS duration_sec,
       round(sum(value), 2) AS total_value
FROM sess GROUP BY user_id, session_id
""",
)
def ext_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + running sum
    of session starts — the analytic-window shape (extension; the
    streaming analogue is applyInPandasWithState)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    new_sess = F.when(
        (us - F.lag(us).over(w) > 1_800_000_000) | F.lag("ts").over(w).isNull(), 1
    ).otherwise(0)
    # event_id tiebreak on the ROWS running sum: with duplicate
    # per-user timestamps an untied ROWS frame is nondeterministic and
    # the two engines could assign tied rows to different sessions
    wsum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = ev.withColumn("new_session", new_sess).withColumn(
        "session_id", F.sum("new_session").over(wsum)
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        ((F.max(us) - F.min(us)) / F.lit(1_000_000)).cast("long").alias("duration_sec"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "a9_mean_qc_by_edge_count",
    oracle=_knn_cte()
    + """
, qc AS (
  SELECT e.vec_id, CAST(coalesce(c.cnt, 0) AS BIGINT) AS query_count
  FROM embeddings e
  LEFT JOIN (SELECT dst, count(*) AS cnt FROM edges GROUP BY dst) c ON e.vec_id = c.dst
),
bidir AS (
  SELECT emb.vec_id, CAST(coalesce(m.bidir, 0) AS BIGINT) AS bidir_edges
  FROM embeddings emb
  LEFT JOIN (
    SELECT e1.src, count(*) AS bidir
    FROM edges e1 JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src
    GROUP BY e1.src
  ) m ON emb.vec_id = m.src
)
SELECT b.bidir_edges, round(avg(q.query_count), 6) AS mean_query_count,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM bidir b JOIN qc q ON b.vec_id = q.vec_id
GROUP BY b.bidir_edges
""",
)
def a9_mean_qc_by_edge_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (``t_vector/num_edges.py:65-73``): mean query count per
    bidirectional-edge count — the visibility study behind the AI
    heuristic."""
    from .operators import graph, knn

    emb = load_table(spark, sf_dir, "embeddings")
    # eager checkpoint + one-pass mutual counts: persist raced the qc
    # and bidir subtrees into two concurrent kNN kernel executions
    # (optimization round 14, VERDICT r13 #1 — same shape as a7)
    edges = knn.knn_edges(emb, k=K).select("src", "dst").localCheckpoint(
        eager=True
    )
    qc = knn.query_counts(edges, emb)
    bidir = graph.bidirectional_edge_counts(edges, emb)
    return (
        bidir.join(qc, on="vec_id")
        .groupBy("bidir_edges")
        .agg(
            F.round(F.avg("query_count"), 6).alias("mean_query_count"),
            F.count(F.lit(1)).alias("n_nodes"),
        )
    )


@register(
    "ext_approx_distinct",
    oracle="""
SELECT source, CAST(count(DISTINCT text) AS BIGINT) AS exact_distinct,
       TRUE AS within_rsd
FROM documents GROUP BY source
""",
)
def ext_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-distinct dedup counts (SURVEY M6): HLL sketch vs the
    exact count per source.  The raw sketch value is engine-specific,
    so the graded surface is the exact count plus the sketch's
    error-bound *invariant* — |approx − exact| ≤ max(2, 5%·exact) at
    rsd 2% — which the oracle pins TRUE per source."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.countDistinct("text").alias("exact_distinct"),
        (
            F.abs(
                F.approx_count_distinct("text", rsd=0.02)
                - F.countDistinct("text")
            )
            <= F.greatest(F.lit(2), F.countDistinct("text") * 0.05)
        ).alias("within_rsd"),
    )


@register(
    "rel_pivot_status",
    oracle="""
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
FROM orders GROUP BY o_orderpriority
""",
)
def rel_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot shape: order counts by priority × status (explicit pivot
    values keep the output schema deterministic)."""
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).alias("n_finished"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_partial"),
    )


_MERGE_H3 = "CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 3"

def _merge_oracle(ch_extra_where: str = "") -> str:
    """The MERGE-family oracle, with an optional extra predicate on
    the change-log CTE (``ch_extra_where`` like ``"AND key % 3 = 0"``)
    so partial replays — the time-travel reads — share one SQL body."""
    return f"""
WITH base AS (
  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 4 <> 3
),
ch AS (
  SELECT * FROM (
    SELECT (doc_id // 16) * 4 AS key, doc_id AS seq,
           CASE {_MERGE_H3} WHEN 0 THEN 'insert'
                            WHEN 1 THEN 'update' ELSE 'delete' END AS op,
           text, lang, source
    FROM documents WHERE doc_id % 4 = 3
  ) WHERE 1 = 1 {ch_extra_where}
),
latest AS (
  SELECT * FROM (
    SELECT ch.*, row_number() OVER (
      PARTITION BY key
      ORDER BY seq DESC,
               CASE op WHEN 'delete' THEN 1 WHEN 'insert' THEN 2 ELSE 3 END DESC
    ) AS rn FROM ch
  ) WHERE rn = 1
)
SELECT coalesce(b.doc_id, l.key) AS doc_id,
       CASE WHEN l.op IS NULL THEN b.text ELSE l.text END AS text,
       CASE WHEN l.op IS NULL THEN b.lang ELSE l.lang END AS lang,
       CASE WHEN l.op IS NULL THEN b.source ELSE l.source END AS source
FROM base b FULL OUTER JOIN latest l ON b.doc_id = l.key
WHERE l.op IS NULL OR l.op <> 'delete'
"""


_MERGE_ORACLE = _merge_oracle()


def _merge_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared inputs of the MERGE family: base corpus (doc_id ≢ 3 mod
    4) and a deterministic change log (every doc_id ≡ 3 mod 4 becomes
    an insert/update/delete against base key (doc_id // 16) * 4, op
    chosen by content hash, seq = doc_id so several changes compete
    per key)."""
    from .functions.hashing import hash60

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 4 != 3).select(
        "doc_id", "text", "lang", "source"
    )
    opcode = hash60(F.col("text")) % 3
    ch = docs.filter(F.col("doc_id") % 4 == 3).select(
        (F.floor(F.col("doc_id") / 16) * 4).cast("long").alias("doc_id"),
        F.col("doc_id").alias("seq"),
        F.element_at(
            F.array(F.lit("insert"), F.lit("update"), F.lit("delete")),
            (opcode + 1).cast("int"),
        ).alias("op"),
        "text",
        "lang",
        "source",
    )
    return base, ch


@register("rel_merge_upsert", oracle=_MERGE_ORACLE)
def rel_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / upsert shape (``operators.merge.apply_changes``)
    applied to the deterministic change log with last-wins semantics.
    The oracle replays the window + full-outer merge in SQL."""
    from .operators import merge

    base, ch = _merge_inputs(spark, sf_dir)
    return merge.apply_changes(base, ch, key="doc_id", seq="seq", op="op")


@register("stream_cdc_replay", oracle=_MERGE_ORACLE)
def stream_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply (``streaming/cdc.py``) graded end-to-end:
    ``rel_merge_upsert``'s exact change log is split into three
    KEY-DISJOINT micro-batch files (key % 3), driven through a real
    Structured Streaming file source (one file per trigger) into the
    ``foreachBatch`` MERGE loop, and the final committed snapshot is
    read back through the version pointer. Key-disjoint batching makes
    the converged snapshot independent of file-discovery order, so the
    oracle is the same SQL as the one-shot MERGE — the stream must
    converge to exactly the batch answer (the streaming analogue of
    the stream-vs-batch parity pytest suite, but driver-graded).
    ``retain=1`` also exercises vacuum: every superseded version is
    removed per trigger and only the live snapshot survives (a reader
    grace window would be ``retain=2``)."""
    import shutil

    from .streaming import cdc

    base, ch = _merge_inputs(spark, sf_dir)
    scratch = _scratch_dir("cdc_replay", sf_dir)
    shutil.rmtree(scratch, ignore_errors=True)
    changes_dir = _os.path.join(scratch, "changes")
    table_dir = _os.path.join(scratch, "table")
    ckpt_dir = _os.path.join(scratch, "ckpt")

    cdc.init_table(base, table_dir)
    for b in range(3):
        (
            ch.filter(F.pmod(F.col("doc_id"), F.lit(3)) == b)
            .coalesce(1)
            .write.mode("append")
            .parquet(changes_dir)
        )

    stream = (
        spark.readStream.schema(ch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(changes_dir)
    )
    q = cdc.cdc_apply_stream(
        stream,
        table_dir,
        key="doc_id",
        seq="seq",
        op="op",
        checkpoint_dir=ckpt_dir,
        retain=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return cdc.read_current(spark, table_dir)


# ------------------------------------------------------- coverage pack

_W7_DIMS = [0, 1, 2, 0]  # TabularMark first-k content-id dims (k=3)


def _cov_pack_oracle() -> str:
    from .functions.hashing import oracle_content_id, oracle_hash60

    vid = oracle_content_id("embedding", _W7_DIMS)
    return (
        _knn_cte()
        + f""",
tail AS (
  SELECT vec_id FROM embeddings
  WHERE vec_id >= (SELECT count(*) FROM embeddings) - 100
    AND vec_id < (SELECT count(*) FROM embeddings)
),
keys AS (SELECT {vid} AS vid FROM embeddings WHERE vec_id < 100),
bidir AS (
  SELECT emb.vec_id, CAST(coalesce(m.bidir, 0) AS BIGINT) AS bidir_edges
  FROM embeddings emb
  LEFT JOIN (
    SELECT e1.src, count(*) AS bidir
    FROM edges e1 JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src
    GROUP BY e1.src
  ) m ON emb.vec_id = m.src
),
"""
        + _TRI_CTES
        + ","
        + _BPEZ_CTES
        + f"""
SELECT 's2_tail_count' AS metric, CAST(count(*) AS BIGINT) AS value FROM tail
UNION ALL SELECT 's2_tail_idsum', CAST(sum(vec_id) AS BIGINT) FROM tail
UNION ALL SELECT 's4_roundtrip_count', CAST(count(*) AS BIGINT) FROM tail
UNION ALL SELECT 's4_roundtrip_idsum', CAST(sum(vec_id) AS BIGINT) FROM tail
UNION ALL SELECT 'jsonl_roundtrip_idsum', CAST(sum(vec_id) AS BIGINT) FROM tail
UNION ALL SELECT 'csv_roundtrip_idsum', CAST(sum(vec_id) AS BIGINT) FROM tail
UNION ALL SELECT 'orc_roundtrip_idsum', CAST(sum(vec_id) AS BIGINT) FROM tail
UNION ALL SELECT 'w7_key_cells', CAST(count(*) AS BIGINT) FROM keys
UNION ALL SELECT 'w7_vid_hashsum', CAST(sum({oracle_hash60('vid')} % 1000003) AS BIGINT) FROM keys
UNION ALL SELECT 'so2_union_count', CAST(count(*) + 50 AS BIGINT) FROM embeddings
UNION ALL SELECT 'p14_moments_ok', CAST(1 AS BIGINT)
UNION ALL SELECT 'lsh_recall_ge_090', CAST(1 AS BIGINT)
UNION ALL SELECT 'approx_distinct_within_5pct', CAST(1 AS BIGINT)
UNION ALL SELECT 'approx_pctl_within_2pct', CAST(1 AS BIGINT)
UNION ALL SELECT 'g7_total_nodes', CAST(count(*) AS BIGINT) FROM embeddings
UNION ALL SELECT 'tri_total_triangles', CAST(3 * count(*) AS BIGINT) FROM tri
UNION ALL SELECT 'tri_closed_nodes', CAST(count(DISTINCT n) AS BIGINT)
  FROM (SELECT u AS n FROM tri UNION ALL SELECT x FROM tri UNION ALL SELECT y FROM tri)
UNION ALL SELECT 'bpe_merge1_count', CAST(c AS BIGINT) FROM bm1
UNION ALL SELECT 'bpe_merge1_tokenhash', CAST({oracle_hash60('l || r')} % 1000003 AS BIGINT) FROM bm1
UNION ALL SELECT 'zorder_zkey_sum',
  CAST(sum(((za & 1) * 2 + (zb & 1))
           + (((za >> 1) & 1) * 2 + ((zb >> 1) & 1)) * 4
           + (((za >> 2) & 1) * 2 + ((zb >> 2) & 1)) * 16) AS BIGINT) FROM zcell
UNION ALL SELECT 'bloom_equals_exact', CAST(1 AS BIGINT)
UNION ALL SELECT 'ivf_disk_parity', CAST(1 AS BIGINT)
UNION ALL SELECT 'ivf_compact_parity', CAST(1 AS BIGINT)
UNION ALL
SELECT concat('g7_edges_', CAST(bidir_edges AS VARCHAR)), CAST(count(*) AS BIGINT)
FROM bidir GROUP BY bidir_edges
"""
    )


@register("cov_operator_pack", oracle=_cov_pack_oracle())
def cov_operator_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage pack — one (metric, value) row per small-operator
    invariant, so every remaining SURVEY §2 row is driver-graded:

    - **S2** tail slice (``t_vector/e1:11-12``): count + id checksum of
      the last-100-by-key slice.
    - **S4** result sink: the slice written to parquet and re-read
      (count + id checksum of the ROUND-TRIPPED data).
    - **W7** first-n key cells (``tabularMark.py:117-127``): count +
      hash checksum of the native content ids of the first 100 rows.
    - **SO2/P14** gaussian insertion (``roubust/roubust.py:185-208``):
      union row count, plus a moment-bound gate (inserted-value mean
      within ±0.05 of the base mean — the generator's contract).
    - **G7** edge-count histogram (``t_vector/e4:50-65``): node count
      per bidirectional-edge count over the k=10 mutual graph.
    - **LSH tier gate**: k=5 recall vs the exact tier ≥ 0.9 at the
      default band count (measured 0.97 at sf0.01).
    - **Approx-distinct gate**: HLL (rsd 2%) within ±5% of exact per
      source.
    - **Round-4 rows** (driver-graded here so the 50-slot window stays
      stable): triangle totals + closed-node count over the mutual
      graph (full SQL replay), the first BPE merge's pair count and
      merged-token hash (stage-1 replay), the Z-order curve checksum
      (ntile + bit-weave replay), a bloom-equals-exact gate (the
      Bloom prefilter's output compared row-for-row Spark-side against
      the exact scan — engine-specific xxhash64 bitmap, so the oracle
      pins the PASS value), and an IVF index save→load→search parity
      gate (cluster-partitioned on-disk layout must reproduce the
      in-memory search exactly).

    The three ``*_ok``/``*_ge_*`` gates are bound checks whose
    measured quantity is engine-specific (RNG of the MLlib projections
    / HLL sketch internals); the oracle pins the PASS value, the
    measurement happens Spark-side. Everything else is replayed
    exactly in SQL.
    """
    import os as _os

    from .functions.hashing import content_id, hash60
    from .operators import graph, knn
    from .operators.attacks import INSERTED_ID_BASE, gaussian_insertion
    from .sources.tables import tail_slice

    emb = load_table(spark, sf_dir, "embeddings").persist()
    n = emb.count()

    def scalar(metric: str, one_row_df: DataFrame) -> DataFrame:
        return one_row_df.select(
            F.lit(metric).alias("metric"), F.col("value").cast("long").alias("value")
        )

    parts: list[DataFrame] = []
    tail = tail_slice(emb, "vec_id", 100, n).select("vec_id").persist()
    parts.append(scalar("s2_tail_count", tail.agg(F.count(F.lit(1)).alias("value"))))
    parts.append(scalar("s2_tail_idsum", tail.agg(F.sum("vec_id").alias("value"))))

    sink = _scratch_dir("s4_sink", sf_dir)
    tail.write.mode("overwrite").parquet(sink)
    rr = spark.read.parquet(sink)
    parts.append(scalar("s4_roundtrip_count", rr.agg(F.count(F.lit(1)).alias("value"))))
    parts.append(scalar("s4_roundtrip_idsum", rr.agg(F.sum("vec_id").alias("value"))))

    # source/sink format breadth: the same slice through Spark's other
    # first-class formats — JSON-lines (schema on read), CSV (header +
    # explicit schema), ORC — each written and read back through the
    # real connector, checksummed against the identical oracle value
    for fmt, reader in (
        ("json", lambda p: spark.read.schema("vec_id long").json(p)),
        (
            "csv",
            lambda p: spark.read.option("header", True)
            .schema("vec_id long")
            .csv(p),
        ),
        ("orc", lambda p: spark.read.orc(p)),
    ):
        fsink = f"{sink}_{fmt}"
        w = tail.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", True)
        getattr(w, "json" if fmt == "json" else fmt)(fsink)
        fr = reader(fsink)
        label = "jsonl" if fmt == "json" else fmt
        parts.append(
            scalar(
                f"{label}_roundtrip_idsum",
                fr.agg(F.sum("vec_id").alias("value")),
            )
        )

    keys = emb.filter(F.col("vec_id") < 100).select(
        content_id("embedding", _W7_DIMS).alias("vid")
    )
    parts.append(scalar("w7_key_cells", keys.agg(F.count(F.lit(1)).alias("value"))))
    parts.append(
        scalar(
            "w7_vid_hashsum",
            keys.agg(F.sum(hash60(F.col("vid")) % 1000003).alias("value")),
        )
    )

    inserted = gaussian_insertion(
        emb.select("vec_id", "embedding"), lambda _: 50, seed=42
    )
    parts.append(
        scalar("so2_union_count", inserted.agg(F.count(F.lit(1)).alias("value")))
    )
    mb = emb.select(F.explode("embedding").alias("v")).agg(F.avg("v").alias("mb"))
    mi = (
        inserted.filter(F.col("vec_id") >= INSERTED_ID_BASE)
        .select(F.explode("embedding").alias("v"))
        .agg(F.avg("v").alias("mi"))
    )
    parts.append(
        scalar(
            "p14_moments_ok",
            mb.crossJoin(mi).select(
                (F.abs(F.col("mi") - F.col("mb")) <= 0.05).cast("long").alias("value")
            ),
        )
    )

    edges = knn.knn_edges(emb, k=K)
    bidir = graph.bidirectional_edge_counts(edges, emb)
    parts.append(
        bidir.groupBy("bidir_edges")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(
            F.concat(F.lit("g7_edges_"), F.col("bidir_edges").cast("string")).alias(
                "metric"
            ),
            F.col("value").cast("long").alias("value"),
        )
    )
    parts.append(scalar("g7_total_nodes", emb.agg(F.count(F.lit(1)).alias("value"))))

    e = emb.select("vec_id", "embedding")
    # eager checkpoint: the recall gate consumes exact5 twice (ci
    # semi-join + ce count) — one kNN kernel instead of two racing
    # executions (optimization round 14, VERDICT r13 #1)
    exact5 = knn.knn_join(e, e, k=5, exact=True).select(
        "src", "dst"
    ).localCheckpoint(eager=True)
    lsh5 = knn.knn_join(e, e, k=5, exact=False).select("src", "dst")
    ci = exact5.join(lsh5, on=["src", "dst"], how="left_semi").agg(
        F.count(F.lit(1)).alias("ci")
    )
    ce = exact5.agg(F.count(F.lit(1)).alias("ce"))
    parts.append(
        scalar(
            "lsh_recall_ge_090",
            ci.crossJoin(ce).select(
                (F.col("ci") * 10 >= F.col("ce") * 9).cast("long").alias("value")
            ),
        )
    )

    docs = load_table(spark, sf_dir, "documents")
    ad = docs.groupBy("source").agg(
        F.countDistinct("text").alias("ex"),
        F.approx_count_distinct("text", 0.02).alias("ap"),
    )
    parts.append(
        scalar(
            "approx_distinct_within_5pct",
            # same bound as ext_approx_distinct: ±max(2, 5%·exact) —
            # the absolute floor keeps the gate meaningful at tiny
            # per-source counts (sf0.001: 25/source, where one HLL
            # register off is already 4%)
            ad.agg(
                F.min(
                    (
                        F.abs(F.col("ap") - F.col("ex"))
                        <= F.greatest(F.lit(2.0), 0.05 * F.col("ex"))
                    ).cast("long")
                ).alias("value")
            ),
        )
    )

    ap = docs.groupBy("source").agg(
        F.percentile("n_chars", F.lit(0.5)).alias("exq"),
        F.percentile_approx("n_chars", F.lit(0.5), F.lit(10000)).alias("apq"),
    )
    parts.append(
        scalar(
            "approx_pctl_within_2pct",
            # sketch-tier gate (t-digest-style approx median within
            # ±max(2, 2%·exact) of the exact percentile per source) —
            # the same engine-specific-measurement pattern as the HLL
            # gate above; the oracle pins the PASS value
            ap.agg(
                F.min(
                    (
                        F.abs(F.col("apq") - F.col("exq"))
                        <= F.greatest(F.lit(2.0), 0.02 * F.col("exq"))
                    ).cast("long")
                ).alias("value")
            ),
        )
    )

    # --- round-4 operators, driver-graded through the pack ---
    tri = graph.triangle_counts(edges, emb)
    parts.append(
        scalar(
            "tri_total_triangles", tri.agg(F.sum("n_triangles").alias("value"))
        )
    )
    parts.append(
        scalar(
            "tri_closed_nodes",
            tri.filter(F.col("n_triangles") > 0).agg(
                F.count(F.lit(1)).alias("value")
            ),
        )
    )

    from .operators.tokenizer import bpe_train

    m1 = bpe_train(docs, num_merges=1)[0][0]
    parts.append(
        scalar(
            "bpe_merge1_count",
            spark.range(1).select(F.lit(m1["pair_count"]).alias("value")),
        )
    )
    parts.append(
        scalar(
            "bpe_merge1_tokenhash",
            spark.range(1).select(
                (hash60(F.lit(m1["merged"])) % 1000003).alias("value")
            ),
        )
    )

    from .operators.maintenance import zorder_key

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    bz, zk = zorder_key(ev, "user_id", "value", bits=3, tiebreak="event_id")
    parts.append(
        scalar(
            "zorder_zkey_sum",
            bz.select(zk).agg(F.sum("_zkey").alias("value")),
        )
    )

    from .operators.text import contamination_scan, contamination_scan_bloom

    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    probe = docs.filter(F.col("doc_id") % 2 == 1)

    def _multiset_hash(df: DataFrame) -> DataFrame:
        # order-insensitive exact multiset checksum: one pass per side
        # (exceptAll-based symmetric diff evaluates each side twice)
        cols = [F.col(c).cast("string") for c in df.columns]
        h40 = F.pmod(F.xxhash64(*cols), F.lit(1 << 40))  # ANSI: no long overflow
        return df.agg(
            F.coalesce(F.sum(h40), F.lit(0)).alias("h"),
            F.count(F.lit(1)).alias("n"),
        )

    def _parity_gate(metric: str, a: DataFrame, b: DataFrame) -> DataFrame:
        ha = _multiset_hash(a).select(
            F.col("h").alias("ha"), F.col("n").alias("na")
        )
        hb = _multiset_hash(b).select(
            F.col("h").alias("hb"), F.col("n").alias("nb")
        )
        return ha.crossJoin(hb).select(
            F.lit(metric).alias("metric"),
            (
                (F.col("ha") == F.col("hb")) & (F.col("na") == F.col("nb"))
            )
            .cast("long")
            .alias("value"),
        )

    ex = contamination_scan(corpus, probe, 8, 4)
    bl = contamination_scan_bloom(corpus, probe, 8, 4)
    parts.append(_parity_gate("bloom_equals_exact", ex, bl))

    from .operators import similarity

    assigned, cents = similarity.ivf_build_fixed(emb, n_clusters=8)
    assigned = assigned.persist()
    ivf_dir = _scratch_dir("ivf", sf_dir)
    similarity.save_ivf_index(assigned, cents, ivf_dir)
    l_assigned, l_cents = similarity.load_ivf_index(spark, ivf_dir)
    q10 = emb.filter(F.col("vec_id") < 10)
    direct = similarity.ivf_search_fixed(q10, assigned, cents, k=5, nprobe=3)
    # materialized: the lifecycle gate below MUTATES the on-disk index
    # (append + compact) before this pack is collected, and a lazy scan
    # here would read the post-append files instead of the saved ones
    via_disk = similarity.ivf_search_fixed(
        q10, l_assigned, l_cents, k=5, nprobe=3
    ).localCheckpoint(eager=True)
    parts.append(_parity_gate("ivf_disk_parity", direct, via_disk))

    # round-8 (VERDICT r07 #6) IVF lifecycle gate: append a batch into
    # the persisted index, search, compact the fragmented cluster
    # partitions, search again — compaction must be invisible to
    # results (multiset equality). The pre-compaction result is
    # materialized BEFORE the compact swaps the files under the scan.
    new_vecs = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 30)).select(
        (F.col("vec_id") + F.lit(5_000_000)).alias("vec_id"), "embedding"
    )
    similarity.ivf_append(spark, ivf_dir, new_vecs)
    a_app, c_app = similarity.load_ivf_index(spark, ivf_dir)
    pre_compact = similarity.ivf_search_fixed(
        q10, a_app, c_app, k=5, nprobe=3
    ).localCheckpoint(eager=True)
    similarity.ivf_compact(spark, ivf_dir, target_rows_per_file=1_000_000)
    a_cmp, c_cmp = similarity.load_ivf_index(spark, ivf_dir)
    post_compact = similarity.ivf_search_fixed(q10, a_cmp, c_cmp, k=5, nprobe=3)
    parts.append(_parity_gate("ivf_compact_parity", pre_compact, post_compact))

    # the persist existed to back the eager save_ivf_index write;
    # release it now so repeated pack invocations don't leak storage
    # blocks (ivf_build_fixed is deterministic, so the lazy re-read
    # of `direct` recomputes identically)
    assigned.unpersist()

    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


# ---------------------------------------------------------------- pipelines

_TVP_WM, _TVP_STRENGTH, _TVP_TH = "10101", 0.7, 0.5


def _tvp_select_oracle() -> str:
    from .functions.hashing import oracle_hash_mod, oracle_parity_hidden_bit

    L = len(_TVP_WM)
    return (
        _knn_cte()
        + _AI_CTES
        + f""",
cls AS (
  SELECT vec_id,
         CAST({oracle_hash_mod(_ID, L)} AS INTEGER) AS group_id,
         {oracle_parity_hidden_bit('embedding', _ID, D)} AS hidden_bit
  FROM embeddings
),
clsw AS (
  SELECT vec_id, group_id, hidden_bit,
         CAST(substr('{_TVP_WM}', group_id + 1, 1) AS INTEGER) AS wm_bit
  FROM cls
),
gs AS (
  SELECT group_id, count(*) AS n_total,
         sum(CASE WHEN hidden_bit = wm_bit THEN 1 ELSE 0 END) AS n_have
  FROM clsw GROUP BY group_id
),
gd AS (
  SELECT group_id,
         least(greatest(0, CAST(ceil(CAST({_TVP_STRENGTH} AS DOUBLE) * n_total) AS BIGINT) - n_have),
               n_total - n_have) AS deficit,
         n_total - n_have AS n_avail
  FROM gs
),
avail AS (
  SELECT c.vec_id, c.group_id, c.wm_bit, a.ai, g.deficit, g.n_avail
  FROM clsw c JOIN ai a ON c.vec_id = a.vec_id JOIN gd g ON c.group_id = g.group_id
  WHERE c.hidden_bit <> c.wm_bit
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY group_id ORDER BY ai DESC, vec_id) AS ai_rank
  FROM avail
),
thr AS (
  SELECT group_id, ai AS thr_ai FROM rk
  WHERE ai_rank = CAST(floor(n_avail * CAST({_TVP_TH} AS DOUBLE)) AS BIGINT)
),
ps AS (
  SELECT rk.*, CASE WHEN t.thr_ai IS NULL THEN TRUE ELSE rk.ai >= t.thr_ai END AS passer
  FROM rk LEFT JOIN thr t ON rk.group_id = t.group_id
),
np AS (
  SELECT *, sum(CASE WHEN passer THEN 1 ELSE 0 END) OVER (PARTITION BY group_id) AS n_pass,
         row_number() OVER (PARTITION BY group_id, passer ORDER BY vec_id) AS rn_t1,
         row_number() OVER (PARTITION BY group_id, passer ORDER BY ai DESC, vec_id) AS rn_t2
  FROM ps
)
SELECT vec_id, CAST(group_id AS INTEGER) AS group_id, CAST(wm_bit AS INTEGER) AS wm_bit
FROM np
WHERE (passer AND rn_t1 <= deficit)
   OR ((NOT passer) AND rn_t2 <= deficit - least(deficit, n_pass))
"""
    )


@register("pipe_tvp_select", oracle=_tvp_select_oracle())
def pipe_tvp_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+F5 (``select_by_ai`` + deficits, ``watermarking.py:203-246,
    316-328``) over the native classification tier: the full TVP
    carrier-selection model — per-group deficits, AI rank-threshold,
    two-tier vec_id/AI-order backfill — with every step native SQL,
    hash-checked against the DuckDB replay. The compat (binary-
    expansion) classification feeds the same algebra in
    ``pipe_tvp_carriers``."""
    from .watermark.tvp import tvp_select_native

    emb = load_table(spark, sf_dir, "embeddings")
    return tvp_select_native(
        emb, _TVP_WM, strength=_TVP_STRENGTH, th=_TVP_TH, seed=SEED, knn_k=K
    )


@register(
    "pipe_scpw_roundtrip",
    oracle="""
SELECT '10101' AS watermark, '10101' AS extracted, CAST(0.0 AS DOUBLE) AS ber
""",
)
def pipe_scpw_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4→C5 (``SCPW.py:179-252``): embed, extract, report BER.  The
    oracle pins the lossless-roundtrip *invariant*: the parity-forcing
    embed raises every group's agreeing share to ≥ ceil(0.7·n) > n/2,
    so majority decode must return the watermark and BER must be 0.0.
    The md5-of-float32-repr parity itself is engine-tier (pandas UDF);
    carrier counts and noise statistics are asserted in pytest
    (``test_watermarks.py``)."""
    from .operators.grouping import ber
    from .watermark.scpw import scpw_embed, scpw_extract

    emb = load_table(spark, sf_dir, "embeddings")
    wm = "10101"
    wm_df, _ = scpw_embed(emb, wm, strength=0.7, top_k=3, position=10, std_e=0.1)
    extracted = scpw_extract(wm_df, len(wm), top_k=3, position=10)
    return spark.createDataFrame(
        [(wm, extracted, ber(wm, extracted))],
        "watermark string, extracted string, ber double",
    )


@register(
    "pipe_tabularmark_detect",
    oracle="""
SELECT 'watermarked' AS case_name, TRUE AS detected, CAST(100 AS BIGINT) AS nw
UNION ALL
SELECT 'clean' AS case_name, FALSE AS detected, CAST(100 AS BIGINT) AS nw
""",
)
def pipe_tabularmark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6→C7 (``tabularMark.py:117-190``): embed key cells, re-match by
    content id (J4 first-match), z-test; plus the clean-data negative
    control.  The oracle pins the detection *invariants*: watermarked
    data must detect (every key cell carries a green draw, so
    z = 2(ng − nw/2)/√nw ≈ √nw ≫ α) and clean data must not (green
    hits ≈ nw/2 under the null).  The seeded interval partition and the
    exact z/ng values are engine-tier; pytest asserts them
    (``test_watermarks.py``)."""
    from .watermark.tabularmark import tabularmark_detect, tabularmark_embed

    emb = load_table(spark, sf_dir, "embeddings")
    wm_df, keys = tabularmark_embed(emb, nw=100, p=4.0, k=3, position=10)
    pos = tabularmark_detect(emb, wm_df, keys, p=4.0, k=3, position=10)
    neg = tabularmark_detect(emb, emb, keys, p=4.0, k=3, position=10)
    return spark.createDataFrame(
        [
            ("watermarked", pos["detected"], pos["nw"]),
            ("clean", neg["detected"], neg["nw"]),
        ],
        "case_name string, detected boolean, nw long",
    )


@register(
    "a14_robustness_mini",
    oracle="""
SELECT 'tvp' AS scheme, 'random_delete' AS attack,
       CAST(0.7 AS DOUBLE) AS strength, CAST(1.0 AS DOUBLE) AS th,
       CAST(0.0 AS DOUBLE) AS p, CAST(0.0 AS DOUBLE) AS ber
UNION ALL
SELECT 'tvp' AS scheme, 'random_delete' AS attack,
       CAST(0.7 AS DOUBLE) AS strength, CAST(1.0 AS DOUBLE) AS th,
       CAST(0.5 AS DOUBLE) AS p, CAST(0.0 AS DOUBLE) AS ber
""",
)
def a14_robustness_mini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14/C10 (``roubust/roubust.py:226-263``): a 1×2 robustness grid
    cell set — TVP at strength 0.7 under random deletion p ∈ {0.0, 0.5}
    (the full grid is ``experiments.robustness_grid``).

    The oracle pins the robustness *invariants*: the clean cell must be
    BER 0.0 (lossless round-trip — the embed raises every group's
    agreeing share to ≥ ceil(0.7·n) > n/2), and the p = 0.5 cell must
    also be BER 0.0 because the seeded exact-n deletion (W6 keyed-hash
    order, deterministic) leaves each group's agreeing share
    concentrated at 0.7 — at sf0.01 group sizes (n ≈ 400, ~200
    survivors) the share's deviation needed to flip a majority is
    > 6σ of the hypergeometric draw, and the draw itself is fixed by
    the seed. Attack-strength *trends* (BER rising with p at weaker
    strengths) are asserted in pytest (``test_attacks_robustness.py``)."""
    from .experiments import robustness_grid, to_df

    emb = load_table(spark, sf_dir, "embeddings")
    res = robustness_grid(
        emb, "10101", attack="random_delete", strengths=(0.7,), ths=(1.0,),
        ps=(0.0, 0.5), seed=SEED,
    )
    return to_df(spark, res)


@register(
    "a14_modify_mini",
    oracle="""
SELECT 'tvp' AS scheme, 'random_modify' AS attack,
       CAST(0.7 AS DOUBLE) AS strength, CAST(1.0 AS DOUBLE) AS th,
       CAST(0.0 AS DOUBLE) AS p, CAST(0.0 AS DOUBLE) AS ber
UNION ALL
SELECT 'tvp' AS scheme, 'random_modify' AS attack,
       CAST(0.7 AS DOUBLE) AS strength, CAST(1.0 AS DOUBLE) AS th,
       CAST(0.3 AS DOUBLE) AS p, CAST(0.0 AS DOUBLE) AS ber
""",
)
def a14_modify_mini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14/C10, the MODIFICATION column of the compare grid
    (``compare/roubust.py:233-306``; round 10 — the deletion column is
    ``a14_robustness_mini``): TVP at strength 0.7 under ``random_modify``
    p ∈ {0.0, 0.3} — C8's 30-dim-window overwrite wired through the
    grid harness end to end (attack selection, re-extraction, BER).

    The oracle pins the robustness *invariants*: p = 0.0 modifies zero
    rows (⌈n·0⌉ = 0), so BER must be 0.0 (the lossless round-trip);
    at p = 0.3 the strength-0.7 majority margin must also hold —
    ~30% of each group's votes turn to parity noise or stray to other
    groups, leaving the agreeing share ≥ 0.7·0.7/(0.7+0.3) ≈ 0.62 ≫
    0.5, and the keyed-hash attack draw is deterministic at the graded
    fixtures (verified BER 0.0 at both sf0.001 and sf0.01 under
    seed=20). The grid's full modification curves — where the share
    crosses 0.5 and BER rises — are measured in ROBUSTNESS.md (round
    10) and trend-asserted in pytest."""
    from .experiments import robustness_grid, to_df

    emb = load_table(spark, sf_dir, "embeddings")
    res = robustness_grid(
        emb, "10101", attack="random_modify", strengths=(0.7,), ths=(1.0,),
        ps=(0.0, 0.3), seed=SEED,
    )
    return to_df(spark, res)


@register(
    "w5_largest_component",
    oracle=_components_oracle(
        """
  , sizes AS (SELECT component, count(*) AS n_nodes FROM comp GROUP BY component)
  SELECT CAST(max(n_nodes) AS BIGINT) AS largest_component,
         CAST(count(*) AS BIGINT) AS n_components,
         CAST(sum(CASE WHEN n_nodes <= 10 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_small_clusters
  FROM sizes
"""
    ),
)
def w5_largest_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 (``max(clusters, key=len)``, ``t_vector/e1:159``) + F4
    small-cluster filter: component size distribution of the
    mutual-kNN graph — largest component plus the ≤10-member cluster
    count. Oracle: recursive reachability closure over the same mutual
    edges (component = min reachable vec_id, like the Spark
    label-propagation fixpoint)."""
    from .operators import graph, knn

    emb = load_table(spark, sf_dir, "embeddings")
    # one-pass mutual graph (optimization round 13, see mutual_edges)
    mutual = graph.mutual_edges(knn.knn_edges(emb, k=K))
    comp = graph.connected_components(
        mutual.withColumn("dist", F.lit(0.0)).withColumn("rank", F.lit(1)),
        emb,
        assume_symmetric=True,
    )
    sizes = graph.component_sizes(comp).persist()
    return spark.createDataFrame(
        [
            (
                sizes.agg(F.max("n_nodes")).head()[0],
                sizes.count(),
                sizes.filter(F.col("n_nodes") <= 10).count(),
            )
        ],
        "largest_component long, n_components long, n_small_clusters long",
    )


@register(
    "rel_shipping_priority",
    oracle="""
SELECT l.l_orderkey, o.o_orderdate,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-01'
  AND l.l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
)
def rel_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (not in the reference; relational coverage): a
    fact-fact shuffle join (orders ⋈ lineitem on orderkey) under a
    filtered dimension semi-side, grouped top-k by revenue. The
    customer filter is broadcast-eligible (threshold-chosen, never
    forced — customer scales with sf); the big join shuffles both sides on
    the join key; ties break on l_orderkey so the limit is
    deterministic cross-engine."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-06-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-06-01"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey, "left_semi")
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ------------------------------------------------------- temporal joins
# (north-star extensions — no reference analogue; the reference has no
# timestamps. Spark lacks both operators natively; see operators/temporal.py
# for the shuffle-once / banded formulations.)


@register(
    "rel_asof_purchase_view",
    oracle="""
WITH p AS (
  SELECT event_id, user_id, ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, ts, event_id, value AS view_value
  FROM events WHERE event_type = 'view'
)
SELECT p.event_id, p.user_id, p.ts, round(p.purchase_value, 6) AS purchase_value,
  (SELECT v.ts FROM v WHERE v.user_id = p.user_id AND v.ts <= p.ts
   ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS view_ts,
  round((SELECT v.view_value FROM v WHERE v.user_id = p.user_id AND v.ts <= p.ts
   ORDER BY v.ts DESC, v.event_id DESC LIMIT 1), 6) AS view_value,
  (SELECT epoch_us(p.ts) - epoch_us(v.ts) FROM v
   WHERE v.user_id = p.user_id AND v.ts <= p.ts
   ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS gap_us
FROM p
""",
)
def rel_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (extension): every purchase event picks the same
    user's most recent at-or-prior view event — the classic
    "state at event time" lookup. One shuffle on user_id, no join
    operator (union + running last-non-null window); unmatched
    purchases keep nulls."""
    from .operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", F.col("value").alias("view_value")
    )
    out = asof_join(
        purchases,
        views,
        on=["user_id"],
        right_cols=["view_value"],
        tiebreak="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("purchase_value", 6).alias("purchase_value"),
        F.col("ts_right").alias("view_ts"),
        F.round("view_value_right", 6).alias("view_value"),
        (F.unix_micros("ts") - F.unix_micros("ts_right")).alias("gap_us"),
    )


@register(
    "rel_range_activity",
    oracle="""
WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
SELECT e.event_id, e.user_id, e.ts,
       CAST(count(c.ts) AS BIGINT) AS n_prior_clicks
FROM e LEFT JOIN c
  ON e.user_id = c.user_id
 AND epoch_us(c.ts) / 1000000.0 >= epoch_us(e.ts) / 1000000.0 - 600.0
 AND epoch_us(c.ts) / 1000000.0 <  epoch_us(e.ts) / 1000000.0
GROUP BY e.event_id, e.user_id, e.ts
""",
)
def rel_range_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join (extension): per error event, how many clicks
    the same user made in the preceding 10 minutes. The band-bucket
    equi-join bounds candidates to rows within one band — the
    100 TB-safe shape for interval joins (an inequality-only theta
    join degenerates to a per-key cross product)."""
    from .operators.temporal import range_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    pairs = range_join(
        errors, clicks, on=["user_id"], lower_sec=-600.0, upper_sec=0.0
    )
    counts = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_prior_clicks")
    )
    return (
        errors.join(counts, on="event_id", how="left")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.coalesce(F.col("n_prior_clicks"), F.lit(0))
            .cast("long")
            .alias("n_prior_clicks"),
        )
    )


@register(
    "ext_contamination",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
),
w AS (
  SELECT doc_id,
         array_to_string(toks[i * 4 + 1 : i * 4 + 8], ' ') AS win
  FROM t, LATERAL (
    SELECT unnest(range(0, greatest(CAST(floor((len(toks) - 8) / 4.0) AS INTEGER) + 1, 1))) AS i
  )
),
f AS (
  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(win), 1, 15) AS BIGINT) AS fp FROM w
),
c AS (SELECT doc_id AS corpus_doc, fp FROM f WHERE doc_id % 2 = 0),
p AS (SELECT doc_id AS probe_doc, fp FROM f WHERE doc_id % 2 = 1)
SELECT corpus_doc,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_shared_windows,
       CAST(count(DISTINCT probe_doc) AS BIGINT) AS n_probe_docs,
       min(probe_doc) AS first_probe_doc
FROM c JOIN p USING (fp)
GROUP BY corpus_doc
""",
)
def ext_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus contamination scan (extension): training docs
    (even doc_id) whose rolling 8-token windows also occur in the
    probe/eval set (odd doc_id). Broadcast fingerprint semi-structure;
    see operators/text.py:contamination_scan for the 100 TB shape."""
    from .operators.text import contamination_scan

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    probe = docs.filter(F.col("doc_id") % 2 == 1)
    return contamination_scan(corpus, probe, window_tokens=8, stride=4)


_PQ_M, _PQ_KSUB, _PQ_DS, _PQ_REFINE = 16, 64, 4, 50


@register(
    "ext_pq_topk",
    oracle=f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS c, embedding
  FROM (SELECT vec_id, embedding,
               CAST('0x' || substr(md5(concat('pq_', CAST(vec_id AS VARCHAR))), 1, 15) AS BIGINT) AS h
        FROM embeddings)
  ORDER BY h, vec_id LIMIT {_PQ_KSUB}
),
sub AS (
  SELECT e.vec_id, j.j, c.c,
         round(list_sum(list_transform(range(j.j * {_PQ_DS} + 1, j.j * {_PQ_DS} + {_PQ_DS} + 1),
           i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
              * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))), 6) AS d6,
         CAST(round(list_sum(list_transform(range(j.j * {_PQ_DS} + 1, j.j * {_PQ_DS} + {_PQ_DS} + 1),
           i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
              * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))) * 1e6) AS BIGINT) AS dmic
  FROM embeddings e, LATERAL (SELECT unnest(range(0, {_PQ_M})) AS j) j, cent c
),
codes AS (
  SELECT vec_id, j, c FROM (
    SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d6, c) AS rn
    FROM sub
  ) WHERE rn = 1
),
cand AS (
  SELECT qs.vec_id AS src, bc.vec_id AS dst, sum(qs.dmic) AS dq
  FROM codes bc JOIN sub qs ON qs.j = bc.j AND qs.c = bc.c
  WHERE qs.vec_id < 50 AND bc.vec_id <> qs.vec_id
  GROUP BY 1, 2
),
ref AS (
  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dq, dst) AS crank
  FROM cand
),
ex AS (
  SELECT r.src, r.dst,
         sqrt(list_sum(list_transform(range(1, {D + 1}),
           i -> (CAST(eb.embedding[i] AS DOUBLE) - CAST(eq.embedding[i] AS DOUBLE))
              * (CAST(eb.embedding[i] AS DOUBLE) - CAST(eq.embedding[i] AS DOUBLE))))) AS dist
  FROM ref r
  JOIN embeddings eq ON r.src = eq.vec_id
  JOIN embeddings eb ON r.dst = eb.vec_id
  WHERE r.crank <= {_PQ_REFINE}
)
SELECT src, dst, round(dist, 6) AS dist,
       CAST(row_number() OVER (PARTITION BY src ORDER BY {_DIST_RANK}, dst) AS INTEGER) AS rank
FROM ex QUALIFY rank <= 5
""",
)
def ext_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (extension): 16 subspaces × 64
    hash-sampled centroids (4 bytes/vector — a 64× working-set cut),
    asymmetric-distance candidate scan to top-50, exact float64 rerank
    to top-5. The deterministic codebook keeps quantization, ADC
    ranking, and rerank fully replayed by the oracle; recall vs the
    exact tier is pinned ≥ 0.9 in pytest."""
    from .operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    out = pq_topk(
        queries, emb, k=5, refine=_PQ_REFINE, m=_PQ_M, nbits=6, exclude_self=True
    )
    return out.select("src", "dst", F.round("dist", 6).alias("dist"), "rank")



@register(
    "ext_sq_topk",
    oracle=f"""
WITH b AS (
  SELECT min(CAST(u AS DOUBLE)) AS lo, max(CAST(u AS DOUBLE)) AS hi
  FROM (SELECT unnest(embedding) AS u FROM embeddings)
),
codes AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
           x -> CAST(greatest(least(floor((CAST(x AS DOUBLE) - b.lo) / (b.hi - b.lo) * 256), 255), 0) AS INTEGER)) AS c
  FROM embeddings, b
),
cand AS (
  SELECT q.vec_id AS src, t.vec_id AS dst,
         list_sum(list_transform(range(1, {D + 1}),
           i -> CAST((q.c[i] - t.c[i]) * (q.c[i] - t.c[i]) AS BIGINT))) AS dq
  FROM codes q JOIN codes t ON t.vec_id <> q.vec_id
  WHERE q.vec_id < 50
),
ref AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dq, dst) AS crank
  FROM cand
),
ex AS (
  SELECT r.src, r.dst,
         sqrt(list_sum(list_transform(range(1, {D + 1}),
           i -> (CAST(eb.embedding[i] AS DOUBLE) - CAST(eq.embedding[i] AS DOUBLE))
              * (CAST(eb.embedding[i] AS DOUBLE) - CAST(eq.embedding[i] AS DOUBLE))))) AS dist
  FROM ref r
  JOIN embeddings eq ON r.src = eq.vec_id
  JOIN embeddings eb ON r.dst = eb.vec_id
  WHERE r.crank <= 20
)
SELECT src, dst, round(dist, 6) AS dist,
       CAST(row_number() OVER (PARTITION BY src ORDER BY {_DIST_RANK}, dst) AS INTEGER) AS rank
FROM ex QUALIFY rank <= 5
""",
)
def ext_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN (extension): uint8 codes from global
    min/max bounds, integer-distance candidate scan (top-20), exact
    float64 rerank to top-5 — the memory-bandwidth tier between IVF
    routing and exact rerank at 100 TB. Deterministic end to end; the
    oracle replays quantization, candidate ranking, and rerank."""
    from .operators.similarity import sq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    out = sq_topk(queries, emb, k=5, refine=20, exclude_self=True)
    return out.select("src", "dst", F.round("dist", 6).alias("dist"), "rank")


_BM25_TERMS = ["join", "query", "scan", "stream", "table"]


_BM25_CTES = f"""t AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
),
u AS (
  SELECT doc_id, tok AS term
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) WHERE length(tok) > 0
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM u GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
q AS (SELECT unnest({_BM25_TERMS!r}) AS term),
dfq AS (SELECT term, count(*) AS df FROM tf JOIN q USING (term) GROUP BY term),
consts AS (
  SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n_docs,
         (SELECT avg(dl) FROM dl) AS avgdl
),
m AS (
  SELECT tf.doc_id,
         ln((consts.n_docs - CAST(dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
            / (CAST(dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
         * (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
         / (CAST(tf.tf AS DOUBLE)
            + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
              + (CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE)) / consts.avgdl))
         AS term_score
  FROM tf JOIN q USING (term) JOIN dfq USING (term) JOIN dl USING (doc_id), consts
)"""


@register(
    "ext_bm25_search",
    oracle="WITH " + _BM25_CTES + """
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
       round(sum(term_score), 6) AS score
FROM m GROUP BY doc_id
""",
)
def ext_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring (extension): every document scored
    against a fixed query bag — the inverted-index curation primitive.
    Query terms broadcast against the tf relation; the corpus never
    shuffles at query time."""
    from .operators.relevance import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    out = bm25_scores(docs, _BM25_TERMS, k1=1.2, b=0.75)
    return out.select(
        "doc_id", "n_hit_terms", F.round("score", 6).alias("score")
    )


def _hybrid_oracle() -> str:
    from .operators.embedding import _default_model

    qv = [round(float(x), 6) for x in _default_model([list(_BM25_TERMS)])[0]]
    qlist = "[" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in qv) + "]"
    return (
        "WITH "
        + _BM25_CTES
        + f""",
bm AS (SELECT doc_id, sum(term_score) AS score FROM m GROUP BY doc_id),
lx AS (
  SELECT doc_id, row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS lex_rank
  FROM bm QUALIFY lex_rank <= 100
),
contrib AS (
  SELECT doc_id, CAST(j.j * 16 + k.k AS INTEGER) AS dim,
         SUM(CAST('0x' || substr(md5(concat('enc_', j.j, '_', term)), k.k * 2 + 1, 2)
             AS BIGINT) - 128) AS s
  FROM u,
       LATERAL (SELECT unnest(range(0, 4)) AS j) j,
       LATERAL (SELECT unnest(range(0, 16)) AS k) k
  GROUP BY doc_id, dim
),
nrm AS (
  SELECT doc_id, sqrt(SUM(CAST(s AS DOUBLE) * s)) AS n FROM contrib GROUP BY doc_id
),
ev AS (
  SELECT c.doc_id,
         list(round(CASE WHEN n.n = 0 THEN 0 ELSE c.s / n.n END, 6) ORDER BY c.dim) AS emb
  FROM contrib c JOIN nrm n USING (doc_id) GROUP BY c.doc_id
),
sem0 AS (
  SELECT doc_id,
         list_sum(list_transform(list_zip(emb, {qlist}), p -> p[1] * p[2])) AS cos
  FROM ev
),
sx AS (
  SELECT doc_id, row_number() OVER (ORDER BY {_COS_RANK} DESC, doc_id) AS sem_rank
  FROM sem0 QUALIFY sem_rank <= 100
)
SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
       CAST(l.lex_rank AS INTEGER) AS lex_rank,
       CAST(s.sem_rank AS INTEGER) AS sem_rank,
       round(coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), CAST(0 AS DOUBLE))
           + coalesce(CAST(1.0 AS DOUBLE) / (60 + s.sem_rank), CAST(0 AS DOUBLE)), 6)
         AS rrf_score
FROM lx l FULL JOIN sx s ON l.doc_id = s.doc_id
ORDER BY (coalesce(CAST(1.0 AS DOUBLE) / (60 + l.lex_rank), CAST(0 AS DOUBLE))
        + coalesce(CAST(1.0 AS DOUBLE) / (60 + s.sem_rank), CAST(0 AS DOUBLE))) DESC,
         coalesce(l.doc_id, s.doc_id)
LIMIT 20
"""
    )


@register("ext_hybrid_search", oracle=_hybrid_oracle())
def ext_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (``operators.relevance.hybrid_search``): BM25
    and embedding-cosine rankings over the same query bag fused by
    Reciprocal Rank Fusion, top 20. The oracle replays both retriever
    pipelines (BM25 CTEs; the deterministic batch encoder + sequential
    dot fold) and the fusion arithmetic."""
    from .operators.relevance import hybrid_search

    docs = load_table(spark, sf_dir, "documents")
    out = hybrid_search(docs, _BM25_TERMS, n_list=100, k=20)
    return out.select(
        "doc_id",
        F.col("lex_rank").cast("int").alias("lex_rank"),
        F.col("sem_rank").cast("int").alias("sem_rank"),
        "rrf_score",
    )


@register(
    "ext_corpus_split",
    oracle="""
WITH b AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(concat('split_',
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))), 1, 15) AS BIGINT) % 1000
           AS bucket
  FROM documents
)
SELECT doc_id,
       CASE WHEN bucket < 800 THEN 'train'
            WHEN bucket < 900 THEN 'val'
            ELSE 'test' END AS split
FROM b
""",
)
def ext_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-keyed train/val/test split (extension):
    the bucket is a pure function of the normalized content, so the
    assignment survives re-ingestion and renumbering, and exact
    duplicates always land in the same split (no leakage through dup
    pairs)."""
    from .operators.relevance import corpus_split

    docs = load_table(spark, sf_dir, "documents")
    return corpus_split(docs)


@register(
    "ext_stratified_sample",
    oracle="""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY CAST('0x' || substr(md5(concat('strat_42_', CAST(doc_id AS VARCHAR))), 1, 15) AS BIGINT),
                    doc_id
         ) AS rn
  FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rn <= 20
""",
)
def ext_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-n stratified sample (extension): 20 documents per
    language, drawn deterministically by keyed-hash order — the
    corpus-balancing primitive (generalizes the reference's W6 exact-n
    uniform sampling idiom to per-stratum quotas)."""
    from .operators.sampling import stratified_exact_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_exact_sample(
        docs, group_col="lang", n_per_group=20, key_col="doc_id", seed=42
    )


@register(
    "ext_repetition",
    oracle="""
WITH t AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
),
base AS (
  SELECT doc_id, toks, len(toks) AS n,
         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
  FROM t
),
u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
c AS (SELECT doc_id, tok, count(*) AS cnt FROM u GROUP BY doc_id, tok),
mx AS (SELECT doc_id, max(cnt) AS max_uni, count(*) AS n_distinct FROM c GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.n AS INTEGER) AS n_tokens,
       round(CAST(mx.n_distinct AS DOUBLE) / b.n, 6) AS distinct_ratio,
       round(CAST(mx.max_uni AS DOUBLE) / b.n, 6) AS top_unigram_frac,
       round(CASE WHEN len(b.bigrams) > 0
                  THEN 1 - CAST(len(list_distinct(b.bigrams)) AS DOUBLE) / len(b.bigrams)
                  ELSE 0 END, 6) AS dup_bigram_frac
FROM base b JOIN mx USING (doc_id)
""",
)
def ext_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (extension): distinct-token
    ratio, top-unigram fraction, duplicate-bigram fraction — the
    boilerplate/degenerate-text filter for pretraining corpora. All
    per-row native expressions (sorted-run fold for the unigram mode);
    the plan is scan+project with no shuffle at any corpus size."""
    from .operators.text import repetition_features

    docs = load_table(spark, sf_dir, "documents")
    return repetition_features(docs)


# Deterministic PII augmentation: the synthetic corpus carries no
# organic emails/IPs/phones, so the query plants one per residue class
# as a pure function of doc_id — identically in Spark and the oracle —
# making the regex machinery observable (nonzero counts, changed
# lengths) while staying replayable.
_PII_AUG_SQL = """
  text
  || CASE WHEN doc_id % 7 = 0
          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
          ELSE '' END
  || CASE WHEN doc_id % 11 = 0
          THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
               || '.25 call +1 555-123-4567'
          ELSE '' END
"""


@register(
    "ext_pii_scrub",
    oracle=f"""
WITH aug AS (
  SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents
),
red AS (
  SELECT doc_id, text,
         regexp_replace(
           regexp_replace(
             regexp_replace(text,
               '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}', '[PII]', 'g'),
             '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '[PII]', 'g'),
           '\\+?\\d{{3}}[- ]\\d{{3}}[- ]\\d{{4}}', '[PII]', 'g') AS redacted
  FROM aug
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}')) AS INTEGER) AS n_email,
       CAST(len(regexp_extract_all(text, '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b')) AS INTEGER) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '\\+?\\d{{3}}[- ]\\d{{3}}[- ]\\d{{4}}')) AS INTEGER) AS n_phone,
       CAST(length(redacted) AS INTEGER) AS redacted_len,
       CAST('0x' || substr(md5(redacted), 1, 15) AS BIGINT) AS redacted_h60
FROM red
""",
)
def ext_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (extension): per-doc email/IPv4/phone
    match counts and the redacted text's length + content hash. The
    corpus-scrub pass every public pretraining pipeline runs (C4,
    Dolma). Native JVM regex per row — no shuffle, linear scan; the
    patterns live in the Java-regex ∩ RE2 subset so the oracle replays
    them byte-identically."""
    from .operators.text import pii_features

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".25 call +1 555-123-4567"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_features(aug)


_MIX_QUOTAS = {"en": 50, "fr": 15, "de": 15, "es": 10, "zh": 5}


@register(
    "ext_source_mix",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY CAST('0x' || substr(md5(concat('strat_7_', CAST(doc_id AS VARCHAR))), 1, 15) AS BIGINT),
                    doc_id
         ) AS rn
  FROM documents
)
SELECT doc_id, lang, source FROM ranked
WHERE rn <= CASE lang WHEN 'en' THEN 50 WHEN 'fr' THEN 15 WHEN 'de' THEN 15
                      WHEN 'es' THEN 10 WHEN 'zh' THEN 5 ELSE 0 END
""",
)
def ext_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixing by per-stratum quotas (extension): draw each
    language at a target rate (the ``_MIX_QUOTAS`` recipe) via the
    deterministic keyed-hash order — the domain-reweighting pass that
    assembles a pretraining mix from skewed raw sources. One shuffle
    on the stratum key; the literal max-quota bound keeps the
    WindowGroupLimit rewrite applicable (map-side top-N)."""
    from .operators.sampling import stratified_exact_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_exact_sample(
        docs, group_col="lang", n_per_group=_MIX_QUOTAS, key_col="doc_id", seed=7
    )


@register(
    "ext_weighted_sample",
    oracle="""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         ln((CAST('0x' || substr(md5(concat('wsamp_11_', CAST(doc_id AS VARCHAR))), 1, 15) AS BIGINT) + 1)
            / CAST(1152921504606846976 AS DOUBLE))
         / CAST(n_chars AS DOUBLE) AS k
  FROM documents
)
SELECT doc_id, lang, n_chars FROM keyed
ORDER BY k DESC, doc_id LIMIT 60
""",
)
def ext_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted exact-n sample (extension): 60 documents drawn with
    probability proportional to length (Efraimidis–Spirakis A-ES,
    ln(u)/w top-n) — the temperature-mixing primitive (upweight
    high-quality or underrepresented sources by transforming the
    weight). TakeOrdered top-n, never a full sort; the keyed-hash
    uniform makes the draw deterministic and the oracle replays the
    key arithmetic bit-for-bit."""
    from .operators.sampling import weighted_exact_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_exact_sample(
        docs, n=60, weight_col="n_chars", key_col="doc_id", seed=11
    )


@register(
    "rel_salted_join",
    oracle="""
SELECT o.o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o.o_totalprice), 2) AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_custkey
""",
)
def rel_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-dim join (extension): same result as the plain
    equi-join — the oracle IS the plain join — but hot fact keys
    scatter over 8 salt sub-keys, the skew shape AQE's runtime split
    can't always fix (see ``operators.skew``). Registered past the
    grading window as the locally-checked demonstration that salting
    is semantics-preserving."""
    from .operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    j = salted_join(o, c, on="o_custkey", n_salt=8)
    return j.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "ext_zorder_cells",
    oracle="""
WITH b AS (
  SELECT event_id,
         ntile(8) OVER (ORDER BY user_id, value, event_id) - 1 AS za,
         ntile(8) OVER (ORDER BY value, user_id, event_id) - 1 AS zb
  FROM events
)
SELECT event_id,
       CAST(za AS INTEGER) AS za,
       CAST(zb AS INTEGER) AS zb,
       CAST(((za & 1) * 2 + (zb & 1))
            + (((za >> 1) & 1) * 2 + ((zb >> 1) & 1)) * 4
            + (((za >> 2) & 1) * 2 + ((zb >> 2) & 1)) * 16 AS BIGINT) AS zkey
FROM b
""",
)
def ext_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout cells (extension — table-maintenance family,
    ``operators.maintenance``): rank-bucket (user_id, value) into an
    8x8 grid and interleave the bucket bits into the Morton key that
    ``zorder_by`` range-partitions on. The oracle replays the exact
    curve (ntile + bit weave) in SQL; the layout effect itself
    (bounded per-file span on BOTH dims → footer-stats pruning for
    either predicate) is pinned by tests/test_maintenance.py. Exact
    tier (global ntile) is graded; ``zorder_key_binned`` is the
    broadcast-quantile 100 TB tier."""
    from .operators.maintenance import zorder_key

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    bucketed, zkey = zorder_key(
        ev, "user_id", "value", bits=3, tiebreak="event_id"
    )
    return bucketed.select(
        "event_id",
        F.col("_za").alias("za"),
        F.col("_zb").alias("zb"),
        zkey,
    ).withColumnRenamed("_zkey", "zkey")


@register(
    "ext_contamination_bloom",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
),
w AS (
  SELECT doc_id,
         array_to_string(toks[i * 4 + 1 : i * 4 + 8], ' ') AS win
  FROM t, LATERAL (
    SELECT unnest(range(0, greatest(CAST(floor((len(toks) - 8) / 4.0) AS INTEGER) + 1, 1))) AS i
  )
),
f AS (
  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(win), 1, 15) AS BIGINT) AS fp FROM w
),
c AS (SELECT doc_id AS corpus_doc, fp FROM f WHERE doc_id % 2 = 0),
p AS (SELECT doc_id AS probe_doc, fp FROM f WHERE doc_id % 2 = 1)
SELECT corpus_doc,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_shared_windows,
       CAST(count(DISTINCT probe_doc) AS BIGINT) AS n_probe_docs,
       min(probe_doc) AS first_probe_doc
FROM c JOIN p USING (fp)
GROUP BY corpus_doc
""",
)
def ext_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered contamination scan (extension): identical
    semantics — and oracle — to ``ext_contamination``, but the corpus
    fingerprint stream is cut by a broadcast Bloom bitmap (native
    bit_or aggregate + k-probe membership expression; the public-API
    rebuild of Catalyst's runtime row-level filter) before the exact
    join verifies survivors. The bitmap ships ~2 bytes per probe
    window vs tens per row for a broadcast relation — the version of
    this query that still works when the corpus is 100 TB and the
    probe suite is every benchmark you own."""
    from .operators.text import contamination_scan_bloom

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    probe = docs.filter(F.col("doc_id") % 2 == 1)
    # m pinned a priori (suite size is known): skips the sizing count
    # action; 2^21 bits ≥ 16 bits/key through sf0.1's ~60k windows
    return contamination_scan_bloom(
        corpus, probe, window_tokens=8, stride=4, m_bits=1 << 21
    )


@register(
    "ext_corpus_drift",
    oracle="""
WITH bounds AS (
  SELECT CAST(min(n_chars) AS DOUBLE) AS lo,
         greatest((CAST(max(n_chars) AS DOUBLE) - CAST(min(n_chars) AS DOUBLE)) / 10,
                  CAST(1e-12 AS DOUBLE)) AS w
  FROM documents
),
b AS (
  SELECT source AS grp,
         LEAST(CAST(floor((CAST(n_chars AS DOUBLE) - lo) / w) AS INTEGER), 9) AS bin
  FROM documents, bounds
),
per AS (SELECT grp, bin, count(*) AS n FROM b GROUP BY 1, 2),
grid AS (
  SELECT grp, CAST(i AS INTEGER) AS bin
  FROM (SELECT DISTINCT grp FROM per), range(10) t(i)
),
filled AS (
  SELECT g.grp, g.bin, coalesce(p.n, 0) AS n
  FROM grid g LEFT JOIN per p ON g.grp = p.grp AND g.bin = p.bin
),
gt AS (SELECT grp, sum(n) AS n_grp FROM filled GROUP BY 1),
af AS (
  SELECT bin,
         (CAST(sum(n) AS DOUBLE) + CAST(0.5 AS DOUBLE))
         / (CAST(sum(sum(n)) OVER () AS DOUBLE) + CAST(5.0 AS DOUBLE)) AS p_all
  FROM filled GROUP BY bin
)
SELECT f.grp AS source,
       round(sum(((CAST(f.n AS DOUBLE) + CAST(0.5 AS DOUBLE))
                    / (CAST(gt.n_grp AS DOUBLE) + CAST(5.0 AS DOUBLE)) - af.p_all)
                 * ln(((CAST(f.n AS DOUBLE) + CAST(0.5 AS DOUBLE))
                       / (CAST(gt.n_grp AS DOUBLE) + CAST(5.0 AS DOUBLE))) / af.p_all)), 6) AS psi,
       CAST(min(gt.n_grp) AS BIGINT) AS n_rows
FROM filled f JOIN gt ON f.grp = gt.grp JOIN af ON f.bin = af.bin
GROUP BY f.grp
""",
)
def ext_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift (extension — pipeline monitoring):
    PSI of each ingest source's document-length distribution against
    the whole corpus (``operators.stats.distribution_drift``) — the
    alarm that catches a crawler or filter silently changing one
    source's data between corpus versions. One scan + histogram-sized
    joins; every aggregate is partial (map-side) first."""
    from .operators.stats import distribution_drift

    docs = load_table(spark, sf_dir, "documents")
    out = distribution_drift(docs, "n_chars", "source", n_bins=10)
    return out.select(
        F.col("grp").alias("source"), "psi", F.col("n_rows").cast("long").alias("n_rows")
    )


# Full 4-stage BPE training chain (word table -> spaced strings ->
# per-stage pair argmax + replace) — shared by ext_bpe_merges and
# ext_bpe_tokens so the trainer and encoder oracles cannot diverge.
_BPE4_CTES = """
WITH words AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
    FROM documents
  ) WHERE regexp_matches(word, '^[a-z0-9]+$')
  GROUP BY word
),
s0 AS (
  SELECT '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') || '_  ' AS s, freq
  FROM words
),
p1 AS (
  SELECT t.toks[i.i] AS l, t.toks[i.i + 1] AS r, sum(t.freq) AS c
  FROM (SELECT string_split(trim(s), '  ') AS toks, freq FROM s0) t,
       LATERAL (SELECT unnest(range(1, len(t.toks))) AS i) i
  GROUP BY 1, 2
),
m1 AS (SELECT l, r, c FROM p1 ORDER BY c DESC, l, r LIMIT 1),
s1 AS (
  SELECT replace(x.s, ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || m.r || ' ') AS s, x.freq
  FROM s0 x, m1 m
),
p2 AS (
  SELECT t.toks[i.i] AS l, t.toks[i.i + 1] AS r, sum(t.freq) AS c
  FROM (SELECT string_split(trim(s), '  ') AS toks, freq FROM s1) t,
       LATERAL (SELECT unnest(range(1, len(t.toks))) AS i) i
  GROUP BY 1, 2
),
m2 AS (SELECT l, r, c FROM p2 ORDER BY c DESC, l, r LIMIT 1),
s2 AS (
  SELECT replace(x.s, ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || m.r || ' ') AS s, x.freq
  FROM s1 x, m2 m
),
p3 AS (
  SELECT t.toks[i.i] AS l, t.toks[i.i + 1] AS r, sum(t.freq) AS c
  FROM (SELECT string_split(trim(s), '  ') AS toks, freq FROM s2) t,
       LATERAL (SELECT unnest(range(1, len(t.toks))) AS i) i
  GROUP BY 1, 2
),
m3 AS (SELECT l, r, c FROM p3 ORDER BY c DESC, l, r LIMIT 1),
s3 AS (
  SELECT replace(x.s, ' ' || m.l || '  ' || m.r || ' ', ' ' || m.l || m.r || ' ') AS s, x.freq
  FROM s2 x, m3 m
),
p4 AS (
  SELECT t.toks[i.i] AS l, t.toks[i.i + 1] AS r, sum(t.freq) AS c
  FROM (SELECT string_split(trim(s), '  ') AS toks, freq FROM s3) t,
       LATERAL (SELECT unnest(range(1, len(t.toks))) AS i) i
  GROUP BY 1, 2
),
m4 AS (SELECT l, r, c FROM p4 ORDER BY c DESC, l, r LIMIT 1)"""


@register(
    "ext_bpe_merges",
    oracle=_BPE4_CTES
    + """
SELECT * FROM (
  SELECT 1 AS rank, l AS lhs, r AS rhs, l || r AS merged, CAST(c AS BIGINT) AS pair_count FROM m1
  UNION ALL
  SELECT 2, l, r, l || r, CAST(c AS BIGINT) FROM m2
  UNION ALL
  SELECT 3, l, r, l || r, CAST(c AS BIGINT) FROM m3
  UNION ALL
  SELECT 4, l, r, l || r, CAST(c AS BIGINT) FROM m4
)
""",
)
def ext_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (extension —
    ``operators.tokenizer``): the first 4 merges learned from the
    documents corpus, word-frequency-table formulation. The oracle
    replays training STAGE FOR STAGE — pair counting over the spaced
    word table, deterministic argmax (count desc, lexicographic), and
    the same plain-``replace`` merge application — so even this
    iterative algorithm is value-hash-checked end to end, not
    rows-only. Scale: one corpus scan builds the word table; each
    merge is a partial-aggregated groupBy over unique words plus a
    1-row argmax collect."""
    from .operators.tokenizer import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = bpe_train(docs, num_merges=4)
    return spark.createDataFrame(
        [
            (m["rank"], m["left"], m["right"], m["merged"], m["pair_count"])
            for m in merges
        ],
        "rank int, lhs string, rhs string, merged string, pair_count long",
    )


@register(
    "ext_graph_triangles",
    oracle=_knn_cte()
    + ","
    + _TRI_CTES
    + """,
per_node AS (
  SELECT n, count(*) AS t FROM (
    SELECT u AS n FROM tri UNION ALL SELECT x FROM tri UNION ALL SELECT y FROM tri
  ) GROUP BY n
)
SELECT emb.vec_id,
       CAST(coalesce(tdeg.d, 0) AS BIGINT) AS degree,
       CAST(coalesce(per_node.t, 0) AS BIGINT) AS n_triangles,
       CASE WHEN coalesce(tdeg.d, 0) >= 2
            THEN round(CAST(2.0 AS DOUBLE) * coalesce(per_node.t, 0)
                       / (tdeg.d * (tdeg.d - 1)), 6)
            ELSE CAST(0.0 AS DOUBLE) END AS clustering
FROM embeddings emb
LEFT JOIN tdeg ON emb.vec_id = tdeg.n
LEFT JOIN per_node ON emb.vec_id = per_node.n
""",
)
def ext_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient over the mutual
    kNN graph (extension — ``operators.graph.triangle_counts``):
    degree-ordered orientation, one triangle per wedge at its lowest
    endpoint, O(m^1.5) join volume. The oracle replays the exact kNN
    edges, orientation, wedge join, and closure in SQL."""
    from .operators import knn
    from .operators.graph import triangle_counts

    emb = load_table(spark, sf_dir, "embeddings")
    edges = knn.knn_edges(emb, k=K)
    return triangle_counts(edges, emb)


@register(
    "ext_bpe_tokens",
    oracle=_BPE4_CTES
    + """,
dwords AS (
  SELECT doc_id, word FROM (
    SELECT doc_id,
           unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
    FROM documents
  ) WHERE regexp_matches(word, '^[a-z0-9]+$')
),
denc AS (
  SELECT doc_id,
         len(string_split(trim(
           replace(replace(replace(replace(
             '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') || '_  ',
             ' ' || m1.l || '  ' || m1.r || ' ', ' ' || m1.l || m1.r || ' '),
             ' ' || m2.l || '  ' || m2.r || ' ', ' ' || m2.l || m2.r || ' '),
             ' ' || m3.l || '  ' || m3.r || ' ', ' ' || m3.l || m3.r || ' '),
             ' ' || m4.l || '  ' || m4.r || ' ', ' ' || m4.l || m4.r || ' ')
         ), '  ')) AS nt
  FROM dwords, m1, m2, m3, m4
)
SELECT doc_id, CAST(sum(nt) AS BIGINT) AS n_tokens
FROM denc GROUP BY doc_id
""",
)
def ext_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING with the trained merges (extension —
    ``operators.tokenizer.bpe_encode``): per-document token counts
    after applying the 4 learned merges. The oracle re-trains the
    merges (shared ``_BPE4_CTES`` chain, so trainer and encoder
    oracles cannot diverge) and replays the encode as the same nested
    ``replace`` chain per word — the full train→encode pipeline is
    value-hash-checked. Encode itself is one shuffle-free projection
    plus the per-doc count aggregation."""
    from .operators.tokenizer import bpe_encode, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = bpe_train(docs, num_merges=4)
    return bpe_encode(docs, merges).select("doc_id", "n_tokens")


def _kcore_oracle(k: int = 6, rounds: int = 12) -> str:
    """Unrolled parallel-peel replay: each round keeps nodes of degree
    ≥ k on the current edge set and restricts edges to kept endpoints.
    The peel converges in ≤ 8 rounds on both fixture scale factors
    (measured); extra unrolled rounds are no-ops at the fixpoint, so
    12 rounds replays the Spark loop's converged answer exactly.
    Every stage is MATERIALIZED — default CTE inlining would expand
    the round chain exponentially (each round reads its predecessor
    twice), re-opening the parquet scan 2^rounds times.

    Fixpoint assertion: the peel shrinks the edge multiset
    monotonically, so equal edge counts in the last two unrolled
    rounds prove convergence. If a future fixture or k needs more
    than ``rounds`` peels, the guard emits a sentinel row (-1, -1)
    that the Spark side can never produce — the compare then fails
    LOUDLY on row count instead of silently diverging from a
    still-correct deeper-converging Spark answer."""
    parts = [
        """
mutual AS MATERIALIZED (
  SELECT e1.src, e1.dst FROM edges e1
  JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src
),
m0 AS MATERIALIZED (SELECT src, dst FROM mutual)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""
r{i} AS MATERIALIZED (
  SELECT src FROM (SELECT src, count(*) AS c FROM m{i-1} GROUP BY src)
  WHERE c >= {k}
),
m{i} AS MATERIALIZED (
  SELECT m.src, m.dst FROM m{i-1} m
  JOIN r{i} a ON m.src = a.src
  JOIN r{i} b ON m.dst = b.src
)"""
        )
    return (
        _knn_cte()
        + ","
        + ",".join(parts)
        + f"""
SELECT src AS vec_id, CAST(count(*) AS BIGINT) AS core_degree
FROM m{rounds} GROUP BY src
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
WHERE (SELECT count(*) FROM m{rounds - 1}) <> (SELECT count(*) FROM m{rounds})
"""
    )


@register("ext_graph_kcore", oracle=_kcore_oracle())
def ext_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the mutual-kNN graph (extension —
    ``operators.graph.k_core``): the maximal subgraph of minimum
    degree ≥ 6, found by iterative parallel peeling (driver tier under
    the broadcast cap; per-round degree-aggregate + anti-join loop
    past it). The oracle replays the peel round for round — another
    iterative algorithm graded by value hash, not rows-only."""
    from .operators import graph, knn

    emb = load_table(spark, sf_dir, "embeddings")
    e = knn.knn_edges(emb, k=K).select("src", "dst")
    # one-pass mutual graph (optimization round 13): the reverse-semi-
    # join shape evaluated the kNN subtree twice in one job
    mutual = graph.mutual_edges(e)
    return graph.k_core(mutual, k=6)


# ----------------------------------------------- streaming replay gates
#
# Bounded batch-replays in the stream_cdc_replay / stream_dedup_replay
# style for the four streaming operators that had no driver-graded
# form through round 5: the stream-stream interval join, streaming
# detection, ingestion dedup (exact + band candidates), and streaming
# curation. Each drives the REAL Structured Streaming operator through
# a file source (one file per trigger) into a memory sink, constructed
# so the converged result is file-discovery-order independent — the
# oracle is then plain batch SQL over the same inputs.

from .registry import L  # noqa: E402
from .registry_ext import (  # noqa: E402
    _MINHASH_CTE,
    _MINHASH_PAIRS_CTES,
    _NORM,
    _hash60_sql,
    _lang_score_sql,
)


def _scratch_dir(tag: str, sf_dir: str) -> str:
    """Per-PROCESS scratch: two concurrent check runs against the same
    scale factor must not clobber each other's replay state (observed:
    a vacuum in one process deleting the snapshot another was
    reading). The pid suffix isolates them; a best-effort sweep of
    same-tag dirs from dead processes keeps the base bounded. The base
    sits under the first ``SPARK_LOCAL_DIRS`` entry (Spark's own scratch
    space), else the system temp dir — never inside the source tree."""
    import tempfile

    local = _os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0]
    base = _os.path.join(local or tempfile.gettempdir(), "vdb_wm_scratch")
    prefix = f"{tag}_{_os.path.basename(sf_dir.rstrip('/'))}"
    try:
        if not _os.path.isdir("/proc"):  # no liveness oracle: never sweep
            raise FileNotFoundError
        for name in _os.listdir(base):
            if not name.startswith(prefix + "_pid"):
                continue
            pid = name.rsplit("_pid", 1)[-1]
            if pid.isdigit() and not _os.path.exists(f"/proc/{pid}"):
                import shutil

                shutil.rmtree(_os.path.join(base, name), ignore_errors=True)
    except FileNotFoundError:
        pass
    return _os.path.join(base, f"{prefix}_pid{_os.getpid()}")


def _sink_name(tag: str, sf_dir: str) -> str:
    base = _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    return f"{tag}_sink_{base}"


def _drain_to_memory(
    stream_df: DataFrame, name: str, mode: str, state_partitions: int = 4
) -> None:
    """Run a stream to completion against a memory sink. Stateful
    operators provision one state store (four for a stream-stream
    join) per shuffle partition per trigger; at replay scale (three
    tiny files) that lifecycle dominates wall time, so the shuffle
    partition count is pinned low for the streaming query only (state
    partitioning is fixed at query start; the session value is
    restored after, leaving batch queries untouched)."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _write_batches(df: DataFrame, key_col: str, out_dir: str, n: int = 3) -> None:
    """Split ``df`` into ``n`` single-file micro-batches keyed on
    ``key_col % n`` (deterministic membership; discovery order is the
    only nondeterminism left, and each replay below is constructed to
    be insensitive to it)."""
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    for b in range(n):
        (
            df.filter(F.pmod(F.col(key_col), F.lit(n)) == b)
            .coalesce(1)
            .write.mode("append")
            .parquet(out_dir)
        )


@register(
    "stream_interval_join_replay",
    oracle="""
WITH v AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
),
p AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT v.user_id AS user_id, v.event_id AS view_id, v.ts AS view_ts,
       p.event_id AS purchase_id, p.ts AS purchase_ts,
       p.value AS purchase_value
FROM v JOIN p ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
""",
)
def stream_interval_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (``streaming.joins``) graded
    end-to-end: the events table's view and purchase slices are
    replayed through two file-source streams (one file per trigger,
    three files each) into the watermarked interval join, append-mode
    memory sink. The watermark delay (365 days) exceeds the fixture's
    whole time span, so no buffered row is ever evicted before its
    matches arrive and the converged append output equals the batch
    interval join EXACTLY regardless of file-discovery order — which
    is what the oracle computes. (Watermark-bounded state eviction
    itself is pytest-covered where arrival order is controlled.)"""
    from .streaming import joins as sjoins

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    scratch = _scratch_dir("sij", sf_dir)
    _write_batches(views, "event_id", _os.path.join(scratch, "views"))
    _write_batches(purchases, "event_id", _os.path.join(scratch, "purchases"))
    schema = "event_id long, user_id long, ts timestamp, value double"
    vs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_os.path.join(scratch, "views"))
    )
    ps = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_os.path.join(scratch, "purchases"))
    )
    out = sjoins.attribution_join_streams(
        vs, ps, horizon="1 hour", watermark="365 days"
    )
    name = _sink_name("sij", sf_dir)
    spark.catalog.dropTempView(name)
    _drain_to_memory(out, name, "append")
    return spark.table(name)


@register(
    "stream_interval_join_left_replay",
    oracle="""
WITH v AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
),
p AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT v.user_id AS user_id, v.event_id AS view_id, v.ts AS view_ts,
       p.event_id AS purchase_id, p.ts AS purchase_ts,
       p.value AS purchase_value
FROM v LEFT JOIN p ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
""",
)
def stream_interval_join_left_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join graded end-to-end — the
    attribution join's other half: views with NO purchase inside the
    horizon must surface null-padded, and in streaming Spark may only
    emit such a row once the watermark proves no match can still
    arrive (state-certified negation, the genuinely streaming-hard
    part of outer joins).

    Replay design: one file per side carrying the full slice PLUS a
    far-future sentinel row (user_id −1, max_ts + 10 days) on both
    sides. The single trigger joins everything (no late-arrival
    hazard), the sentinel then advances both sides' watermarks
    (delay 1 minute) past every real view's ``view_ts + horizon``, and
    the follow-up no-data batch flushes every unmatched view as a
    null-padded append row. Sentinels themselves stay in state (their
    own eviction point is never passed) and are filtered here. The
    converged output is trigger-slicing-independent, so the oracle is
    the batch LEFT JOIN."""
    from .streaming import joins as sjoins

    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts").alias("m")).head()["m"]

    def side(event_type: str, cols: list[str]) -> DataFrame:
        real = ev.filter(F.col("event_type") == event_type).select(*cols)
        sentinel = spark.range(1).select(
            F.lit(-1).cast("long").alias("event_id"),
            F.lit(-1).cast("long").alias("user_id"),
            (F.lit(max_ts) + F.expr("INTERVAL 10 DAYS")).alias("ts"),
            F.lit(0.0).alias("value"),
        ).select(*cols)
        return real.unionByName(sentinel)

    cols = ["event_id", "user_id", "ts", "value"]
    scratch = _scratch_dir("sijl", sf_dir)
    import shutil

    shutil.rmtree(scratch, ignore_errors=True)
    for name_, et in (("views", "view"), ("purchases", "purchase")):
        side(et, cols).coalesce(1).write.mode("overwrite").parquet(
            _os.path.join(scratch, name_)
        )
    schema = "event_id long, user_id long, ts timestamp, value double"
    vs = spark.readStream.schema(schema).parquet(_os.path.join(scratch, "views"))
    ps = spark.readStream.schema(schema).parquet(
        _os.path.join(scratch, "purchases")
    )
    joined = sjoins.interval_join(
        vs,
        ps,
        on="user_id",
        horizon="1 hour",
        watermark="1 minute",
        left_prefix="v",
        right_prefix="p",
        how="left_outer",
    )
    out = joined.select(
        F.col("v_user_id").alias("user_id"),
        F.col("v_event_id").alias("view_id"),
        F.col("v_ts").alias("view_ts"),
        F.col("p_event_id").alias("purchase_id"),
        F.col("p_ts").alias("purchase_ts"),
        F.col("p_value").alias("purchase_value"),
    )
    name = _sink_name("sijl", sf_dir)
    spark.catalog.dropTempView(name)
    _drain_to_memory(out, name, "append")
    return spark.table(name).filter(F.col("user_id") >= 0)


@register(
    "stream_detection_replay",
    oracle=QUERIES["a1_group_classify"].oracle,
)
def stream_detection_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming watermark detection (``streaming.detection``) graded
    end-to-end: the embeddings table replayed through a file source
    (one file per trigger, three files) into the incremental
    group/classify aggregate, complete-mode memory sink. The running
    (group_id, hidden_bit) counts are a pure aggregation over all rows
    seen, so the converged snapshot is arrival-order independent and
    the oracle is EXACTLY the batch A1 query's oracle — stream and
    batch detection must agree bit for bit."""
    from .streaming import detection

    emb = load_table(spark, sf_dir, "embeddings")
    scratch = _scratch_dir("sdet", sf_dir)
    _write_batches(
        emb.select("vec_id", "embedding", "label"), "vec_id", scratch
    )
    stream = detection.stream_embeddings_from_files(spark, scratch)
    counts = detection.streaming_group_counts(stream, L=L, d=D, seed=SEED)
    name = _sink_name("sdet", sf_dir)
    spark.catalog.dropTempView(name)
    _drain_to_memory(counts, name, "complete")
    return spark.table(name)


# Ingestion replay inputs: the corpus is doc_id % 4 != 3; the stream
# is the held-out quarter PLUS exact copies (shifted ids) of every
# 16th corpus doc, so the exact-dup and band-collision paths both
# have guaranteed hits (the synthetic corpus has no natural dups).
_INGEST_STREAM_SQL = f"""
  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 3
  UNION ALL
  SELECT doc_id + 20000000 AS doc_id, text FROM documents
  WHERE doc_id % 4 <> 3 AND doc_id % 16 = 0
"""


def _ingest_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 4 != 3)
    stream_batch = docs.filter(F.col("doc_id") % 4 == 3).unionByName(
        corpus.filter(F.col("doc_id") % 16 == 0).withColumn(
            "doc_id", F.col("doc_id") + 20_000_000
        )
    )
    return corpus, stream_batch


@register(
    "stream_ingest_replay",
    oracle=f"""
WITH ck AS (
  SELECT {_hash60_sql(_NORM)} AS content_key,
         CAST(min(doc_id) AS BIGINT) AS match_doc_id
  FROM documents WHERE doc_id % 4 <> 3 GROUP BY 1
),
s AS ({_INGEST_STREAM_SQL}),
sk AS (SELECT doc_id, {_hash60_sql(_NORM)} AS content_key FROM s)
SELECT sk.doc_id,
       CASE WHEN ck.match_doc_id IS NOT NULL
            THEN 'exact_dup' ELSE 'unknown' END AS status,
       ck.match_doc_id
FROM sk LEFT JOIN ck USING (content_key)
""",
)
def stream_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion exact-dedup (``streaming.ingest``) graded
    end-to-end: the held-out+copies stream replayed through a file
    source into the stateless stream-static left join against the
    corpus content-key table (canonical = min doc_id per key), append
    sink. Stateless ⇒ the output multiset is trigger-slicing and
    discovery-order independent; the oracle is the equivalent batch
    left join."""
    from .streaming import ingest
    from .functions.hashing import hash60
    from .operators.dedup import normalize_text

    corpus, stream_batch = _ingest_inputs(spark, sf_dir)
    corpus_keys = (
        corpus.select(
            hash60(normalize_text("text")).alias("content_key"), "doc_id"
        )
        .groupBy("content_key")
        .agg(F.min("doc_id").alias("match_doc_id"))
    )
    scratch = _scratch_dir("sing", sf_dir)
    _write_batches(stream_batch, "doc_id", scratch)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(scratch)
    )
    out = ingest.ingest_exact_dedup_stream(stream, corpus_keys)
    name = _sink_name("sing", sf_dir)
    spark.catalog.dropTempView(name)
    _drain_to_memory(out, name, "append")
    return spark.table(name)


def _mh_band_ctes(pfx: str, src_sql: str, num_hashes: int = 8) -> str:
    """Prefixed minhash-band CTE chain over an arbitrary (doc_id,
    text) source — the two-sided generalization of registry_ext's
    ``_MINHASH_CTE``/band fragment (same shingling, same universal
    hash family, same band hashing, so the streaming per-row signature
    is held to the proven batch-tier math)."""
    from .operators.dedup import MINHASH_P, minhash_coeffs

    mh_cols = ", ".join(
        f"min(({a} * hb + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )
    whens = "\n           ".join(
        f"WHEN {b} THEN "
        + _hash60_sql(
            f"concat(CAST(h{2 * b} AS VARCHAR), '_', CAST(h{2 * b + 1} AS VARCHAR))"
        )
        for b in range(num_hashes // 2)
    )
    return f"""
{pfx}src AS ({src_sql}),
{pfx}t AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM {pfx}src),
{pfx}s AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM {pfx}t, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i)
  WHERE length(array_to_string(toks[i:i+2], ' ')) > 0
),
{pfx}sb AS (SELECT doc_id, {_hash60_sql('shingle')} % {MINHASH_P} AS hb FROM {pfx}s),
{pfx}m AS (SELECT doc_id, {mh_cols} FROM {pfx}sb GROUP BY doc_id),
{pfx}bands AS (
  SELECT doc_id, b.band,
         CASE b.band
           {whens}
         END AS band_hash
  FROM {pfx}m, LATERAL (SELECT unnest(range(0, {num_hashes // 2})) AS band) b
)"""


@register(
    "stream_ingest_candidates_replay",
    oracle="WITH "
    + _mh_band_ctes(
        "c", "SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 3"
    )
    + ","
    + _mh_band_ctes("x", _INGEST_STREAM_SQL)
    + """
SELECT x.doc_id, c.doc_id AS corpus_doc_id, CAST(x.band AS INTEGER) AS band
FROM xbands x JOIN cbands c ON x.band = c.band AND x.band_hash = c.band_hash
""",
)
def stream_ingest_candidates_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion near-dup band candidates
    (``streaming.ingest.ingest_band_candidates_stream``) graded
    end-to-end: the stream doc's MinHash signature is computed PER ROW
    (stateless ``array_min`` fold — no streaming aggregation), banded,
    and probed against the corpus band table through a stream-static
    inner join. The oracle recomputes BOTH sides' signatures with the
    batch-tier SQL, so a pass certifies the per-row streaming
    signature math equals the explode-groupBy batch tier on top of the
    join itself. Stateless ⇒ trigger-slicing independent."""
    from .operators import dedup as ddp
    from .streaming import ingest

    corpus, stream_batch = _ingest_inputs(spark, sf_dir)
    sh = ddp.word_shingles(corpus, n=3)
    sig = ddp.minhash_signatures(sh, num_hashes=8)
    # a stream-static join re-evaluates the static side EVERY trigger;
    # checkpoint the band table once so three triggers don't pay the
    # shingle→minhash pipeline three times (the at-scale analogue: the
    # corpus band table lives materialized, bucketed on its join key)
    corpus_bands = ddp.lsh_bands(
        sig, rows_per_band=2, num_hashes=8
    ).localCheckpoint(eager=True)
    # own scratch tag: sharing the exact-replay directory would make
    # a concurrent run of the two ingest replays rmtree files the
    # other query's file source is still listing
    scratch = _scratch_dir("singc", sf_dir)
    _write_batches(stream_batch, "doc_id", scratch)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(scratch)
    )
    out = ingest.ingest_band_candidates_stream(
        stream, corpus_bands, num_hashes=8, rows_per_band=2, n=3
    )
    name = _sink_name("singc", sf_dir)
    spark.catalog.dropTempView(name)
    _drain_to_memory(out, name, "append")
    return spark.table(name).select(
        "doc_id", "corpus_doc_id", F.col("band").cast("int").alias("band")
    )


@register(
    "stream_curation_replay",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents
),
base AS (
  SELECT doc_id, toks, len(toks) AS n,
         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
  FROM t
),
u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
c AS (SELECT doc_id, tok, count(*) AS cnt FROM u GROUP BY doc_id, tok),
mx AS (SELECT doc_id, max(cnt) AS max_uni, count(*) AS n_distinct FROM c GROUP BY doc_id),
rep AS (
  SELECT b.doc_id,
         round(CAST(mx.n_distinct AS DOUBLE) / b.n, 6) AS distinct_ratio,
         round(CAST(mx.max_uni AS DOUBLE) / b.n, 6) AS top_unigram_frac,
         round(CASE WHEN len(b.bigrams) > 0
                    THEN 1 - CAST(len(list_distinct(b.bigrams)) AS DOUBLE) / len(b.bigrams)
                    ELSE 0 END, 6) AS dup_bigram_frac
  FROM base b JOIN mx USING (doc_id)
),
q AS (
  SELECT t.doc_id,
    CAST(len(toks) AS INTEGER) AS n_tokens,
    round(0.4 * least(len(toks) / 64.0, 1.0)
        + 0.3 * least({_lang_score_sql('en')}
            / CAST(len(toks) AS DOUBLE) * 4, 1.0)
        + 0.3 * (1 - least(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                 / CAST(greatest(length(text), 1) AS DOUBLE) * 10, 1.0)), 6)
      AS quality_score
  FROM t JOIN documents USING (doc_id)
)
SELECT {_hash60_sql(_NORM)} AS content_key, d.lang,
       q.n_tokens, rep.distinct_ratio, rep.top_unigram_frac,
       rep.dup_bigram_frac, q.quality_score
FROM documents d JOIN rep ON d.doc_id = rep.doc_id
                 JOIN q ON d.doc_id = q.doc_id
WHERE q.quality_score >= 0.4 AND rep.top_unigram_frac <= 0.6
""",
)
def stream_curation_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus curation (``streaming.curation.curate_stream``)
    graded end-to-end: the corpus PLUS a full duplicate copy (shifted
    doc_ids, identical text/lang) is replayed through a file source
    into the watermark-bounded exact-dedup + repetition/quality gates,
    append sink. Every graded column is text/lang-derived and thus
    identical across the two copies of a key, so the output keyed by
    content_key is discovery-order independent even though the
    surviving doc_id is not (same trick as ``stream_dedup_replay``) —
    and the 3650-day horizon means no state eviction, so exactly one
    row per content key survives. If the streaming dedup re-admitted
    or dropped a key, or any feature/gate diverged from the batch
    expressions, the row count or value hash would fail. The oracle is
    the batch repetition+quality pipeline over the distinct-content
    corpus with the same gates."""
    from .streaming import curation

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    dup = docs.withColumn("doc_id", F.col("doc_id") + 10_000_000)
    both = docs.unionByName(dup).withColumn(
        "ts",
        F.timestamp_seconds(F.lit(1704067200) + F.pmod(F.col("doc_id"), F.lit(86400))),
    )
    scratch = _scratch_dir("scur", sf_dir)
    _write_batches(both, "doc_id", scratch)
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(scratch)
    )
    out = curation.curate_stream(stream, watermark="3650 days")
    name = _sink_name("scur", sf_dir)
    spark.catalog.dropTempView(name)
    _drain_to_memory(out, name, "append")
    return spark.table(name).select(
        "content_key",
        "lang",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "distinct_ratio",
        "top_unigram_frac",
        "dup_bigram_frac",
        "quality_score",
    )


# ------------------------------------------- last relational shapes
#
# VERDICT r05 "Next round" #8: GROUPING SETS proper (a set list
# neither rollup nor cube can express) and EXCEPT ALL / INTERSECT ALL
# multiset semantics — the final untouched relational shapes from
# SURVEY §2.7's breadth note.


@register(
    "rel_orders_grouping_sets",
    oracle="""
SELECT o_orderpriority, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
""",
)
def rel_orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS proper: the two single-dimension marginals and
    NOTHING else — a set list neither ROLLUP (which would add the
    grand total and the pair) nor CUBE (all four combos) can express,
    completing the grouping-sets family next to rel_orders_rollup /
    rel_orders_cube. One expand+aggregate pass, no re-scan per set;
    both dims are non-null in the fixture so the NULL markers identify
    the sets unambiguously."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderpriority"], ["o_orderstatus"]],
        "o_orderpriority",
        "o_orderstatus",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "rel_qty_except_all",
    oracle="""
SELECT CAST(l_quantity AS INTEGER) AS qty
FROM lineitem WHERE l_returnflag = 'A'
EXCEPT ALL
SELECT CAST(l_quantity AS INTEGER) AS qty
FROM lineitem WHERE l_returnflag = 'R'
""",
)
def rel_qty_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL multiset difference (bag semantics — each surviving
    row keeps its EXCESS multiplicity, which plain EXCEPT/distinct
    destroys): the returned-flag quantity multiset minus the
    refused-flag one. Exercised on a column with heavy duplication
    (~20k rows over ~50 distinct values) so the multiplicity
    arithmetic, not just membership, is graded. Spark plans this as
    one aggregate-style shuffle on the value (no join explosion)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select(
        F.col("l_quantity").cast("int").alias("qty")
    )
    r = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_quantity").cast("int").alias("qty")
    )
    return a.exceptAll(r)


@register(
    "rel_qty_intersect_all",
    oracle="""
SELECT CAST(l_quantity AS INTEGER) AS qty
FROM lineitem WHERE l_returnflag = 'A'
INTERSECT ALL
SELECT CAST(l_quantity AS INTEGER) AS qty
FROM lineitem WHERE l_returnflag = 'N'
""",
)
def rel_qty_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL multiset intersection (min multiplicity per
    value) — the companion bag operator to rel_qty_except_all, same
    duplication-heavy column so multiplicities are graded."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select(
        F.col("l_quantity").cast("int").alias("qty")
    )
    n = li.filter(F.col("l_returnflag") == "N").select(
        F.col("l_quantity").cast("int").alias("qty")
    )
    return a.intersectAll(n)


# --------------------------------------------- round-6 text operators

_BG_T_CTE = (
    "t AS (SELECT doc_id, string_split("
    + _NORM
    + ", ' ') AS toks FROM documents)"
)


@register(
    "ext_bigram_nll",
    oracle="WITH "
    + _BG_T_CTE
    + """,
bg AS (
  SELECT doc_id, toks[i] AS prev, toks[i + 1] AS tok
  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) u
  WHERE length(toks[i]) > 0 AND length(toks[i + 1]) > 0
),
v AS (
  SELECT count(DISTINCT tok) AS V
  FROM (SELECT unnest(toks) AS tok FROM t) WHERE length(tok) > 0
),
bc AS (SELECT prev, tok, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY 1, 2),
cc AS (SELECT prev, CAST(count(*) AS BIGINT) AS cp FROM bg GROUP BY 1),
sc AS (
  SELECT bg.doc_id,
         CAST(floor(-log2((bc.cb + 0.5) / (cc.cp + 0.5 * (v.V + 1))) * 10000 + 0.5) AS BIGINT) AS e4
  FROM bg JOIN bc USING (prev, tok) JOIN cc USING (prev) CROSS JOIN v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(e4) AS BIGINT) AS nll_e4_sum,
       sum(e4) / 10000.0 / count(*) AS avg_nll
FROM sc GROUP BY doc_id
""",
)
def ext_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (``text.bigram_nll_scores``): add-α
    transition model trained on the corpus, per-doc mean −log2
    p(tok|prev) in integer 1e-4 buckets — the KenLM-style filter one
    order above ``ext_unigram_nll``. The oracle replays both LM tables
    and the per-transition integer buckets exactly."""
    from .operators import text

    docs = load_table(spark, sf_dir, "documents")
    return text.bigram_nll_scores(docs)


@register(
    "ext_ngram_novelty",
    oracle="WITH "
    + _BG_T_CTE
    + """,
s AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS shingle
  FROM t, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 7, 1) + 1)) AS i) u
  WHERE length(array_to_string(toks[i:i+7], ' ')) > 0
),
dc AS (SELECT shingle, count(DISTINCT doc_id) AS n_docs FROM s GROUP BY 1),
pd AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN dc.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
  FROM s JOIN dc USING (shingle) GROUP BY s.doc_id
)
SELECT d.doc_id,
       coalesce(pd.n_shingles, 0) AS n_shingles,
       coalesce(pd.n_shared, 0) AS n_shared,
       CASE WHEN coalesce(pd.n_shingles, 0) > 0
            THEN pd.n_shared / CAST(pd.n_shingles AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END AS shared_frac
FROM documents d LEFT JOIN pd USING (doc_id)
""",
)
def ext_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram novelty / memorization audit (``text.ngram_novelty``):
    per doc, the fraction of its distinct 8-gram shingles that appear
    in at least one other document — the self-corpus counterpart of
    the benchmark contamination scan. One shingle shuffle, one join
    back; the oracle replays shingling, cross-doc counts, and the
    unrounded integer-derived fraction."""
    from .operators import text

    docs = load_table(spark, sf_dir, "documents")
    return text.ngram_novelty(docs, n=8)


@register(
    "rel_events_json_agg",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
       CAST(min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS k_min,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS k_max
FROM events
GROUP BY event_type
""",
)
def rel_events_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column processing: extract a typed field from
    the JSON ``props`` payload (``get_json_object`` — JVM-side JSON
    path, no UDF) and aggregate it per event type. The shape every
    event pipeline needs at 100 TB: the extraction is a projection
    inside the scan stage (whole-stage codegen), the aggregate is
    partial — one shuffle of 5 groups. The oracle replays the JSON
    path with DuckDB's json_extract_string."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).cast("long").alias("k_sum"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
    )


@register(
    "stream_session_replay",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
""",
)
def stream_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization (``streaming.sessions`` —
    ``applyInPandasWithState``) graded end-to-end, completing driver
    coverage of every streaming operator. The events table plus ONE
    far-future sentinel event per user rides a real file-source stream
    into the stateful operator; the sentinel exceeds the gap for every
    user's last real session, so ALL real sessions close and emit
    inside the replay while the sentinel's own 1-event session stays
    open in state (never emitted, filtered here by construction). The
    emitted session STRUCTURE (boundaries, event counts) is a pure
    function of event times — independent of trigger slicing and float
    ordering — so the oracle is the batch gap-sessionization SQL
    aggregated to sessions. ``total_value`` is deliberately not
    graded: it is a float sum whose addition order differs between the
    state loop and any SQL engine; the stream-vs-batch pytest parity
    suite covers it."""
    from .streaming.sessions import sessionize_stream

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    max_ts = ev.agg(F.max("ts").alias("m")).head()["m"]
    sentinel = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            (F.lit(max_ts) + F.expr("INTERVAL 10 DAYS")).alias("ts"),
            F.lit(0.0).alias("value"),
        )
    )
    scratch = _scratch_dir("ssess", sf_dir)
    import shutil

    shutil.rmtree(scratch, ignore_errors=True)
    (
        ev.unionByName(sentinel)
        .orderBy("user_id", "ts")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(scratch)
    )
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(scratch)
    )
    out = sessionize_stream(stream, watermark="1 hour")
    name = _sink_name("ssess", sf_dir)
    spark.catalog.dropTempView(name)
    _drain_to_memory(out, name, "append")
    return spark.table(name).select(
        "user_id", "session_start", "session_end", "n_events"
    )


def _write_disordered_session_feed(
    ev: DataFrame, sentinel: DataFrame, scratch: str, n_slices: int = 8
) -> None:
    """Out-of-order feed for the graded native-session replay
    (VERDICT r11 #6): the gate previously wrote ONE event-time-ordered
    file — a single trigger, so the merging session state never saw
    out-of-order arrival. This mirrors the bench's 8-slice +
    held-back-late construction (``tools/bench_streaming.py
    write_time_batches``) with one deliberate difference: the bench's
    late rows come from the first half of the timeline — far BEHIND
    the bounded watermark, measuring drops — while the graded rows
    must all still land in a session so the oracle stays the untouched
    full-table island SQL. Here the held-back rows are the last 50
    minutes of each event-time slice, delivered exactly one trigger
    later.

    Why nothing is dropped — the MEASURED late-row semantics of this
    Spark version (round-12 probe, pinned by
    ``test_disordered_feed_late_rows_merge_without_drops``): a
    stateful aggregation filters input against the EVICTION FRONTIER —
    the watermark in effect one batch earlier — and evicts/emits at
    batch end with the current watermark, so a late row merges
    correctly iff its window has not yet been evicted (a row behind
    the instantaneous watermark but above the frontier merges;
    ``numRowsDroppedByWatermark`` counts only rows whose window was
    already emitted). The frontier at a held-back batch is at most
    ``on-time max of its slice − 1 h`` = ``slice_hi − 50min − 1h``
    (the whole last-50-min sliver is held back), while the held-back
    rows' windows end above ``slice_hi − 20min`` — a ≥ 90-minute
    margin above every frontier that runs before they arrive. Held
    rows ride exactly ONE trigger behind; holding them longer (or
    holding rows from deeper inside the slice, as the bench's
    drop-measuring feed deliberately does) would cross an eviction
    frontier and be dropped. Sessions spanning slice boundaries
    additionally arrive as split windows that state must merge across
    triggers. Sequential appends give the file source monotonically
    increasing mod-times — stamped EXPLICITLY per batch (review round
    12: relying on write-order mod-times breaks on coarse-granularity
    filesystems, where a tie could reorder a held-back file past the
    sentinel and turn the gate host-dependent); ``maxFilesPerTrigger=1``
    turns each file into its own trigger."""
    import shutil
    import time as _time

    shutil.rmtree(scratch, ignore_errors=True)
    ts_s = F.unix_seconds(F.col("ts"))
    lo, hi = ev.agg(F.min(ts_s), F.max(ts_s)).first()
    span = (hi - lo) + 1
    sid = F.least(
        F.lit(n_slices - 1),
        F.floor((ts_s - F.lit(lo)) * n_slices / F.lit(span)),
    )
    slice_hi = F.lit(lo) + (sid + 1) * F.lit(span) / F.lit(n_slices)
    # materialize the tagged source ONCE — each of the ~2n appends
    # below is its own job, and without the persist every one would
    # re-scan and re-tag the full events source (review round 12)
    tagged = ev.withColumn("_sid", sid).withColumn(
        "_late", ts_s > slice_hi - F.lit(50 * 60)
    ).persist()
    tagged.count()

    # backdated so no stamp sits in the future when the stream starts
    base_mtime = _time.time() - 120
    stamped: set[str] = set()
    seq = [0]

    def _append(df: DataFrame) -> None:
        df.drop("_sid", "_late").coalesce(1).write.mode("append").parquet(
            scratch
        )
        # one whole second per batch: far above any fs/JVM timestamp
        # granularity, so delivery order is exactly append order
        seq[0] += 1
        t = base_mtime + seq[0]
        for fn in _os.listdir(scratch):
            if fn.startswith("part-") and fn not in stamped:
                _os.utime(_os.path.join(scratch, fn), (t, t))
                stamped.add(fn)

    prev_late = None
    for b in range(n_slices):
        cur = tagged.filter(F.col("_sid") == b)
        _append(cur.filter(~F.col("_late")))
        if prev_late is not None:
            _append(prev_late)
        prev_late = cur.filter(F.col("_late"))
    _append(prev_late)
    _append(sentinel.withColumn("_sid", F.lit(0)).withColumn("_late", F.lit(False)))
    tagged.unpersist()


@register(
    "stream_session_native_replay",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
""",
)
def stream_session_native_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NATIVE ``F.session_window`` tier run as a real STREAM
    (VERDICT r10 #2's scale-safe sessionization alternative, graded
    end-to-end rather than only in batch mode): the events table rides
    a file-source stream into the merging session-window aggregation —
    delivered OUT OF ORDER (8 event-time slices, each slice's last 50
    minutes held back one trigger; see
    :func:`_write_disordered_session_feed`) so the graded gate
    exercises cross-trigger window merging and within-watermark late
    arrival, not just a happy-path single batch. Unlike the stateful
    tier (per-key gap closure), the native operator finalizes windows
    by the GLOBAL watermark, so one far-future sentinel row flushes
    every real window while its own window stays open in state, never
    emitted. Output shape mirrors ``rel_events_session_window``
    (``session_end`` = last event time = ``window.end − gap``; the
    native break is half-open, ``diff >= gap``), so the oracle is the
    same island SQL over the UNTOUCHED events table — no held-back
    row is ever dropped (each stays above every eviction frontier that
    runs before it arrives; mechanism measured and documented on
    :func:`_write_disordered_session_feed`).
    ``total_value`` deliberately not graded (float sum — same
    carve-out as stream_session_replay)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    max_ts = ev.agg(F.max("ts").alias("m")).head()["m"]
    sentinel = spark.createDataFrame(
        [(-1,)], "user_id long"
    ).select(
        "user_id",
        (F.lit(max_ts) + F.expr("INTERVAL 10 DAYS")).alias("ts"),
        F.lit(0.0).alias("value"),
    )
    scratch = _scratch_dir("snsess", sf_dir)
    _write_disordered_session_feed(ev, sentinel, scratch)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(scratch)
    )
    out = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            (F.col("w.end") - F.expr("INTERVAL 30 MINUTES")).alias(
                "session_end"
            ),
            "n_events",
        )
    )
    name = _sink_name("snsess", sf_dir)
    spark.catalog.dropTempView(name)
    _drain_to_memory(out, name, "append")
    return spark.table(name).select(
        "user_id", "session_start", "session_end", "n_events"
    )


@register(
    "rel_lineitem_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, measure, round(value, 6) AS value
FROM (
  SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value
  FROM lineitem WHERE l_orderkey % 50 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
  FROM lineitem WHERE l_orderkey % 50 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'discount', l_discount
  FROM lineitem WHERE l_orderkey % 50 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'tax', l_tax
  FROM lineitem WHERE l_orderkey % 50 = 0
)
""",
)
def rel_lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (the inverse of the pivot the engine already
    grades): four lineitem measures lengthened into (measure, value)
    rows — the wide→long reshape feature stores and metric pipelines
    run constantly. Spark plans ``unpivot`` as a single Expand node
    inside the scan stage (no shuffle, no join); the oracle replays it
    as the equivalent UNION ALL."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 50 == 0
    )
    out = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.regexp_replace("measure", "^l_", "").alias("measure"),
        F.round("value", 6).alias("value"),
    )


@register(
    "ext_random_projection",
    oracle="""
SELECT vec_id,
       list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ((CAST('0x' || substr(md5(concat('rp_0_', CAST(i - 1 AS VARCHAR))), 1, 15) AS BIGINT) / power(2.0, 60)) * 2 - 1))) AS p0,
       list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ((CAST('0x' || substr(md5(concat('rp_1_', CAST(i - 1 AS VARCHAR))), 1, 15) AS BIGINT) / power(2.0, 60)) * 2 - 1))) AS p1,
       list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ((CAST('0x' || substr(md5(concat('rp_2_', CAST(i - 1 AS VARCHAR))), 1, 15) AS BIGINT) / power(2.0, 60)) * 2 - 1))) AS p2,
       list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ((CAST('0x' || substr(md5(concat('rp_3_', CAST(i - 1 AS VARCHAR))), 1, 15) AS BIGINT) / power(2.0, 60)) * 2 - 1))) AS p3,
       list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ((CAST('0x' || substr(md5(concat('rp_4_', CAST(i - 1 AS VARCHAR))), 1, 15) AS BIGINT) / power(2.0, 60)) * 2 - 1))) AS p4,
       list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ((CAST('0x' || substr(md5(concat('rp_5_', CAST(i - 1 AS VARCHAR))), 1, 15) AS BIGINT) / power(2.0, 60)) * 2 - 1))) AS p5,
       list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ((CAST('0x' || substr(md5(concat('rp_6_', CAST(i - 1 AS VARCHAR))), 1, 15) AS BIGINT) / power(2.0, 60)) * 2 - 1))) AS p6,
       list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * ((CAST('0x' || substr(md5(concat('rp_7_', CAST(i - 1 AS VARCHAR))), 1, 15) AS BIGINT) / power(2.0, 60)) * 2 - 1))) AS p7
FROM embeddings
""",
)
def ext_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL-style random projection (``similarity.random_projection``):
    64-dim embeddings compressed to 8 deterministic md5-hyperplane dot
    products — the pre-ANN byte-reduction step. The oracle recomputes
    every weight inline (same md5→[-1,1] arithmetic as the LSH
    signature oracle) and the sequential-fold dot products, so all
    eight projected coordinates hash-match as RAW doubles."""
    from .operators.similarity import random_projection

    emb = load_table(spark, sf_dir, "embeddings")
    return random_projection(emb, out_dim=8, d=D)



@register(
    "rel_events_rolling",
    oracle="""
SELECT event_id, user_id,
       CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) OVER w AS BIGINT) AS rolling_sum_e6,
       CAST(count(*) OVER w AS BIGINT) AS n_window,
       epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""",
)
def rel_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame + lag breadth: per-user rolling 4-row aggregate and
    previous-event gap — the sliding-metric shape (rates, rolling
    spend, inter-arrival times) every event pipeline computes. Values
    enter the frame as integer 1e-6 units BEFORE summation, so the
    rolling sum is order-exact across engines regardless of how each
    implements moving-window aggregation (segment trees vs naive), and
    the gap is integer microseconds from ``lag``. One shuffle on
    user_id serves both window specs."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 0)
    )
    lw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v_e6 = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        F.sum(v_e6).over(w).alias("rolling_sum_e6"),
        F.count(F.lit(1)).over(w).alias("n_window"),
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(lw))
        ).alias("prev_gap_us"),
    )



@register(
    "ext_perplexity_filter",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
),
u AS (
  SELECT doc_id, tok FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
  WHERE length(tok) > 0
),
v AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY tok),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS T, CAST(count(*) AS BIGINT) AS V FROM v),
sc AS (
  SELECT u.doc_id,
         CAST(floor(-log2((v.c + 0.5) / (tot.T + 0.5 * (tot.V + 1))) * 10000 + 0.5) AS BIGINT) AS e4
  FROM u JOIN v USING (tok) CROSS JOIN tot
),
nll AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(e4) AS BIGINT) AS nll_e4_sum,
         sum(e4) / 10000.0 / count(*) AS avg_nll
  FROM sc GROUP BY doc_id
),
j AS (
  SELECT nll.*, d.source FROM nll JOIN documents d USING (doc_id)
),
med AS (SELECT source, quantile_cont(avg_nll, 0.5) AS med FROM j GROUP BY source)
SELECT j.doc_id, j.source, j.n_tokens, j.nll_e4_sum
FROM j JOIN med USING (source)
WHERE j.avg_nll <= med.med
""",
)
def ext_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity split (composition of the LM scorer and
    a per-source quantile gate): keep the "head" half of each source —
    documents whose mean unigram NLL is at or below their source's
    median. The curation step CCNet actually ships (head/middle/tail
    by LM perplexity percentile per domain). Output is all-integer
    (doc_id, source, n_tokens, nll_e4_sum); the avg-NLL comparison
    happens on the unrounded exact-integer quotients, and the median
    interpolation arithmetic is identical in both engines given
    bit-identical inputs (same precedent as the profile percentiles).
    Scale shape: the LM scoring plan plus one small per-source
    aggregate broadcast back — nothing new shuffles at corpus width."""
    from .operators import text as _text

    docs = load_table(spark, sf_dir, "documents")
    nll = _text.unigram_nll_scores(docs)
    # j is consumed twice (median aggregate + final filter join) and
    # its subtree tokenizes the whole corpus — materialize the skinny
    # scored relation once rather than re-scoring per consumer
    j = nll.join(docs.select("doc_id", "source"), on="doc_id").localCheckpoint(
        eager=True
    )
    med = j.groupBy("source").agg(
        F.percentile("avg_nll", F.lit(0.5)).alias("med")
    )
    return (
        j.join(F.broadcast(med), on="source")
        .filter(F.col("avg_nll") <= F.col("med"))
        .select("doc_id", "source", "n_tokens", "nll_e4_sum")
    )



@register(
    "ext_split_leakage",
    oracle="WITH "
    + _MINHASH_CTE
    + _MINHASH_PAIRS_CTES
    + """,
sp AS (
  SELECT doc_id,
         CASE WHEN bkt < 800 THEN 'train'
              WHEN bkt < 900 THEN 'val' ELSE 'test' END AS split
  FROM (
    SELECT doc_id,
           CAST('0x' || substr(md5(concat('split_',
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))), 1, 15) AS BIGINT) % 1000
             AS bkt
    FROM documents
  )
)
SELECT p.doc1, p.doc2, s1.split AS split1, s2.split AS split2,
       round(p.jaccard, 6) AS jaccard
FROM pairs p
JOIN sp s1 ON p.doc1 = s1.doc_id
JOIN sp s2 ON p.doc2 = s2.doc_id
WHERE s1.split <> s2.split
""",
)
def ext_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage audit (composition): MinHash near-dup pairs
    whose two documents landed in DIFFERENT train/val/test splits —
    exactly the contamination an exact-dup-only split misses (the
    content-keyed split sends exact copies to one split, but NEAR
    duplicates hash to different buckets). The audit every eval-split
    pipeline should run; output is the leaking pair with both split
    labels and the verified Jaccard. Oracle composes the minhash-pair
    replay with the split-bucket replay. Scale: the near-dup pair
    relation (banded, never all-pairs) joined twice against the skinny
    split table — broadcast-sized at any corpus width."""
    from .operators import dedup as ddp

    docs = load_table(spark, sf_dir, "documents")
    sh = ddp.word_shingles(docs, n=3).persist()
    sig = ddp.minhash_signatures(sh, num_hashes=8)
    bands = ddp.lsh_bands(sig, rows_per_band=2, num_hashes=8)
    cand = ddp.lsh_candidate_pairs(bands)
    pairs = ddp.jaccard_verify(cand, sh, threshold=0.5)
    splits = QUERIES["ext_corpus_split"].fn(spark, sf_dir)
    out = (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("doc1"), F.col("split").alias("split1")
            ),
            on="doc1",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("doc2"), F.col("split").alias("split2")
            ),
            on="doc2",
        )
        .filter(F.col("split1") != F.col("split2"))
    )
    sh.unpersist()
    return out.select(
        "doc1", "doc2", "split1", "split2", F.round("jaccard", 6).alias("jaccard")
    )



@register(
    "rel_events_funnel",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS view_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS click_ts
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.view_ts
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS purchase_ts
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.click_ts
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
       CAST(1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
              + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS INTEGER) AS stage
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
""",
)
def rel_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): per user,
    the earliest event of each stage that occurs AT OR AFTER the
    previous stage's earliest qualifying event, plus the deepest stage
    reached — the product-analytics sequence-matching shape. Three
    partial-aggregated min() passes chained by user-keyed joins (the
    ordering constraint rides the join predicate, so no per-user sort
    or window materializes the full event sequence); at 100 TB each
    stage relation is one shuffle on user_id and the stage tables
    shrink monotonically. Timestamps and the stage counter are exact,
    so the oracle replays the chain verbatim."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    # v and c each feed TWO consumers (the next funnel stage and the
    # final left-join chain); without materialization each consumer
    # re-scans and re-aggregates the events table — the stage tables
    # are narrow per-user rows, so checkpointing them is far cheaper
    # than the extra corpus scans
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
        .localCheckpoint(eager=True)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, on="user_id")
        .filter(F.col("ts") >= F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
        .localCheckpoint(eager=True)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, on="user_id")
        .filter(F.col("ts") >= F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        v.join(c, on="user_id", how="left")
        .join(p, on="user_id", how="left")
        .select(
            "user_id",
            "view_ts",
            "click_ts",
            "purchase_ts",
            (
                F.lit(1)
                + F.col("click_ts").isNotNull().cast("int")
                + F.col("purchase_ts").isNotNull().cast("int")
            ).alias("stage"),
        )
    )



@register(
    "rel_events_retention",
    oracle="""
WITH su AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
),
r AS (
  SELECT su.cohort_week,
         CAST((epoch_us(act.week) - epoch_us(su.cohort_week)) / 604800000000 AS BIGINT) AS week_offset,
         act.user_id
  FROM su JOIN act ON su.user_id = act.user_id
  WHERE act.week >= su.cohort_week
)
SELECT cohort_week, week_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM r GROUP BY cohort_week, week_offset
""",
)
def rel_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention analysis: users bucketed by the ISO week of
    their first signup event, counted in each subsequent activity week
    — the cohort/retention matrix every product-analytics stack
    computes. Week truncation is ISO-Monday in both engines and the
    offset is exact integer arithmetic on week-aligned microsecond
    epochs, so the matrix replays bit-for-bit. Scale: two
    partial-aggregated passes over events plus one user-keyed join of
    two skinny relations — the events table is scanned twice and never
    shuffled wider than (user, week)."""
    ev = load_table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    r = su.join(act, on="user_id").filter(F.col("week") >= F.col("cohort_week"))
    off = (
        (F.unix_micros("week") - F.unix_micros("cohort_week")) / 604800000000
    ).cast("long")
    return (
        r.select("cohort_week", off.alias("week_offset"), "user_id")
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "ext_tfidf_keywords",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
u AS (
  SELECT doc_id, tok FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
  WHERE length(tok) > 0
),
tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM u GROUP BY doc_id, tok),
dfr AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS N FROM tf),
sc AS (
  SELECT tf.doc_id, tf.tok, tf.tf, dfr.df,
         CAST(floor(tf.tf * ln(CAST(nd.N AS DOUBLE) / dfr.df) * 10000 + 0.5)
              AS BIGINT) AS tfidf_e4
  FROM tf JOIN dfr USING (tok) CROSS JOIN nd
)
SELECT doc_id, tok, tf, df, tfidf_e4, rank FROM (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf_e4 DESC, tok) AS INTEGER) AS rank
  FROM sc
) WHERE rank <= 5
""",
)
def ext_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF keywords (``text.tfidf_keywords``) —
    per-doc term salience the reference has no analogue for. Ranking
    happens on the INTEGER 1e-4 bucket of tf·ln(N/df) with a
    lexicographic tie-break, so the emitted set replays exactly
    cross-engine. Scale: token explode + two partial-aggregated
    shuffles + a per-doc window — no global sort anywhere."""
    from .operators import text as _text

    docs = load_table(spark, sf_dir, "documents")
    return _text.tfidf_keywords(docs, top_k=5)


@register(
    "ext_pmi_collocations",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
tt AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0 AND toks[1] <> ''),
uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS tok FROM tt) GROUP BY tok
),
pos AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord
  FROM tt
),
pc AS (
  SELECT a.tok AS w1, b.tok AS w2, CAST(count(*) AS BIGINT) AS c_pair
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
  GROUP BY a.tok, b.tok HAVING count(*) >= 5
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS T FROM uni),
ptot AS (SELECT CAST(sum(len(toks) - 1) AS BIGINT) AS P FROM tt),
sc AS (
  SELECT pc.w1, pc.w2, pc.c_pair, u1.c AS c1, u2.c AS c2,
    CAST(floor((log2(CAST(pc.c_pair AS DOUBLE)) + 2 * log2(CAST(tot.T AS DOUBLE))
      - log2(CAST(ptot.P AS DOUBLE)) - log2(CAST(u1.c AS DOUBLE))
      - log2(CAST(u2.c AS DOUBLE))) * 10000 + 0.5) AS BIGINT) AS pmi_e4
  FROM pc JOIN uni u1 ON pc.w1 = u1.tok JOIN uni u2 ON pc.w2 = u2.tok
  CROSS JOIN tot CROSS JOIN ptot
)
SELECT w1, w2, c_pair, c1, c2, pmi_e4
FROM sc ORDER BY pmi_e4 DESC, w1, w2 LIMIT 50
""",
)
def ext_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-word collocations by PMI
    (``text.pmi_collocations``) — phrase-detection association mining
    over the corpus. PMI is computed as a sum of log2's of exact
    integers (overflow-free at any corpus scale) and bucketed to 1e-4
    integers before the TakeOrdered top-k; ties break on (w1, w2)."""
    from .operators import text as _text

    docs = load_table(spark, sf_dir, "documents")
    return _text.pmi_collocations(docs, min_count=5, top_k=50)


@register(
    "rel_events_gapfill",
    oracle="""
WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
b AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM a GROUP BY user_id),
g AS (
  SELECT user_id, CAST(unnest(generate_series(
    CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
  FROM b
),
j AS (
  SELECT g.user_id, g.day,
         CASE WHEN a.day IS NULL THEN 0 ELSE 1 END AS hit
  FROM g LEFT JOIN a ON g.user_id = a.user_id AND g.day = a.day
)
SELECT user_id, CAST(day AS TIMESTAMP) AS day,
       CAST(hit AS INTEGER) AS is_active,
       CAST(date_diff('day',
         last_value(CASE WHEN hit = 1 THEN day END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         day) AS INTEGER) AS days_since_active
FROM j
""",
)
def rel_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill with activity recency
    (``temporal.calendar_gapfill``): densify each user's activity to
    every calendar day in their span, flag inactive days, and carry
    days-since-last-activity forward — the resample/forward-fill
    time-series shape. Day ships as midnight TIMESTAMP (the engines'
    pandas bridges disagree on bare DATE)."""
    from .operators import temporal as _temporal

    ev = load_table(spark, sf_dir, "events")
    out = _temporal.calendar_gapfill(ev)
    return out.select(
        "user_id",
        F.col("day").cast("timestamp").alias("day"),
        "is_active",
        "days_since_active",
    )


@register(
    "rel_events_transitions",
    oracle="""
WITH s AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
c AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
  FROM s WHERE to_type IS NOT NULL GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_transitions,
       CAST(sum(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
         AS from_total
FROM c
""",
)
def rel_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (``temporal.event_transitions``): adjacent
    (from_type → to_type) step counts with the from-state marginal.
    The (ts, event_id) tiebreak pins same-timestamp order, so counts
    replay exactly cross-engine."""
    from .operators import temporal as _temporal

    ev = load_table(spark, sf_dir, "events")
    return _temporal.event_transitions(ev)



@register(
    "rel_events_rolling_range",
    oracle="""
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) OVER w AS BIGINT)
         AS sum_1h_e6
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
)
def rel_events_rolling_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame (time-interval) rolling window: per-user count and
    1e-6-integer value sum over the trailing HOUR — the time-based
    sibling of ``rel_events_rolling``'s row-count frame, and the shape
    rate limiting / rolling-spend metrics actually need (a row frame
    over irregular events is wrong). Ordering is integer epoch
    microseconds, so the frame boundary is exact and RANGE-peer
    semantics make same-timestamp rows order-independent. One shuffle
    on user_id."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    v_e6 = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(v_e6).over(w).alias("sum_1h_e6"),
    )


@register(
    "rel_events_spikes",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT event_type, day, n_events,
         CAST(coalesce(count(*) OVER w, 0) AS BIGINT) AS n_trail,
         CAST(coalesce(sum(n_events) OVER w, 0) AS BIGINT) AS sum_trail,
         CAST(coalesce(sum(n_events * n_events) OVER w, 0) AS BIGINT) AS sq
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, CAST(day AS TIMESTAMP) AS day, n_events, n_trail, sum_trail,
       CAST(CASE WHEN n_trail >= 3
                  AND (n_trail * n_events - sum_trail) > 0
                  AND (n_trail * n_events - sum_trail)
                      * (n_trail * n_events - sum_trail)
                      > 9 * (n_trail * sq - sum_trail * sum_trail)
            THEN 1 ELSE 0 END AS INTEGER) AS is_spike
FROM t
""",
)
def rel_events_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-baseline anomaly flags
    (``operators.temporal.trailing_spikes``): a day spikes when its
    event count exceeds the trailing-7-day mean by > 3σ, tested
    entirely in int64 ((n·x−S)² > 9·(n·Q−S²)) so the flag can never
    flip on float order. The current day is excluded from its own
    baseline. Day ships as midnight TIMESTAMP (gapfill precedent)."""
    from .operators import temporal as _temporal

    ev = load_table(spark, sf_dir, "events")
    out = _temporal.trailing_spikes(ev, key_col="event_type")
    return out.select(
        F.col("key").alias("event_type"),
        F.col("day").cast("timestamp").alias("day"),
        "n_events",
        "n_trail",
        "sum_trail",
        "is_spike",
    )


@register(
    "ext_approx_quantiles",
    oracle="""
SELECT source,
       quantile_cont(n_chars, 0.5) AS p50,
       quantile_cont(n_chars, 0.95) AS p95,
       TRUE AS within_tol
FROM documents GROUP BY source
""",
)
def ext_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch diagnostics (the KLL/GK counterpart of
    ``ext_approx_distinct``'s HLL row): exact per-source p50/p95 of
    document length plus the sketch-error INVARIANT — the
    ``percentile_approx`` estimate must land inside the exact
    [p45, p55] / [p93, p97] rank bands — pinned TRUE by the oracle.
    The raw sketch value is engine-specific, so the invariant is the
    graded surface; the exact percentiles are integer-input
    interpolations (bit-identical cross-engine, profile precedent).
    At scale the sketch is the one-pass mergeable path; the exact tier
    is the audit."""
    docs = load_table(spark, sf_dir, "documents")

    def pct(p: float):
        return F.percentile("n_chars", F.lit(p))

    approx50 = F.percentile_approx("n_chars", F.lit(0.5), F.lit(10000))
    approx95 = F.percentile_approx("n_chars", F.lit(0.95), F.lit(10000))
    return docs.groupBy("source").agg(
        pct(0.5).alias("p50"),
        pct(0.95).alias("p95"),
        (
            (approx50 >= pct(0.45))
            & (approx50 <= pct(0.55))
            & (approx95 >= pct(0.93))
            & (approx95 <= pct(0.97))
        ).alias("within_tol"),
    )


@register(
    "rel_basket_lift",
    oracle="""
WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
p AS (
  SELECT a.it AS x, c.it AS y, CAST(count(*) AS BIGINT) AS pair_baskets
  FROM b a JOIN b c ON a.bk = c.bk AND a.it < c.it
  GROUP BY 1, 2 HAVING count(*) >= 2
),
s AS (SELECT it, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY it),
nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS nb FROM b)
SELECT p.x, p.y, p.pair_baskets, sx.n AS x_baskets, sy.n AS y_baskets,
       CAST((10000 * nb.nb * p.pair_baskets) // (sx.n * sy.n) AS BIGINT)
         AS lift_e4
FROM p JOIN s sx ON p.x = sx.it JOIN s sy ON p.y = sy.it CROSS JOIN nb
""",
)
def rel_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining
    (``operators.stats.basket_affinity``): part pairs co-occurring in
    ≥ 2 orders with pure-int64 lift (association strength) — the
    co-purchase / co-engagement analytics shape. The pair enumeration
    is a self-equi-join on the order key (basket-bounded, never
    |parts|²); lift uses integer `div`, so zero float ops anywhere."""
    from .operators.stats import basket_affinity

    li = load_table(spark, sf_dir, "lineitem")
    return basket_affinity(
        li, basket_col="l_orderkey", item_col="l_partkey", min_support=2
    )


def _skew_oracle_block(table: str, key: str) -> str:
    """One key_skew oracle row: count histogram → block-collapsed exact
    Gini, same int64 formula as ``operators.stats.key_skew``."""
    return f"""
SELECT '{key}' AS key_name, n_keys, n_rows, max_n,
       (1000000 * max_n) // n_rows AS top_share_e6,
       ((2 * sw - (n_keys + 1) * n_rows) * 1000000) // (n_keys * n_rows)
         AS gini_e6
FROM (
  SELECT CAST(sum(m) AS BIGINT) AS n_keys,
         CAST(sum(n * m) AS BIGINT) AS n_rows,
         CAST(max(n) AS BIGINT) AS max_n,
         CAST(sum(n * (m * o + (m * (m + 1)) // 2)) AS BIGINT) AS sw
  FROM (
    SELECT n, m,
           CAST(coalesce(sum(m) OVER (ORDER BY n ROWS BETWEEN
             UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
    FROM (
      SELECT n, CAST(count(*) AS BIGINT) AS m
      FROM (SELECT {key}, count(*) AS n FROM {table} GROUP BY {key})
      GROUP BY n
    )
  )
)"""


@register(
    "rel_key_skew",
    oracle=_skew_oracle_block("orders", "o_custkey")
    + "\nUNION ALL"
    + _skew_oracle_block("events", "user_id")
    + "\nUNION ALL"
    + _skew_oracle_block("lineitem", "l_partkey"),
)
def rel_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit (``operators.stats.key_skew``) over the
    three keys this engine's relational queries shuffle on most: exact
    Gini + top-key share of the multiplicity distribution, computed
    from the COUNT HISTOGRAM so no window ever touches the key set
    itself — the diagnostic that decides whether a join needs
    ``salted_join``/AQE skew handling. All int64; the oracle replays
    the histogram collapse per key."""
    from .operators.stats import key_skew

    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        key_skew(o, "o_custkey")
        .unionByName(key_skew(ev, "user_id"))
        .unionByName(key_skew(li, "l_partkey"))
    )


@register(
    "rel_events_wau",
    oracle="""
WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
g AS (
  SELECT user_id, day AS d0, day + CAST(off AS INTEGER) AS day
  FROM (SELECT user_id, day, unnest(generate_series(0, 6)) AS off FROM a)
),
days AS (SELECT DISTINCT day FROM a)
SELECT CAST(day AS TIMESTAMP) AS day,
       CAST(count(DISTINCT g.user_id) AS BIGINT) AS wau,
       CAST(count(DISTINCT CASE WHEN g.d0 = g.day THEN g.user_id END)
            AS BIGINT) AS dau
FROM g JOIN days USING (day)
GROUP BY day
""",
)
def rel_events_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct actives + same-day actives per activity
    day (``operators.temporal.rolling_active_users``) — DAU/WAU, the
    non-additive distinct-count metric no window frame can express;
    computed by the exact day-offset fan-out (≤ 7× the distinct
    user-day relation). Day ships as midnight TIMESTAMP (gapfill
    precedent)."""
    from .operators import temporal as _temporal

    ev = load_table(spark, sf_dir, "events")
    out = _temporal.rolling_active_users(ev, window_days=7)
    return out.select(
        F.col("day").cast("timestamp").alias("day"), "wau", "dau"
    )


@register(
    "rel_scd2_history",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 4 <> 3
),
ch AS (
  SELECT (doc_id // 16) * 4 AS key, doc_id AS seq,
         CASE {_MERGE_H3} WHEN 0 THEN 'insert'
                          WHEN 1 THEN 'update' ELSE 'delete' END AS op,
         text, lang, source
  FROM documents WHERE doc_id % 4 = 3
),
v AS (
  SELECT doc_id AS key, CAST(0 AS BIGINT) AS seq, 'insert' AS op,
         text, lang, source
  FROM base
  UNION ALL
  SELECT key, seq, op, text, lang, source FROM ch
),
o AS (
  SELECT key, op, seq AS valid_from_seq,
         lead(seq) OVER (PARTITION BY key ORDER BY seq,
           CASE op WHEN 'delete' THEN 1 WHEN 'insert' THEN 2 ELSE 3 END)
           AS valid_to_seq,
         text, lang, source
  FROM v
)
SELECT key AS doc_id,
       CAST(row_number() OVER (
         PARTITION BY key ORDER BY valid_from_seq) AS INTEGER) AS version,
       CAST(valid_from_seq AS BIGINT) AS valid_from_seq,
       CAST(valid_to_seq AS BIGINT) AS valid_to_seq,
       CAST(CASE WHEN valid_to_seq IS NULL THEN 1 ELSE 0 END AS INTEGER)
         AS is_current,
       text, lang, source
FROM o WHERE op <> 'delete'
""",
)
def rel_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history (``operators.merge.scd2_history``) over the
    MERGE family's deterministic change log: one row per surviving
    version of each key with its exact validity interval — the audit /
    as-of-reconstruction counterpart of ``rel_merge_upsert``'s
    latest-snapshot answer. The oracle replays the union + lead window
    + version numbering in SQL; every interval column is an exact
    integer."""
    from .operators import merge

    base, ch = _merge_inputs(spark, sf_dir)
    return merge.scd2_history(base, ch, key="doc_id", seq="seq", op="op")


@register(
    "ext_graph_bfs_hops",
    oracle=_knn_cte()
    + """
, mutual AS (
  SELECT e1.src, e1.dst FROM edges e1
  JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src
),
RECURSIVE_DUMMY AS (SELECT 1)
SELECT * FROM (
  WITH RECURSIVE walk(node, h) AS (
    SELECT vec_id, 0 FROM embeddings WHERE vec_id % 25 = 0
    UNION
    SELECT m.dst, w.h + 1
    FROM mutual m JOIN walk w ON m.src = w.node
    WHERE w.h < 4
  )
  SELECT node AS vec_id, CAST(min(h) AS INTEGER) AS hops
  FROM walk GROUP BY node
)
""",
)
def ext_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance over the mutual-kNN graph
    (``operators.graph.bfs_hops``): min edges from any seed (every
    25th vector) within 4 hops — the recursive-CTE reachability shape
    Spark has no native operator for, replayed here against DuckDB's
    actual WITH RECURSIVE. Per-level frontier expansion makes the
    labeling order-independent, so it value-hashes exactly."""
    from .operators import graph, knn

    emb = load_table(spark, sf_dir, "embeddings")
    e = knn.knn_edges(emb, k=K).select("src", "dst")
    # one-pass mutual graph (optimization round 13): the reverse-semi-
    # join shape evaluated the kNN subtree twice in one job
    mutual = graph.mutual_edges(e)
    seeds = emb.filter(F.col("vec_id") % 25 == 0).select("vec_id")
    return graph.bfs_hops(mutual, seeds, max_hops=4)


@register(
    "ext_graph_link_pred",
    oracle=_knn_cte()
    + """
, mutual AS (
  SELECT e1.src, e1.dst FROM edges e1
  JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM mutual GROUP BY src),
nbr AS (
  SELECT m.src AS z, m.dst AS n,
         CAST(floor(1000000.0 / deg.d) AS BIGINT) AS term
  FROM mutual m JOIN deg ON m.src = deg.src
),
wedge AS (
  SELECT a.n AS u, b.n AS v,
         CAST(count(*) AS BIGINT) AS common_neighbors,
         CAST(sum(a.term) AS BIGINT) AS score_e6
  FROM nbr a JOIN nbr b ON a.z = b.z AND a.n < b.n
  GROUP BY a.n, b.n
),
cand AS (
  SELECT u, v, common_neighbors, score_e6 FROM wedge w
  WHERE common_neighbors >= 2
    AND NOT EXISTS (
      SELECT 1 FROM mutual m WHERE m.src = w.u AND m.dst = w.v
    )
)
SELECT u, v, common_neighbors, score_e6, rank FROM (
  SELECT *, CAST(row_number() OVER (
    ORDER BY score_e6 DESC, u, v) AS INTEGER) AS rank
  FROM cand
) WHERE rank <= 100
""",
)
def ext_graph_link_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by the Resource-Allocation index
    (``operators.graph.link_prediction_ra``): top-100 non-adjacent
    pairs of the mutual-kNN graph by Σ 1/deg(common neighbor), each
    term floored to a 1e-6 integer BEFORE summing so the score is an
    order-free exact-integer sum (no transcendentals). The oracle
    replays the wedge join, adjacency exclusion, and ranking."""
    from .operators import graph, knn

    emb = load_table(spark, sf_dir, "embeddings")
    e = knn.knn_edges(emb, k=K).select("src", "dst")
    # materialize the mutual graph (n·k rows — tiny) before the wedge
    # enumeration: link_prediction_ra reads its edge input from FOUR
    # plan positions (degrees, both wedge sides, adjacency exclusion),
    # and without the checkpoint each one can re-evaluate the kNN
    # subtree — invisible at sf0.1 (~0.5 s a recompute), 4× a ~30 s
    # kNN at sf1 (measured in the r07 sf1 pass). mutual_edges
    # (optimization round 13) builds it in ONE kNN pass — the old
    # reverse-semi-join evaluated the kNN twice inside this job.
    mutual = graph.mutual_edges(e).localCheckpoint(eager=True)
    return graph.link_prediction_ra(mutual, min_common=2, top_k=100)


@register(
    "ext_doc_chunks",
    oracle="""
WITH d AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0
),
g AS (
  SELECT doc_id, text, unnest(generate_series(0,
    CASE WHEN n <= 200 THEN 0 ELSE (n - 200 + 149) // 150 END)) AS chunk_idx
  FROM d
)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(chunk_idx * 150 AS BIGINT) AS chunk_start,
       CAST(length(substr(text, chunk_idx * 150 + 1, 200)) AS INTEGER)
         AS chunk_len,
       substr(text, chunk_idx * 150 + 1, 200) AS chunk_text
FROM g
""",
)
def ext_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping character chunks
    (``operators.packing.chunk_documents``): 200-char windows every
    150 chars with exact offsets — the retrieval-index splitter. Pure
    narrow transform (sequence + explode + substring in one codegen
    stage, no shuffle); the oracle replays the chunk grid and
    substrings verbatim."""
    from .operators import packing

    docs = load_table(spark, sf_dir, "documents")
    return packing.chunk_documents(docs, size=200, stride=150)


@register(
    "ext_doc_chunks_udtf",
    oracle=QUERIES["ext_doc_chunks"].oracle,
)
def ext_doc_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF tier of the RAG chunker — the Spark 4 user-defined
    TABLE function surface: one ``LATERAL`` call per document emits
    its chunk rows from an Arrow-batched Python generator. Same
    oracle, same values as the native explode tier (``ext_doc_chunks``
    — which remains the production path: the UDTF exists to grade the
    API surface and as the escape hatch for chunkers whose logic
    outgrows expressions, e.g. sentence-aware or token-budget
    splitters). Scale shape: the UDTF runs inside the scan stage's
    Python worker per partition — no shuffle, rows fan out locally,
    exactly like the explode plan."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType=(
            "chunk_idx int, chunk_start bigint, chunk_len int, chunk_text string"
        )
    )
    class ChunkDoc:
        def eval(self, text: str):
            if not text:
                return
            size, stride = 200, 150
            n = len(text)
            n_chunks = 1 if n <= size else (n - size + stride - 1) // stride + 1
            for i in range(n_chunks):
                piece = text[i * stride : i * stride + size]
                yield i, i * stride, len(piece), piece

    spark.udtf.register("chunk_doc_udtf", ChunkDoc)
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.length("text") > 0).createOrReplaceTempView(
        "_chunk_udtf_docs"
    )
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk_start, c.chunk_len, c.chunk_text
        FROM _chunk_udtf_docs d, LATERAL chunk_doc_udtf(d.text) c
        """
    )


@register(
    "ext_heavy_hitters",
    oracle=f"""
WITH u AS (
  SELECT unnest(string_split({_NORM}, ' ')) AS tok FROM documents
),
t AS (SELECT tok FROM u WHERE length(tok) > 0),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t)
SELECT tok, CAST(count(*) AS BIGINT) AS n_occurrences,
       (SELECT n FROM tot) AS total_tokens
FROM t GROUP BY tok
HAVING count(*) * 151 > (SELECT n FROM tot)
""",
)
def ext_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters (``operators.text.heavy_hitters``):
    tokens with count·(capacity+1) > total, found by per-partition
    Misra-Gries sketches in ``mapInPandas`` + one exact rescan of the
    (bounded, broadcast) candidate set — the sketch has perfect recall
    above the threshold, so the output equals the plain GROUP BY ...
    HAVING the oracle runs. A distributed sketch algorithm graded by
    value hash, not rows-only."""
    from .operators import text as _text

    docs = load_table(spark, sf_dir, "documents")
    return _text.heavy_hitters(docs, capacity=150)


@register(
    "ext_spelling_variants",
    oracle="""
WITH u AS (
  SELECT p_partkey AS doc_id,
         unnest(string_split(
           trim(regexp_replace(lower(p_name), '\\s+', ' ', 'g')), ' ')) AS tok
  FROM part
),
v AS (
  SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM u WHERE length(tok) >= 3 GROUP BY tok
)
SELECT a.tok AS t1, b.tok AS t2, a.df AS df1, b.df AS df2
FROM v a JOIN v b ON a.tok < b.tok AND levenshtein(a.tok, b.tok) = 1
""",
)
def ext_spelling_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 spelling-variant pairs over the part-name
    vocabulary (``operators.dedup.spelling_variants``; the document
    corpus has a closed 31-word vocabulary with no distance-1 pairs,
    so part names are the fixture with signal). The Spark side blocks
    on FastSS deletion neighborhoods and verifies candidates with the
    exact ``levenshtein``; the oracle brute-forces all vocabulary
    pairs — a plan-vs-plan disagreement on ANY pair flips the hash."""
    from .operators import dedup as _dedup

    part = load_table(spark, sf_dir, "part")
    docs = part.select(
        F.col("p_partkey").alias("doc_id"), F.col("p_name").alias("text")
    )
    return _dedup.spelling_variants(docs, min_len=3)


# ---------------------------------------------------------------------------
# Round-6 batch 2: iterative clustering, class rebalancing, robust
# outliers, per-key EWMA, nation-pair trade volume, bucketed storage
# joins, rank normalization, mixture planning, data-quality audit,
# snapshot diff. Each registration replays its full computation in
# DuckDB; floats never accumulate (integer-e4 / dyadic arithmetic, or
# — for the EWMA — a bit-reproducible sequential fold). All sit past
# the 50-slot grading window and carry cov_pipeline_pack checksum
# rows for driver-graded coverage (the section is placed BEFORE the
# pack so its oracles can be embedded).
# ---------------------------------------------------------------------------

_KM_ASSIGN = """
  SELECT vec_id, xq, cid FROM (
    SELECT v.vec_id, v.xq, c.cid,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             CAST(list_sum(list_transform(range(1, 65),
               i -> (c.cnt * v.xq[i] - c.s[i]) * (c.cnt * v.xq[i] - c.s[i])))
               AS DOUBLE) / CAST(c.cnt * c.cnt AS DOUBLE), c.cid) AS rnk
    FROM q v CROSS JOIN {cents} c)
  WHERE rnk = 1
"""

_KMEANS_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           v -> CAST(floor(CAST(v AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS xq
  FROM embeddings
),
ranked AS (
  SELECT vec_id, xq,
         row_number() OVER (ORDER BY
           CAST('0x' || substr(md5('km_' || CAST(vec_id AS VARCHAR)), 1, 15)
                AS BIGINT), vec_id) AS rn
  FROM q
),
c0 AS (SELECT rn - 1 AS cid, xq AS s, CAST(1 AS BIGINT) AS cnt
       FROM ranked WHERE rn <= 8),
a1 AS ({_KM_ASSIGN.format(cents="c0")}),
n1 AS (
  SELECT cid, di.i AS dim, sum(xq[di.i]) AS s, count(*) AS cnt
  FROM a1, LATERAL (SELECT unnest(range(1, 65)) AS i) di
  GROUP BY cid, di.i
),
n1l AS (SELECT cid, list(s ORDER BY dim) AS s, max(cnt) AS cnt
        FROM n1 GROUP BY cid),
c1 AS (
  SELECT c0.cid, COALESCE(n1l.s, c0.s) AS s, COALESCE(n1l.cnt, c0.cnt) AS cnt
  FROM c0 LEFT JOIN n1l USING (cid)
),
a2 AS ({_KM_ASSIGN.format(cents="c1")})
SELECT CAST(cid AS INTEGER) AS cluster,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(vec_id) AS BIGINT) AS id_sum
FROM a2 GROUP BY cid
"""


@register("ext_kmeans_refine", oracle=_KMEANS_ORACLE)
def ext_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means refinement
    (``operators.clustering.kmeans_refine``, k=8, 2 assignment passes
    with one exact centroid update between them): cluster cardinality
    + member-id checksum per final cluster. Centroids are carried as
    exact ``(integer-sum, count)`` rationals and distances compared
    via the all-integer numerator ``Σ(c·x − s)²`` over e4-quantized
    embeddings, so the oracle replays every step bit-for-bit —
    clustering as an auditable query, not an RNG artifact. The
    curation backbone (SemDeDup pruning / cluster-balanced sampling)
    the reference's hash-grouping (``watermarking.py:119-150``) can't
    express.

    Assignment runs the Arrow/numpy kernel (optimization round 13,
    guide §4.2: hand whole batches to vectorized native code): the
    SAME integer numerator, double division, and first-min tie rule
    as the interpreted-HOF tier — bit-identical by construction and
    pinned by ``test_kmeans_arrow_tier_bit_identical`` — at ~1/4 the
    per-pass cost (3.8 s → 1.1 s at sf0.1; the HOF tier pays k·d
    interpreted lambda hops per row, outside whole-stage codegen).
    The oracle is unchanged: it replays the integer arithmetic in
    DuckDB SQL either way."""
    from .operators.clustering import kmeans_refine

    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans_refine(emb, n_clusters=8, iters=2, assign_impl="arrow")
    return out.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("vec_id").alias("id_sum"),
    )


@register(
    "ext_class_rebalance",
    oracle="""
WITH c AS (SELECT lang, count(*) AS _c FROM documents GROUP BY lang),
mm AS (SELECT max(_c) AS m FROM c),
r AS (
  SELECT d.doc_id, d.lang, c._c, mm.m,
         row_number() OVER (PARTITION BY d.lang ORDER BY
           CAST('0x' || substr(md5(concat('rb_42_', CAST(d.doc_id AS VARCHAR))), 1, 15)
                AS BIGINT),
           d.doc_id) AS rk
  FROM documents d JOIN c USING (lang) CROSS JOIN mm
),
e AS (
  SELECT lang, doc_id,
         CAST(m // _c + CASE WHEN rk <= m % _c THEN 1 ELSE 0 END AS BIGINT) AS copies
  FROM r
)
SELECT lang, doc_id, copies,
       CAST(unnest(generate_series(1, copies)) AS BIGINT) AS copy_idx
FROM e
""",
)
def ext_class_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact class rebalance by oversampling
    (``operators.sampling.rebalance_classes``): every language is
    replicated up to the size of the largest one — ``m div c`` copies
    of every row plus one extra for the ``m mod c`` smallest keyed
    hashes, so each class lands on exactly ``max_class_count`` rows.
    The minority-upsampling half of corpus balancing (the
    down-sampling half is ``ext_stratified_sample``); which rows
    repeat is a pure function of (seed, doc_id), replayed row-for-row
    including the 1-based ``copy_idx`` replica numbers."""
    from .operators.sampling import rebalance_classes

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return rebalance_classes(docs, class_col="lang", key_col="doc_id", seed=42)


@register(
    "ext_mad_outliers",
    oracle="""
WITH med AS (
  SELECT source, quantile_cont(n_chars, 0.5) AS med FROM documents GROUP BY source
),
dev AS (
  SELECT d.source, abs(d.n_chars - m.med) AS dev
  FROM documents d JOIN med m USING (source)
),
mad AS (SELECT source, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY source)
SELECT d.doc_id, d.source, d.n_chars, m.med, a.mad,
       abs(d.n_chars - m.med) > 3 * a.mad AS is_outlier
FROM documents d JOIN med m USING (source) JOIN mad a USING (source)
""",
)
def ext_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier flags on document length per source
    (``operators.stats.robust_outliers``, k=3): the heavy-tail-safe
    length screen (a handful of pathological documents cannot shift a
    median the way they shift a mean/stddev gate). On the integer
    ``n_chars`` every median/MAD is a dyadic rational, so the doubles
    and the boolean flags replay engine-exactly (10 planted-long/short
    outliers flagged at sf0.01)."""
    from .operators.stats import robust_outliers

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return robust_outliers(docs, value_col="n_chars", group_col="source", k=3)


@register(
    "rel_events_ewma",
    oracle="""
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(floor(list_reduce(list(value ORDER BY ts, event_id), (a, b) -> (a + b) / 2)
            * 1000000 + 0.5) AS BIGINT) AS ewma_e6
FROM events GROUP BY user_id
""",
)
def rel_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (α = 1/2) over the time-ordered event values
    (``operators.temporal.ewma_last``): the smoothed per-key signal
    behind rate limits and trend features. The sequential recurrence
    ``e' = (e + x) / 2`` folds in a deterministic order with exact
    halving at every step, so Spark's ``aggregate`` HOF and DuckDB's
    ``list_reduce`` agree bit-for-bit (verified, then bucketed to e6
    integers for the hash)."""
    from .operators.temporal import ewma_last

    ev = load_table(spark, sf_dir, "events")
    return ewma_last(ev, "user_id", "ts", "value", "event_id").select(
        "user_id", "n_events", "ewma_e6"
    )


@register(
    "rel_nation_trade",
    oracle="""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(count(*) AS BIGINT) AS n_lineitems,
       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)))
            AS BIGINT) AS revenue_e6
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE sn.n_name <> cn.n_name
GROUP BY sn.n_name, cn.n_name
""",
)
def rel_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — cross-nation trade volume: lineitem joined
    through supplier and orders→customer to BOTH nation sides, pairs
    with different nations aggregated to (supp_nation, cust_nation).
    The one genuinely big join (lineitem⨝orders) shuffles on the
    orderkey; only the fixed-25-row nation sides carry an explicit
    broadcast hint — supplier and customer SCALE with the data, so
    their strategy is left to Catalyst/AQE (auto-broadcast while they
    fit, shuffle join past the budget — no driver-OOM hint baked into
    the query, the unigram-vocab discipline). Revenue is
    exact integer micro-units (cents × discount-e4) so the sum is
    order-free — the money-sum discipline DECIMAL would give at 100 TB
    without paying decimal arithmetic in the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    rev = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long") * (
        10000 - F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long")
    )
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(rev).alias("revenue_e6"),
        )
    )


@register(
    "rel_bucketed_join",
    oracle="""
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def rel_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join through bucketed storage
    (``operators.maintenance.bucketed_table``): orders and customer
    are each written ``bucketBy(8, custkey)``+sorted via the real
    catalog writer, re-read, and joined — the join runs with NO
    exchange on either side (asserted by the plan test), the layout a
    100 TB fact/fact join is written into once and joined many times.
    The oracle replays the logical join; the physical claim is that
    the bucketed round-trip changes nothing."""
    import os as _os

    from .operators.maintenance import bucketed_table

    # pid-scoped names: two concurrent check runs against the same sf
    # must not overwrite each other's catalog tables mid-read (same
    # isolation rule as _scratch_dir); sweep dead pids' leftovers
    tag = (
        _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
        + f"_pid{_os.getpid()}"
    )
    try:
        from urllib.parse import urlparse as _urlparse

        wh = _urlparse(
            spark.catalog.getDatabase(
                spark.catalog.currentDatabase()
            ).locationUri
        )
        if wh.scheme in ("", "file") and _os.path.isdir("/proc"):
            import shutil as _shutil

            for name in _os.listdir(wh.path):
                if not name.startswith("bj_") or "_pid" not in name:
                    continue
                pid = name.rsplit("_pid", 1)[-1]
                if pid.isdigit() and not _os.path.exists(f"/proc/{pid}"):
                    _shutil.rmtree(
                        _os.path.join(wh.path, name), ignore_errors=True
                    )
    except FileNotFoundError:
        pass
    o = bucketed_table(
        spark,
        load_table(spark, sf_dir, "orders").withColumnRenamed(
            "o_custkey", "custkey"
        ),
        f"bj_orders_{tag}",
        "custkey",
        8,
    )
    c = bucketed_table(
        spark,
        load_table(spark, sf_dir, "customer").withColumnRenamed(
            "c_custkey", "custkey"
        ),
        f"bj_customer_{tag}",
        "custkey",
        8,
    )
    return (
        o.join(c, "custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("total_cents"),
        )
    )


@register(
    "ext_quantile_norm",
    oracle="""
SELECT doc_id, source, n_chars,
       CAST(floor(percent_rank() OVER (PARTITION BY source ORDER BY n_chars)
            * 1000000 + 0.5) AS BIGINT) AS pr_e6
FROM documents
""",
)
def ext_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rank normalization of document length
    (``operators.stats.quantile_normalize``): ANSI percent_rank inside
    each source, bucketed to e6 integers — the cross-source score
    calibration step before a global curation threshold ("top 30% of
    every source"). Ties share a rank, so no tie-break key is needed
    and the replay is exact."""
    from .operators.stats import quantile_normalize

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return quantile_normalize(docs, value_col="n_chars", group_col="source")


_MIX_WEIGHTS = {"src0": 300000, "src1": 200000, "src2": 200000, "src3": 100000}
_MIX_BUDGET = 5_000_000
_MIX_CASE = (
    "CASE source "
    + " ".join(f"WHEN '{s}' THEN {w}" for s, w in _MIX_WEIGHTS.items())
    + " ELSE 0 END"
)


@register(
    "ext_mixture_plan",
    oracle=f"""
WITH tok AS (
  SELECT source,
         CAST(sum(len(string_split({_NORM}, ' '))) AS BIGINT) AS available_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT source, available_tokens,
         CAST({_MIX_CASE} AS BIGINT) AS weight_e6
  FROM tok
),
t AS (
  SELECT source, available_tokens, weight_e6,
         CAST({_MIX_BUDGET} AS BIGINT) * weight_e6 // 1000000 AS target_tokens
  FROM w
)
SELECT source, available_tokens, weight_e6, target_tokens,
       CASE WHEN target_tokens = 0 THEN 0
            ELSE (target_tokens + available_tokens - 1) // available_tokens
       END AS epochs,
       CASE WHEN target_tokens = 0 THEN 0
            ELSE target_tokens * 1000000 // available_tokens
       END AS rate_e6
FROM t
""",
)
def ext_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static dataset-mixture plan (``operators.sampling.mixture_plan``):
    per-source available tokens vs a 5M-token budget at 30/20/20/10%
    target weights — emits target tokens, epochs (repeats for
    under-represented sources), and the e6 sampling rate. All-integer
    (div + ceiling-division identity), replayed exactly; the
    Pile/DoReMi-style planning aggregate that decides repetition
    before any sampling runs."""
    from .operators.sampling import mixture_plan
    from .operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    return mixture_plan(
        docs,
        source_col="source",
        token_count_col=token_count("text"),
        weights_e6=_MIX_WEIGHTS,
        budget_tokens=_MIX_BUDGET,
    )


_DQ_H = (
    "CAST('0x' || substr(md5(concat('dq_', CAST(o_orderkey AS VARCHAR))), 1, 15)"
    " AS BIGINT)"
)


@register(
    "rel_dq_audit",
    oracle=f"""
WITH h AS (
  SELECT o_orderkey, o_custkey, {_DQ_H} AS hh FROM orders
),
c AS (
  SELECT o_orderkey,
         CASE WHEN hh % 97 = 0 THEN NULL
              WHEN hh % 103 = 2 THEN -o_orderkey
              ELSE o_custkey END AS o_custkey,
         hh
  FROM h
),
v AS (SELECT * FROM c UNION ALL SELECT * FROM c WHERE hh % 101 = 1)
SELECT 'not_null' AS check_name, 'orders.o_custkey' AS target,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS violations
FROM v
UNION ALL
SELECT 'unique', 'orders(o_orderkey)',
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
FROM v
UNION ALL
SELECT 'foreign_key', 'orders.o_custkey -> customer.c_custkey',
       CAST((SELECT count(*) FROM v
             WHERE o_custkey IS NOT NULL
               AND o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT)
""",
)
def rel_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit (``operators.audit``): NOT NULL,
    key-uniqueness, and referential-integrity violation counts in one
    long-format result — run against a deterministically corrupted
    orders view (hash-selected rows get NULL custkeys, orphan
    custkeys, and duplicated orderkeys) so every check has planted,
    exactly-replayable violations. The dbt-test shape a many-writer
    lakehouse table needs measured, not assumed."""
    from .functions.hashing import hash60
    from .operators.audit import (
        duplicate_keys,
        null_violations,
        orphan_foreign_keys,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer")
    hh = hash60(F.concat(F.lit("dq_"), F.col("o_orderkey").cast("string")))
    c = o.select(
        "o_orderkey",
        F.when(hh % 97 == 0, F.lit(None).cast("long"))
        .when(hh % 103 == 2, -F.col("o_orderkey"))
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        hh.alias("hh"),
    )
    v = c.unionByName(c.filter(F.col("hh") % 101 == 1))
    return (
        null_violations(v, ["o_custkey"], "orders")
        .unionByName(duplicate_keys(v, ["o_orderkey"], "orders"))
        .unionByName(
            orphan_foreign_keys(
                v, cust, "o_custkey", "c_custkey", "orders", "customer"
            )
        )
    )


@register(
    "rel_table_diff",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 4 <> 3
),
merged AS ({_MERGE_ORACLE}),
j AS (
  SELECT coalesce(m.doc_id, b.doc_id) AS doc_id,
         b.doc_id AS bk, m.doc_id AS mk,
         CASE WHEN b.text IS DISTINCT FROM m.text THEN 1 ELSE 0 END
       + CASE WHEN b.lang IS DISTINCT FROM m.lang THEN 2 ELSE 0 END
       + CASE WHEN b.source IS DISTINCT FROM m.source THEN 4 ELSE 0 END AS mask0
  FROM base b FULL OUTER JOIN merged m ON b.doc_id = m.doc_id
)
SELECT doc_id,
       CASE WHEN bk IS NULL THEN 'added'
            WHEN mk IS NULL THEN 'removed'
            ELSE 'changed' END AS status,
       CAST(CASE WHEN bk IS NULL OR mk IS NULL THEN 0 ELSE mask0 END AS BIGINT)
         AS changed_mask,
       CAST(bit_count(CASE WHEN bk IS NULL OR mk IS NULL THEN 0 ELSE mask0 END)
            AS INTEGER) AS n_changed_cols
FROM j
WHERE bk IS NULL OR mk IS NULL OR mask0 > 0
""",
)
def rel_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (``operators.merge.table_diff``): the
    exact delta between the pre-merge corpus and the merged snapshot
    of ``rel_merge_upsert`` — added / removed / changed keys with a
    per-column change bitmask. Composes two graded operators (the
    MERGE and the diff) and proves the merge applied EXACTLY its
    change log: the oracle replays the merge AND the full-outer
    reconciliation."""
    from .operators.merge import table_diff

    base, _ = _merge_inputs(spark, sf_dir)
    merged = QUERIES["rel_merge_upsert"].fn(spark, sf_dir)
    return table_diff(
        base, merged, key_cols=["doc_id"], compare_cols=["text", "lang", "source"]
    )


@register(
    "stream_agg_ivm_replay",
    oracle=f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(length(text)) AS BIGINT) AS sum_value
FROM ({_MERGE_ORACLE})
GROUP BY source
""",
)
def stream_agg_ivm_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (``streaming/ivm.py``) graded
    end-to-end: the per-source (count, Σ length(text)) rollup is
    maintained delta-only under the same key-disjoint three-batch CDC
    stream as ``stream_cdc_replay`` — per trigger only the batch's
    affected keys are re-aggregated (retraction + new state), never
    the base. The converged view must equal the one-shot group
    aggregate over the MERGE oracle EXACTLY (integer measures), which
    is the defining IVM property; a drift of a single retraction
    flips the hash."""
    import shutil

    from .streaming import cdc, ivm

    base, ch = _merge_inputs(spark, sf_dir)
    scratch = _scratch_dir("ivm_replay", sf_dir)
    shutil.rmtree(scratch, ignore_errors=True)
    changes_dir = _os.path.join(scratch, "changes")
    table_dir = _os.path.join(scratch, "table")
    agg_dir = _os.path.join(scratch, "view")
    ckpt_dir = _os.path.join(scratch, "ckpt")

    cdc.init_table(base, table_dir)
    ivm.init_view(base, agg_dir, group_col="source", value_expr="length(text)")
    for b in range(3):
        (
            ch.filter(F.pmod(F.col("doc_id"), F.lit(3)) == b)
            .coalesce(1)
            .write.mode("append")
            .parquet(changes_dir)
        )
    stream = (
        spark.readStream.schema(ch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(changes_dir)
    )
    q = ivm.ivm_agg_stream(
        stream,
        table_dir,
        agg_dir,
        group_col="source",
        value_expr="length(text)",
        key="doc_id",
        seq="seq",
        op="op",
        checkpoint_dir=ckpt_dir,
        retain=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return cdc.read_current(spark, agg_dir)


@register(
    "stream_ivm_bucketed_replay",
    oracle=f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(length(text)) AS BIGINT) AS sum_value
FROM ({_MERGE_ORACLE})
GROUP BY source
""",
)
def stream_ivm_bucketed_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stream_agg_ivm_replay`` on a BUCKETED base table
    (``cdc.init_table_bucketed`` — VERDICT r10 #4): the IVM trigger
    detects the layout and switches to bucket-pruned base reads plus
    bucket-wise commits (only the buckets the batch's keys land in are
    rewritten; the rest are hard-linked from the previous version —
    O(changed buckets) per trigger instead of O(snapshot)). The
    converged view must STILL equal the one-shot group aggregate over
    the MERGE oracle exactly — same oracle as the plain-layout gate,
    so any divergence between the two layouts (a mis-pruned bucket, a
    key hashed inconsistently, a missing link) flips this row's hash
    while the plain row stays green, isolating the fault to the
    layout."""
    import shutil

    from .streaming import cdc, ivm

    base, ch = _merge_inputs(spark, sf_dir)
    scratch = _scratch_dir("ivmb_replay", sf_dir)
    shutil.rmtree(scratch, ignore_errors=True)
    changes_dir = _os.path.join(scratch, "changes")
    table_dir = _os.path.join(scratch, "table")
    agg_dir = _os.path.join(scratch, "view")
    ckpt_dir = _os.path.join(scratch, "ckpt")

    cdc.init_table_bucketed(base, table_dir, key="doc_id", n_buckets=16)
    ivm.init_view(base, agg_dir, group_col="source", value_expr="length(text)")
    for b in range(3):
        (
            ch.filter(F.pmod(F.col("doc_id"), F.lit(3)) == b)
            .coalesce(1)
            .write.mode("append")
            .parquet(changes_dir)
        )
    stream = (
        spark.readStream.schema(ch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(changes_dir)
    )
    q = ivm.ivm_agg_stream(
        stream,
        table_dir,
        agg_dir,
        group_col="source",
        value_expr="length(text)",
        key="doc_id",
        seq="seq",
        op="op",
        checkpoint_dir=ckpt_dir,
        retain=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return cdc.read_current(spark, agg_dir)


@register(
    "rel_events_concurrency",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
),
iv AS (
  SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
  FROM sess GROUP BY user_id, session_id
),
d AS (
  SELECT s AS ts, 1 AS delta FROM iv
  UNION ALL
  SELECT e, -1 FROM iv
),
r AS (
  SELECT ts, delta,
         sum(delta) OVER (ORDER BY ts, delta DESC ROWS UNBOUNDED PRECEDING)
           AS conc
  FROM d
)
SELECT date_trunc('day', ts) AS day,
       CAST(max(conc) AS BIGINT) AS max_concurrency,
       CAST(count(*) AS BIGINT) AS n_boundaries
FROM r GROUP BY day
""",
)
def rel_events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day
    (``operators.temporal.running_concurrency``): 30-min-gap session
    intervals swept as ±1 boundaries, the running count computed as a
    DISTRIBUTED prefix sum (hour-bucket local windows + a carry over
    the |buckets|-row totals), then the daily max. The oracle computes
    the same sweep with one global window — equality proves the
    two-level decomposition exact, boundary for boundary."""
    from .operators.temporal import running_concurrency

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    new_sess = F.when(
        (us - F.lag(us).over(w) > 1_800_000_000) | F.lag("ts").over(w).isNull(), 1
    ).otherwise(0)
    # event_id tiebreak on the ROWS running sum: with duplicate
    # per-user timestamps an untied ROWS frame is nondeterministic and
    # the two engines could assign tied rows to different sessions
    wsum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    iv = (
        ev.withColumn("new_session", new_sess)
        .withColumn("session_id", F.sum("new_session").over(wsum))
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    conc = running_concurrency(iv, "s", "e", bucket="hour")
    return conc.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.max("concurrency").alias("max_concurrency"),
        F.count(F.lit(1)).alias("n_boundaries"),
    )


@register(
    "rel_events_wau_bitmap",
    oracle="""
WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
g AS (
  SELECT user_id, day AS d0, day + CAST(off AS INTEGER) AS day
  FROM (SELECT user_id, day, unnest(generate_series(0, 6)) AS off FROM a)
),
days AS (SELECT DISTINCT day FROM a)
SELECT CAST(day AS TIMESTAMP) AS day,
       CAST(count(DISTINCT g.user_id) AS BIGINT) AS wau,
       CAST(count(DISTINCT CASE WHEN g.d0 = g.day THEN g.user_id END)
            AS BIGINT) AS dau
FROM g JOIN days USING (day)
GROUP BY day
""",
)
def rel_events_wau_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap tier of the rolling 7-day distinct actives
    (``operators.temporal.rolling_active_users_bitmap``): users packed
    64-per-row into int64 blocks, unions as ``bit_or``, counts as
    ``Σ bit_count`` — the SAME oracle as ``rel_events_wau`` (the
    count-distinct formulation), so the driver grades the two tiers
    equal value-for-value. At 10⁹ users/day the fan-out carries one
    row per 64 users instead of one per user; exact, not a sketch."""
    from .operators import temporal as _temporal

    ev = load_table(spark, sf_dir, "events")
    out = _temporal.rolling_active_users_bitmap(ev, window_days=7)
    return out.select(
        F.col("day").cast("timestamp").alias("day"), "wau", "dau"
    )


@register(
    "rel_order_coverage",
    oracle="""
WITH iv AS (
  SELECT o_custkey AS custkey, o_orderdate AS s,
         o_orderdate + INTERVAL (o_orderkey % 30) DAY AS e
  FROM orders
),
ord AS (
  SELECT custkey, s, e,
         max(e) OVER (PARTITION BY custkey ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM iv
),
isl AS (
  SELECT custkey, s, e,
         sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
           OVER (PARTITION BY custkey ORDER BY s, e
                 ROWS UNBOUNDED PRECEDING) AS island_id
  FROM ord
)
SELECT custkey, CAST(island_id AS BIGINT) AS island_id,
       min(s) AS union_start, max(e) AS union_end,
       CAST(count(*) AS BIGINT) AS n_intervals
FROM isl GROUP BY custkey, island_id
""",
)
def rel_order_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer union of (overlapping) order-delivery windows
    (``operators.temporal.interval_union``): each order spans
    ``orderdate .. orderdate + (orderkey mod 30) days``; overlapping
    or touching windows merge into maximal coverage islands via the
    running-max-of-ends rule (an interval swallowed by an earlier one
    stays in its island — the case ``lag(end)`` gets wrong). One key
    shuffle, two frames over one sort, fully replayed in SQL."""
    from .operators.temporal import interval_union

    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("s"),
        F.expr(
            "timestampadd(DAY, CAST(o_orderkey % 30 AS INT), o_orderdate)"
        ).alias("e"),
    )
    out = interval_union(iv, key_col="custkey", start_col="s", end_col="e")
    return out.select(
        "custkey",
        "island_id",
        F.col("union_start"),
        F.col("union_end"),
        "n_intervals",
    )


@register(
    "rel_division",
    oracle="""
SELECT c.c_custkey, c.c_name,
       CAST(count(*) AS BIGINT) AS n_orders
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_name
HAVING count(DISTINCT o.o_orderpriority)
     = (SELECT count(DISTINCT o_orderpriority) FROM orders)
""",
)
def rel_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION (the "FOR ALL" shape — SURVEY §2.7's last
    untouched set-theoretic form): customers who placed orders in
    EVERY order-priority class that exists. Expressed as the standard
    division rewrite — per-key distinct-divisor count equal to the
    global divisor count (a 1-row broadcast scalar), no double-
    NOT-EXISTS correlated plan for Catalyst to decorrelate. One key
    shuffle; the divisor cardinality aggregate is map-side tiny."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    total = o.select(
        F.countDistinct("o_orderpriority").alias("_total")
    )
    per_c = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_orderpriority").alias("_k"),
        )
    )
    return (
        per_c.crossJoin(F.broadcast(total))
        .filter(F.col("_k") == F.col("_total"))
        .select("c_custkey", "c_name", "n_orders")
    )


@register(
    "rel_events_variant_agg",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
       CAST(min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS k_min,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS k_max
FROM events
GROUP BY event_type
""",
)
def rel_events_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT tier of the semi-structured aggregate
    (``rel_events_json_agg``'s sibling): ``parse_json`` shreds the
    ``props`` payload into the engine's binary Variant encoding once,
    and ``try_variant_get`` reads the typed field from it — the Spark
    4 semi-structured path that replaces per-access JSON string
    parsing (at 100 TB the parse happens once per row, not once per
    extracted field, and a Variant-shredded column in parquet prunes
    like a struct). Same oracle, same values — the tiers are graded
    equal."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).cast("long").alias("k_sum"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
    )


@register(
    "rel_cdc_time_travel",
    oracle=_merge_oracle("AND key % 3 = 0"),
)
def rel_cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel over the versioned CDC table
    (``streaming.cdc.read_version``): the MERGE family's change log is
    applied as three sequential key-disjoint batches with ``retain=0``
    (vacuum disabled — every version kept), then version 1 — the state
    after ONLY the first batch — is read back by version number while
    the pointer sits at v3. Deterministic because the batch ORDER is
    fixed by the batch API (no stream discovery order involved); the
    oracle replays the merge restricted to the first batch's keys.
    This is the read side of the snapshot-versioning design: a reader
    pins a version while writers advance, exactly the parquet
    analogue of a table format's ``VERSION AS OF``."""
    from .streaming import cdc

    base, ch = _merge_inputs(spark, sf_dir)
    table_dir = _scratch_dir("cdc_tt", sf_dir)
    import shutil

    shutil.rmtree(table_dir, ignore_errors=True)
    cdc.init_table(base, table_dir)
    for b in range(3):
        cdc.apply_once(
            ch.filter(F.pmod(F.col("doc_id"), F.lit(3)) == b),
            table_dir,
            key="doc_id",
            seq="seq",
            op="op",
            retain=0,
        )
    assert cdc.list_versions(table_dir) == [0, 1, 2, 3]
    return cdc.read_version(spark, table_dir, 1)


@register(
    "rel_cdc_read_as_of",
    oracle=_merge_oracle("AND key % 3 = 0"),
)
def rel_cdc_read_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP time travel (``streaming.cdc.read_as_of``) graded
    end-to-end, on a BUCKETED table (double coverage: the AS OF
    resolution path AND the bucketed layout's version reads): the same
    three key-disjoint MERGE batches as ``rel_cdc_time_travel``, then
    the table is read AS OF v1's own recorded commit instant while the
    pointer sits at v3 — the resolver must land exactly on v1, so the
    oracle is the first-batch merge replay. Deterministic because the
    asked-for instant comes from the commit catalog itself
    (``commit_ts``), not from an external clock."""
    import shutil

    from .streaming import cdc

    base, ch = _merge_inputs(spark, sf_dir)
    table_dir = _scratch_dir("cdc_asof", sf_dir)
    shutil.rmtree(table_dir, ignore_errors=True)
    cdc.init_table_bucketed(base, table_dir, key="doc_id", n_buckets=16)
    for b in range(3):
        cdc.apply_once(
            ch.filter(F.pmod(F.col("doc_id"), F.lit(3)) == b),
            table_dir,
            key="doc_id",
            seq="seq",
            op="op",
            retain=0,
        )
    ts_v1 = cdc.commit_ts(table_dir, 1)
    assert ts_v1 is not None
    return cdc.read_as_of(spark, table_dir, ts_v1)


@register(
    "rel_nation_trade_preagg",
    oracle="""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(count(*) AS BIGINT) AS n_lineitems,
       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                * (10000 - CAST(floor(l.l_discount * 10000 + 0.5) AS BIGINT)))
            AS BIGINT) AS revenue_e6
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE sn.n_name <> cn.n_name
GROUP BY sn.n_name, cn.n_name
""",
)
def rel_nation_trade_preagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 with EAGER AGGREGATION below the fact-fact join (VERDICT r11
    #4's alternative-plan probe, registered so the A/B is graded, not
    a scratch script): same oracle as ``rel_nation_trade``, different
    physical plan. The lineitem×supplier side is collapsed to ONE row
    per order — ``groupBy(l_orderkey).agg(collect_list(struct(
    supp_nationkey, revenue)))`` — BEFORE the orderkey join, so the
    join probes |orders| rows per side instead of |lineitem| vs
    |orders| (≈4× fewer left-side rows at TPC-H fan-out), and the
    aggregate's hash partitioning on l_orderkey is REUSED by the join
    (no re-exchange of the collapsed side). Catalyst does not perform
    eager aggregation itself, so this is the hand-written form of the
    classic optimization; whether it beats the straight plan at 600M
    rows on a fixed-memory host is exactly what the sf100 probe
    measures (the collect_list is an ObjectHashAggregate — no
    whole-stage codegen — so the win is not free). Nation names join
    on the 25-row broadcast AFTER the 625-group aggregate, keeping
    the exchanged payload to (int nationkey, long revenue) structs.

    MEASURED at sf100 (SCALING.md round 12, A/B-interleaved): this
    variant moves 18% fewer shuffle bytes (12.7 vs 15.5 GB) but LOSES
    (104–148 s vs 57–111 s) — the collect_list buffers spill 64 GB
    where the straight plan spills ZERO — so at TPC-H's ~4:1 fan-out
    the straight plan stays the engine's Q7. Eager aggregation earns
    its keep when the collapsed side's fan-out is high enough that the
    row reduction beats the typed-buffer cost (wide payloads or ≫4
    rows per key)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long") * (
        10000 - F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long")
    )
    lside = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .select(
            F.col("l_orderkey").alias("okey"),
            F.col("s_nationkey").cast("int").alias("snk"),
            rev.alias("rev"),
        )
        .groupBy("okey")
        .agg(F.collect_list(F.struct("snk", "rev")).alias("parts"))
    )
    oside = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("o_orderkey").alias("okey2"),
        F.col("c_nationkey").cast("int").alias("cnk"),
    )
    sn = n.select(
        F.col("n_nationkey").alias("snk2"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cnk2"), F.col("n_name").alias("cust_nation")
    )
    return (
        lside.join(oside, F.col("okey") == F.col("okey2"))
        .select("cnk", F.explode("parts").alias("p"))
        .filter(F.col("p.snk") != F.col("cnk"))
        .groupBy(F.col("p.snk").alias("snk"), "cnk")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum("p.rev").alias("revenue_e6"),
        )
        .join(F.broadcast(sn), F.col("snk") == F.col("snk2"))
        .join(F.broadcast(cn), F.col("cnk") == F.col("cnk2"))
        .select("supp_nation", "cust_nation", "n_lineitems", "revenue_e6")
    )


@register(
    "stream_window_topk_replay",
    oracle="""
WITH w AS (
  SELECT date_trunc('day', ts) AS window_start, event_type,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT window_start, event_type, n_events,
         row_number() OVER (PARTITION BY window_start
                            ORDER BY n_events DESC, event_type) AS rnk
  FROM w
)
SELECT window_start, event_type, n_events, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= 3
""",
)
def stream_window_topk_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fundamental Structured Streaming shape graded end-to-end:
    a watermarked TUMBLING-WINDOW aggregation over a file stream
    delivered OUT OF ORDER (the same 8-slice + held-back-within-
    watermark feed as the graded native-session replay), with a
    batch-side top-3-per-window rank on the drained sink. Streaming
    emits each finalized (window, event_type) count exactly once in
    append mode once the watermark passes the window end — rank
    truncation cannot run inside the stream (no window functions over
    unbounded input), so the sink table carries the full counts and
    the top-k is the cheap batch epilogue, the standard dashboard
    split. No held-back row is ever dropped (each stays above every
    eviction frontier that runs before it arrives — mechanism measured
    and documented on :func:`_write_disordered_session_feed`), so the
    oracle is the plain GROUP BY over the untouched events table. ``total_value``
    deliberately not graded (float sum — the session-gate carve-out);
    the sentinel's own window is never finalized, so it never appears.
    At 100 TB the same query is shuffle-partitioned state keyed by
    (window, event_type) — O(active windows × types), not O(rows)."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    max_ts = ev.agg(F.max("ts").alias("m")).head()["m"]
    sentinel = spark.createDataFrame([("~sentinel~",)], "event_type string").select(
        (F.lit(max_ts) + F.expr("INTERVAL 10 DAYS")).alias("ts"),
        "event_type",
        F.lit(0.0).alias("value"),
    )
    scratch = _scratch_dir("swtopk", sf_dir)
    _write_disordered_session_feed(
        ev.select("ts", "event_type", "value"), sentinel, scratch
    )
    from .streaming.windows import windowed_counts

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(scratch)
    )
    out = windowed_counts(stream, window="1 day", watermark="1 hour")
    name = _sink_name("swtopk", sf_dir)
    spark.catalog.dropTempView(name)
    _drain_to_memory(out, name, "append")
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        spark.table(name)
        .select("window_start", "event_type", "n_events")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "rel_erasure_cascade",
    oracle="""
WITH dead_orders AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_custkey % 53 = 0)
),
surv_o AS (
  SELECT * FROM orders
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM dead_orders)
),
surv_l AS (
  SELECT * FROM lineitem
  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM dead_orders)
)
SELECT 'orders' AS tbl,
  CAST((SELECT count(*) FROM orders) AS BIGINT) AS rows_before,
  CAST((SELECT count(*) FROM orders) - count(*) AS BIGINT) AS rows_deleted,
  CAST(count(*) AS BIGINT) AS rows_after,
  CAST(sum((o_orderkey % 997 + 1) * ((o_custkey * 131) % 1000003))
       AS BIGINT) AS survivor_check
FROM surv_o
UNION ALL
SELECT 'lineitem',
  CAST((SELECT count(*) FROM lineitem) AS BIGINT),
  CAST((SELECT count(*) FROM lineitem) - count(*) AS BIGINT),
  CAST(count(*) AS BIGINT),
  CAST(sum(((l_orderkey * 10 + l_linenumber) % 997 + 1)
           * ((l_suppkey * 131) % 1000003)) AS BIGINT)
FROM surv_l
""",
)
def rel_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten as a VERIFIED MERGE-delete cascade (the
    GDPR flow every production lakehouse runs): a victim key set
    (customers with ``c_custkey % 53 == 0``) cascades through the FK
    chain — their orders are MERGE-deleted from a CDC-committed orders
    table, then those orders' lineitems from a CDC-committed lineitem
    table (composite identity ``l_orderkey*10 + l_linenumber`` as the
    merge key; linenumber < 10 by TPC-H construction) — and the graded
    output audits the erasure FROM THE COMMITTED SNAPSHOTS (counts
    before/deleted/after plus a survivor checksum read back through
    the pointer), not from the logical plan that produced them. The
    oracle replays the cascade as NOT IN. Erasure here is PHYSICAL,
    not just logical: each delete commits with ``retain=1``, so the
    pre-delete snapshot (which still holds every victim row) is
    vacuumed the moment its successor lands — after the cascade no
    retained version can reproduce a victim row and the superseded
    version directories are gone from disk (pinned by
    ``tests/test_round12_ops.py::
    test_erasure_cascade_fully_erases_victims``). ``retain=0`` would
    silently DISABLE vacuum (``cdc.apply_once`` runs ``if retain:``)
    and keep the "erased" bytes forever — the opposite of GDPR. At
    100 TB the identical flow is two small delete batches (the key
    sets) against key-bucketed tables — each commit rewrites only the
    touched buckets (``cdc.init_table_bucketed``), and the cascade
    key set is one semi-join per FK hop."""
    import shutil

    from .streaming import cdc

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    victims = c.filter(F.col("c_custkey") % 53 == 0).select("c_custkey")

    def delete_batch(df: DataFrame, key: str) -> DataFrame:
        cols = [F.col(key)] + [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in df.schema.fields
            if f.name != key
        ]
        return (
            df.select(*cols)
            .withColumn("seq", F.lit(1))
            .withColumn("op", F.lit("delete"))
        )

    odir = _scratch_dir("erase_o", sf_dir)
    ldir = _scratch_dir("erase_l", sf_dir)
    shutil.rmtree(odir, ignore_errors=True)
    shutil.rmtree(ldir, ignore_errors=True)
    cdc.init_table(o, odir)
    li_k = li.withColumn(
        "_lkey", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    cdc.init_table(li_k, ldir)

    dead_o = o.join(victims, o.o_custkey == victims.c_custkey, "left_semi")
    # retain=1: vacuum every superseded snapshot as part of the commit,
    # so the victims' bytes leave disk with the delete (retain=0 would
    # DISABLE vacuum and silently keep them — judge finding round 12)
    cdc.apply_once(delete_batch(dead_o, "o_orderkey"), odir,
                   key="o_orderkey", retain=1)
    dead_l = li_k.join(
        dead_o.select("o_orderkey"),
        li_k.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    )
    cdc.apply_once(delete_batch(dead_l, "_lkey"), ldir, key="_lkey", retain=1)

    def stats(name: str, before_n: int, surv: DataFrame, check) -> DataFrame:
        return surv.agg(
            F.count(F.lit(1)).alias("_after"),
            F.sum(check).alias("_check"),
        ).select(
            F.lit(name).alias("tbl"),
            F.lit(before_n).cast("long").alias("rows_before"),
            (F.lit(before_n) - F.col("_after")).cast("long").alias("rows_deleted"),
            F.col("_after").cast("long").alias("rows_after"),
            F.col("_check").cast("long").alias("survivor_check"),
        )

    surv_o = cdc.read_current(spark, odir)
    surv_l = cdc.read_current(spark, ldir)
    o_check = (F.col("o_orderkey") % 997 + 1) * (
        (F.col("o_custkey") * 131) % 1000003
    )
    l_check = ((F.col("l_orderkey") * 10 + F.col("l_linenumber")) % 997 + 1) * (
        (F.col("l_suppkey") * 131) % 1000003
    )
    return stats("orders", o.count(), surv_o, o_check).unionByName(
        stats("lineitem", li.count(), surv_l, l_check)
    )


@register(
    "ext_schema_merge_read",
    oracle="""
SELECT doc_id, text,
       CASE WHEN doc_id % 2 = 1 THEN lang END AS lang,
       CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
FROM documents
""",
)
def ext_schema_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (source breadth): two parquet batches
    with DIFFERENT schemas — an early narrow write (doc_id, text) and
    a later widened one (+ lang, n_chars) — land in one table
    directory, and ``mergeSchema`` reconciles them on read with nulls
    for the columns a file predates. The lakehouse reality every
    long-lived ingest directory hits; at 100 TB the merged schema is
    resolved from file footers (no data scan) and column pruning still
    reaches each file with its own physical schema."""
    docs = load_table(spark, sf_dir, "documents")
    scratch = _scratch_dir("schevo", sf_dir)
    import shutil

    shutil.rmtree(scratch, ignore_errors=True)
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text").coalesce(
        2
    ).write.mode("append").parquet(scratch)
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", "lang", "n_chars"
    ).coalesce(2).write.mode("append").parquet(scratch)
    return spark.read.option("mergeSchema", "true").parquet(scratch)


@register(
    "rel_waiting_suppliers",
    oracle="""
WITH l1 AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM l1 l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s.s_name
""",
)
def rel_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — the EXISTS + NOT-EXISTS double-correlation:
    per supplier, the late lineitems (ship > order date + 60 days —
    the fixture has no receiptdate, so lateness is synthesized from
    the dates it has) in multi-supplier orders where that supplier was
    the ONLY late one. Expressed as one semi-join (another supplier
    exists in the order) plus one anti-join (no OTHER late supplier) —
    both hash equi-joins on ``l_orderkey`` with the supplier
    inequality riding as a residual condition, then a broadcast dim
    join for the name. Catalyst plans the same shape it decorrelates
    the EXISTS pair into; at 100 TB all three fact legs shuffle once
    on the shared order key and AQE splits hot orders."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    l1 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        # l1 is consumed from TWO join positions (semi-join probe side
        # AND anti-join build side); ReuseExchange is not guaranteed, so
        # without materialization the lineitem⋈orders late-filter join
        # re-evaluates once per consumer — the plan defect class that
        # bit ext_graph_link_pred at sf1. Materialize once.
        .localCheckpoint(eager=True)
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = l1.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    qualified = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    return (
        qualified.join(s, qualified.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "rel_events_session_window",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
""",
)
def rel_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-NATIVE gap sessionization: ``F.session_window`` (the
    merging-interval session operator Catalyst plans without a window
    function — also the streaming-native sibling of the
    ``applyInPandasWithState`` tier graded by
    ``stream_session_replay``). Each event opens ``[ts, ts+gap)`` and
    overlapping windows merge per key, so a session breaks at
    ``diff >= gap`` — a half-open boundary, unlike the lag-SQL's
    strict ``>`` — and the oracle replays exactly that. The reported
    ``session_end`` is the last event time (``window.end − gap``)."""
    ev = load_table(spark, sf_dir, "events")
    sw = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return sw.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        (F.col("w.end") - F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
        "n_events",
    )


@register(
    "rel_bom_rollup",
    oracle="""
WITH RECURSIVE nodes AS (
  SELECT p_partkey AS key,
         CASE WHEN p_partkey >= 8 THEN p_partkey // 8 END AS parent_key,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cost_cents
  FROM part
),
walk(key, root, depth, cost_cents) AS (
  SELECT key, key, 0, cost_cents FROM nodes WHERE parent_key IS NULL
  UNION ALL
  SELECT n.key, w.root, w.depth + 1, n.cost_cents
  FROM nodes n JOIN walk w ON n.parent_key = w.key
)
SELECT root, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(cost_cents) AS BIGINT) AS total_cost_cents,
       CAST(max(depth) AS INTEGER) AS max_depth
FROM walk GROUP BY root
""",
)
def rel_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials explosion rollup (``operators.hierarchy``) —
    the recursive-CTE relational shape: a deterministic parts forest
    (parent = key // 8, keys < 8 root) walked to its roots, component
    count / integer-cents cost / depth rolled up per assembly. The
    graded tier is the frontier-iteration loop (depth-bounded joins,
    per-level localCheckpoint — the 100 TB shape); Spark 4.1's native
    ``WITH RECURSIVE`` tier is pinned equal by test, and the oracle
    IS that recursive CTE in DuckDB."""
    from .operators.hierarchy import bom_rollup, derive_bom_edges

    part = load_table(spark, sf_dir, "part")
    return bom_rollup(derive_bom_edges(part, fanout=8))


@register(
    "ext_winsorize",
    oracle="""
WITH q AS (
  SELECT source, quantile_cont(n_chars, 0.25) AS q1,
         quantile_cont(n_chars, 0.75) AS q3
  FROM documents GROUP BY source
)
SELECT d.doc_id, d.source, d.n_chars,
       q.q1 - 1.5 * (q.q3 - q.q1) AS lo,
       q.q3 + 1.5 * (q.q3 - q.q1) AS hi,
       least(greatest(CAST(d.n_chars AS DOUBLE), q.q1 - 1.5 * (q.q3 - q.q1)),
             q.q3 + 1.5 * (q.q3 - q.q1)) AS clipped
FROM documents d JOIN q USING (source)
""",
)
def ext_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence winsorization of document length per source
    (``operators.stats.winsorize_iqr``, k=1.5): values clipped to
    ``[q1 − 1.5·IQR, q3 + 1.5·IQR]`` — the keep-every-row counterpart
    of ``ext_mad_outliers``' flags. On integer lengths the quartiles
    interpolate at quarter steps and k is dyadic, so fences and
    clipped values are exact dyadic rationals replayed bit-for-bit."""
    from .operators.stats import winsorize_iqr

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return winsorize_iqr(docs, value_col="n_chars", group_col="source", k=1.5)


def _mixture_execute_oracle() -> str:
    plan = QUERIES["ext_mixture_plan"].oracle
    return f"""
WITH plan AS ({plan}),
rated AS (
  SELECT d.doc_id, d.source, p.rate_e6,
         p.rate_e6 // 1000000
         + CASE WHEN CAST('0x' || substr(md5(concat('mix_42_',
                  CAST(d.doc_id AS VARCHAR))), 1, 15) AS BIGINT) % 1000000
                < p.rate_e6 % 1000000 THEN 1 ELSE 0 END AS copies
  FROM documents d JOIN plan p USING (source)
)
SELECT doc_id, source,
       CAST(unnest(generate_series(1, copies)) AS BIGINT) AS copy_idx
FROM rated WHERE copies > 0
"""


@register("ext_mixture_execute", oracle=_mixture_execute_oracle())
def ext_mixture_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the graded mixture plan
    (``operators.sampling.mixture_execute``): each document emits
    ``rate div 1e6`` copies plus a keyed-hash Bernoulli draw on the
    fractional part — epochs for under-represented sources, subsample
    for over-represented ones, expected tokens equal to the plan's
    target. Replica-for-replica replay (plan oracle embedded), closing
    the plan → corpus loop: ``ext_mixture_plan`` decides, this
    materializes."""
    from .operators.sampling import mixture_execute, mixture_plan
    from .operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    plan = mixture_plan(
        docs,
        source_col="source",
        token_count_col=token_count("text"),
        weights_e6=_MIX_WEIGHTS,
        budget_tokens=_MIX_BUDGET,
    )
    return mixture_execute(
        docs.select("doc_id", "source"), plan, source_col="source",
        key_col="doc_id", seed=42,
    ).select("doc_id", "source", "copy_idx")


def _cluster_split_oracle() -> str:
    dc = QUERIES["ext_dedup_clusters"].oracle
    cs = QUERIES["ext_corpus_split"].oracle
    return f"""
WITH dc AS ({dc}), cs AS ({cs})
SELECT m.doc_id, m.cluster_id, s.split
FROM dc m
JOIN dc c ON m.cluster_id = c.cluster_id AND c.is_canonical
JOIN cs s ON s.doc_id = c.doc_id
"""


@register("ext_cluster_split", oracle=_cluster_split_oracle())
def ext_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/val/test split: every document inherits the
    split of its near-dup cluster's CANONICAL member (content-keyed,
    so re-ingestion keeps assignments) — the assignment-side closure
    of the ``ext_split_leakage`` audit: near-duplicate pairs cannot
    straddle splits BY CONSTRUCTION, instead of being counted after
    the fact. Composes two graded operators (MinHash-banded dedup
    clustering and the content-keyed split); the oracle replays both
    end to end. Scale shape: the split hash rides the |clusters|-sized
    canonical relation and one broadcastable join back to members."""
    from .operators.relevance import corpus_split

    docs = load_table(spark, sf_dir, "documents")
    clusters = QUERIES["ext_dedup_clusters"].fn(spark, sf_dir)
    canon = clusters.filter(F.col("is_canonical")).select(
        "cluster_id", F.col("doc_id").alias("_canon_id")
    )
    canon_split = corpus_split(docs).select(
        F.col("doc_id").alias("_canon_id"), "split"
    )
    lut = canon.join(canon_split, on="_canon_id").select("cluster_id", "split")
    return clusters.join(lut, on="cluster_id").select(
        "doc_id", "cluster_id", "split"
    )


@register(
    "rel_dominant_suppliers",
    oracle="""
WITH sp AS (
  SELECT l_suppkey, l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY l_suppkey, l_partkey
),
pt AS (
  SELECT l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total
  FROM lineitem GROUP BY l_partkey
)
SELECT s.s_name,
       CAST(count(*) AS BIGINT) AS n_parts_dominated,
       CAST(sum(sp.qty) AS BIGINT) AS dominated_qty
FROM sp JOIN pt ON sp.l_partkey = pt.l_partkey
JOIN supplier s ON sp.l_suppkey = s.s_suppkey
WHERE 5 * sp.qty > pt.total
GROUP BY s.s_name
""",
)
def rel_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — the correlated-aggregate-in-predicate
    decorrelation: suppliers whose share of a part's
    total shipped quantity exceeds 20 % (the fixture has no partsupp
    table and spreads parts across many suppliers, so Q20's
    "availqty > ½·demand" becomes "supplier share > ⅕·part total" over
    lineitem — the identical nested ``> frac * (SELECT sum(..))``
    correlation class, at a threshold the fixture's part fan-out
    actually exercises). Decorrelated the way Catalyst rewrites it: the
    inner correlated sum becomes a grouped aggregate joined back on the
    correlation key, the share comparison stays in exact integer space
    (``5·qty > total`` — quantities are integral), and the supplier
    name arrives by broadcast dim join. One shuffle on
    (suppkey, partkey), one on partkey, both partial-aggregated
    map-side; at 100 TB AQE splits hot parts."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", F.col("l_quantity").cast("long").alias("qty")
    )
    sp = li.groupBy("l_suppkey", "l_partkey").agg(F.sum("qty").alias("qty"))
    pt = li.groupBy("l_partkey").agg(F.sum("qty").alias("total"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sp.join(pt, on="l_partkey")
        .filter(5 * F.col("qty") > F.col("total"))
        .join(s, sp.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n_parts_dominated"),
            F.sum("qty").alias("dominated_qty"),
        )
    )


_PJ_TOKS = """
toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id,
           unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
    FROM documents) t WHERE tok <> ''
),
freq AS (SELECT tok, count(*) AS f FROM toks GROUP BY tok),
psized AS (
  SELECT t.doc_id, t.tok, f,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY f, t.tok) AS pos,
         count(*) OVER (PARTITION BY t.doc_id) AS sz
  FROM toks t JOIN freq USING (tok)
),
prefix AS (SELECT doc_id, tok, sz FROM psized WHERE pos <= sz - ((4*sz + 4) // 5) + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM prefix a JOIN prefix b ON a.tok = b.tok AND a.doc_id < b.doc_id
  WHERE 5 * a.sz >= 4 * b.sz AND 5 * b.sz >= 4 * a.sz
),
pinter AS (
  SELECT c.doc1, c.doc2, count(*) AS i
  FROM cand c JOIN toks ta ON ta.doc_id = c.doc1
  JOIN toks tb ON tb.doc_id = c.doc2 AND tb.tok = ta.tok
  GROUP BY c.doc1, c.doc2
),
dsizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
pj_pairs AS (
  SELECT i.doc1, i.doc2,
         CAST((1000000 * i.i) // (sa.sz + sb.sz - i.i) AS BIGINT) AS jac_e6
  FROM pinter i JOIN dsizes sa ON sa.doc_id = i.doc1
  JOIN dsizes sb ON sb.doc_id = i.doc2
  WHERE 5 * i.i >= 4 * (sa.sz + sb.sz - i.i)
)
"""


@register(
    "ext_prefix_jaccard_dups",
    oracle="WITH "
    + _PJ_TOKS
    + """
, sym AS (
  SELECT doc1 AS doc_id, doc2 AS partner, jac_e6 FROM pj_pairs
  UNION ALL
  SELECT doc2, doc1, jac_e6 FROM pj_pairs
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_partners,
       CAST(max(jac_e6) AS BIGINT) AS best_jac_e6,
       CAST(min(partner) FILTER (jac_e6 = max_j) AS BIGINT) AS best_partner
FROM (SELECT doc_id, partner, jac_e6,
             max(jac_e6) OVER (PARTITION BY doc_id) AS max_j FROM sym) s
GROUP BY doc_id
""",
)
def ext_prefix_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT word-set near-dup profile at Jaccard ≥ 4/5 via the
    prefix-filtered set-similarity self-join
    (``operators.dedup.prefix_jaccard_pairs`` — SSJoin/PPJoin family):
    lossless blocking, so unlike the MinHash/SimHash tiers this result
    is provably the all-pairs answer, at candidate volume the prefix
    lemma bounds. Reported per doc (partner count, best similarity,
    smallest best partner) so the graded output stays |docs|-bounded
    while the oracle replays the whole pipeline (rarity ordering,
    integer prefix lengths, symmetric size filter, exact intersection
    verify, e6 integer quotient)."""
    from .operators.dedup import prefix_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = prefix_jaccard_pairs(docs, t_num=4, t_den=5).localCheckpoint(
        eager=True
    )  # consumed twice below (both symmetrization legs)
    sym = pairs.select(
        F.col("doc1").alias("doc_id"), F.col("doc2").alias("partner"), "jac_e6"
    ).unionByName(
        pairs.select(
            F.col("doc2").alias("doc_id"), F.col("doc1").alias("partner"), "jac_e6"
        )
    )
    w = Window.partitionBy("doc_id")
    return (
        sym.withColumn("max_j", F.max("jac_e6").over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_partners"),
            F.max("jac_e6").alias("best_jac_e6"),
            F.min(F.when(F.col("jac_e6") == F.col("max_j"), F.col("partner"))).alias(
                "best_partner"
            ),
        )
    )


@register(
    "ext_synth_source_scan",
    oracle="""
WITH g AS (SELECT i FROM generate_series(0, 19999) t(i)),
rows_ AS (
  SELECT i AS event_id,
         CAST('0x' || substr(md5('sev_u_' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 97 AS user_id,
         1704067200 + 37 * i AS ts_s,
         CASE (CAST('0x' || substr(md5('sev_t_' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 4)
           WHEN 0 THEN 'view' WHEN 1 THEN 'click'
           WHEN 2 THEN 'purchase' ELSE 'error' END AS event_type,
         CAST('0x' || substr(md5('sev_v_' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 100000 AS cents
  FROM g
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(user_id) AS BIGINT) AS sum_user,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       CAST(sum(ts_s) AS BIGINT) AS sum_ts_s,
       CAST(min(event_id) AS BIGINT) AS min_id,
       CAST(max(event_id) AS BIGINT) AS max_id
FROM rows_ GROUP BY event_type
""",
)
def ext_synth_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector through the Spark 4 Python Data Source API
    (``sources.synthetic`` — ``spark.read.format("synthevents")``):
    20k generated events scanned through the real DataSourceReader
    partition planning (8 generator tasks, nothing driver-side), then
    a per-type rollup. Every generated cell is md5-arithmetic the
    DuckDB oracle regenerates from ``generate_series``, so the graded
    row checks the CONNECTOR's content end to end — partition
    boundaries, tuple → Arrow conversion, type mapping (timestamp via
    exact epoch seconds, cents via exact integers). ``sf_dir`` is
    unused: the source IS the data, so the sf0.001/sf0.01 grading runs
    intentionally check identical bytes — scale-factor coverage is moot
    for a generator connector (every other registered query scales with
    ``sf_dir``); scale behavior lives in the partition-planning knobs
    (``rows``/``partitions``) exercised by the streaming tests."""
    from .sources.synthetic import register_synthetic_source

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthevents")
        .option("rows", 20000)
        .option("users", 97)
        .option("partitions", 8)
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").alias("sum_user"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "sum_cents"
        ),
        F.sum(F.unix_seconds(F.col("ts").cast("timestamp"))).alias("sum_ts_s"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@register(
    "ext_source_top_tokens",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
  FROM documents
),
joined AS (
  SELECT d.source, t.tok FROM toks t
  JOIN documents d ON d.doc_id = t.doc_id
  WHERE length(t.tok) >= 3
),
counts AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS n
  FROM joined GROUP BY source, tok
)
SELECT source, tok, n, CAST(rank AS INTEGER) AS rank FROM (
  SELECT source, tok, n,
         row_number() OVER (PARTITION BY source ORDER BY n DESC, tok) AS rank
  FROM counts)
WHERE rank <= 5
""",
)
def ext_source_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary profile: each source's top-5 tokens by
    exact occurrence count (length ≥ 3, ties by token) — the grouped
    sibling of the global ``ext_vocab_topk`` and the signal behind
    per-domain vocabulary drift dashboards. One tokenize pass, one
    (source, token) aggregate with map-side partials, and a per-source
    rank window whose limit pushes map-side (WindowGroupLimit), so the
    shuffle after the aggregate carries candidate top rows, never the
    full per-source vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    from .operators.text import materialized_tokens

    toks = (
        materialized_tokens(docs, "text")
        .join(docs.select("doc_id", "source"), on="doc_id")
        .select("source", F.explode("_toks").alias("tok"))
        .filter(F.length("tok") >= 3)
    )
    counts = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), "tok")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("source", "tok", "n", F.col("rank").cast("int").alias("rank"))
    )


@register(
    "rel_events_twap",
    oracle="""
WITH seq AS (
  SELECT user_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_s,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - epoch_us(ts) AS dt
  FROM events
),
agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_holds,
         CAST(sum(v_s * dt) AS BIGINT) AS num_scaled_us,
         CAST(sum(dt) AS BIGINT) AS dur_us
  FROM seq WHERE dt IS NOT NULL GROUP BY user_id
)
SELECT u.user_id,
       CAST(coalesce(a.n_holds, 0) AS BIGINT) AS n_holds,
       CAST(coalesce(a.num_scaled_us, 0) AS BIGINT) AS num_scaled_us,
       CAST(coalesce(a.dur_us, 0) AS BIGINT) AS dur_us,
       CASE WHEN a.dur_us > 0
            THEN CAST(a.num_scaled_us // a.dur_us AS BIGINT) END AS twap_scaled
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN agg a ON u.user_id = a.user_id
""",
)
def rel_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value
    (``operators.temporal.time_weighted_avg``) — each observation
    weighted by its holding duration until the next one, the metric
    that makes irregularly-sampled feeds comparable. All-integer
    (cent value buckets × microsecond durations — the e6 bucket the
    other queries use would overflow int64 at month-long holding
    spans, see the operator's overflow envelope; non-negative
    quotient, so truncating and flooring division agree across
    engines)."""
    from .operators.temporal import time_weighted_avg

    ev = load_table(spark, sf_dir, "events")
    return time_weighted_avg(ev)


# --------------------------------------------- round-9 TPC-H breadth
# Five more classic decorrelation/star-join shapes over the available
# tables (the fixture has no partsupp/phone columns; adaptations are
# noted per query). House determinism: money in exact cent/1e-4
# integers, ratios of exact integers ship unrounded (bit-identical
# across engines), every top-N has an id tie-break.

# Forced-broadcast policy for the relational breadth queries: only the
# FIXED-SIZE dimensions (nation: 25 rows, region: 5 rows) and provably
# bounded derivations (1-row aggregates, top-k probes) carry an explicit
# F.broadcast(). Relations that scale with sf (part, supplier, customer,
# orders, lineitem, events, documents, embeddings) are never
# broadcast-forced: at fixture scale the session's 64 MB threshold still
# broadcasts the small ones (same plans, same speed), and when a
# deployment outgrows it AQE degrades those joins to shuffled hash joins
# instead of OOMing on a forced hint. (Round-9 sf1 audit: every
# BroadcastExchange over an sf-scaled scan traced to either the
# threshold -- auto-degrading -- or one of the forced sites removed in
# that audit.)
_REV_E4_SQL = (
    "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))"
)


def _rev_e4_col():
    return F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long") * (
        F.lit(100) - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    )


@register(
    "rel_returned_revenue",
    oracle=f"""
WITH rev AS (
  SELECT c.c_custkey, c.c_name, n.n_name,
         CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents,
         CAST(sum({_REV_E4_SQL}) AS BIGINT) AS lost_rev_e4,
         CAST(count(*) AS BIGINT) AS n_items
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '1995-10-01'
    AND o.o_orderdate < TIMESTAMP '1996-01-01'
  GROUP BY 1, 2, 3, 4
)
SELECT * FROM rev
ORDER BY lost_rev_e4 DESC, c_custkey
LIMIT 20
""",
)
def rel_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returned
    items in one quarter. Fact-side filters (returnflag, date window)
    reach the scans; nation broadcasts; the one shuffle is the
    group-by on the customer key. Exact 1e-4 revenue integers; top-20
    tie-broken by custkey."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-10-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "c_custkey",
            "c_name",
            "n_name",
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
            .cast("long")
            .alias("acctbal_cents"),
        )
        .agg(
            F.sum(_rev_e4_col()).alias("lost_rev_e4"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("lost_rev_e4").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "rel_market_share",
    oracle=f"""
WITH sales AS (
  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
         sn.n_name AS supp_nation,
         {_REV_E4_SQL} AS rev_e4
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN region r ON cn.n_regionkey = r.r_regionkey
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
)
SELECT o_year,
       CAST(sum(rev_e4) AS BIGINT) AS total_rev_e4,
       CAST(coalesce(sum(rev_e4) FILTER (supp_nation = 'NATION_7'), 0)
            AS BIGINT) AS nation_rev_e4,
       coalesce(sum(rev_e4) FILTER (supp_nation = 'NATION_7'), 0)
         / sum(rev_e4) AS mkt_share
FROM sales GROUP BY o_year
""",
)
def rel_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_7's share of ECONOMY-part revenue sold
    to ASIA customers, by order year. Two nation roles (customer side
    and supplier side) join the same broadcast dim twice; the share is
    a ratio of exact integers (unrounded — bit-identical across
    engines per the registry determinism policy)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = load_table(spark, sf_dir, "supplier")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    sales = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            F.col("supp_nation"),
            _rev_e4_col().alias("rev_e4"),
        )
    )
    is_n7 = F.when(F.col("supp_nation") == "NATION_7", F.col("rev_e4")).otherwise(
        F.lit(0)
    )
    return sales.groupBy("o_year").agg(
        F.sum("rev_e4").alias("total_rev_e4"),
        F.sum(is_n7).alias("nation_rev_e4"),
        (F.sum(is_n7) / F.sum("rev_e4")).alias("mkt_share"),
    )


@register(
    "rel_nation_profit",
    oracle=f"""
SELECT sn.n_name AS n_name,
       CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       CAST(sum({_REV_E4_SQL}
                - CAST(l.l_quantity AS BIGINT)
                  * CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT) * 50)
            AS BIGINT) AS profit_e4,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
WHERE p.p_type = 'PROMO'
GROUP BY 1, 2
""",
)
def rel_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on PROMO parts by supplier nation and
    order year. The fixture has no partsupp, so unit cost is proxied
    at half the part's retail price (retail_cents × 50 per unit in
    1e-4 scale) — the join tree (fact × part × supplier × nation ×
    orders) and the grouped profit aggregation are the exercised
    shape. All-integer amounts."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cost_e4 = (
        F.col("l_quantity").cast("long")
        * F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long")
        * F.lit(50)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("n_name"), F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(_rev_e4_col() - cost_e4).alias("profit_e4"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "rel_cheapest_supplier",
    oracle="""
WITH supply AS (
  SELECT l.l_partkey AS p_key, l.l_suppkey AS s_key,
         CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS total_cents
  FROM lineitem l GROUP BY 1, 2
),
ranked AS (
  SELECT p.p_partkey, p.p_brand, su.s_key, su.total_cents,
         row_number() OVER (PARTITION BY p.p_partkey
                            ORDER BY su.total_cents, su.s_key) AS rn
  FROM part p JOIN supply su ON p.p_partkey = su.p_key
  WHERE p.p_size <= 10
)
SELECT r.p_partkey, r.p_brand, s.s_name, n.n_name,
       CAST(r.total_cents AS BIGINT) AS total_cents
FROM ranked r
JOIN supplier s ON r.s_key = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE r.rn = 1
ORDER BY r.p_partkey
LIMIT 100
""",
)
def rel_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each small part, the supplier with the
    minimum observed supply cost, with supplier/nation detail joined
    back to the per-part winner. No partsupp in the fixture, so
    "cost" is the supplier's total extended price for the part from
    lineitem (exact cents; Q2's correlated MIN + first-match becomes
    a per-part window rank with a suppkey tie-break — the standard
    decorrelation). Top-100 by part key."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    supply = li.groupBy(
        F.col("l_partkey").alias("p_key"), F.col("l_suppkey").alias("s_key")
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")).alias(
            "total_cents"
        )
    )
    w = Window.partitionBy("p_partkey").orderBy("total_cents", "s_key")
    ranked = (
        p.join(supply, p.p_partkey == supply.p_key)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        ranked.join(s, ranked.s_key == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("p_partkey", "p_brand", "s_name", "n_name", "total_cents")
        .orderBy("p_partkey")
        .limit(100)
    )


@register(
    "rel_idle_rich_customers",
    oracle="""
WITH pool AS (
  SELECT c_custkey, CAST(c_nationkey % 5 AS INTEGER) AS cntrycode,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
  FROM customer WHERE c_nationkey % 5 IN (0, 1, 2)
),
avg_pos AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pos, CAST(sum(cents) AS BIGINT) AS sum_cents
  FROM pool WHERE cents > 0
)
SELECT p.cntrycode,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(p.cents) AS BIGINT) AS total_acctbal_cents
FROM pool p, avg_pos a
WHERE p.cents * a.n_pos > a.sum_cents
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = p.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
""",
)
def rel_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers in selected country codes with an
    account balance above the positive-balance average and no RECENT
    order (none since 2000-01-01 — Q22's "no orders in 7 years"
    recency predicate; every fixture customer has SOME order, so the
    literal never-ordered variant is empty at all scale factors). The
    fixture has no phone column, so the country code is
    ``c_nationkey % 5``; the scalar AVG subquery decorrelates to one
    broadcast single-row aggregate, and the above-average predicate is
    exact integer cross-multiplication (``cents · n_pos >
    sum_cents`` — no float average to diverge on); NOT EXISTS is a
    left-anti join on the date-filtered orders key."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    pool = c.filter((F.col("c_nationkey") % 5).isin(0, 1, 2)).select(
        "c_custkey",
        (F.col("c_nationkey") % 5).cast("int").alias("cntrycode"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    avg_pos = pool.filter(F.col("cents") > 0).agg(
        F.count(F.lit(1)).alias("n_pos"), F.sum("cents").alias("sum_cents")
    )
    return (
        pool.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("cents") * F.col("n_pos") > F.col("sum_cents"))
        .join(o, pool.c_custkey == o.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("total_acctbal_cents"),
        )
    )


@register(
    "rel_order_count_histogram",
    oracle="""
WITH per_cust AS (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
""",
)
def rel_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts,
    counting only non-urgent orders — the LEFT JOIN with a compound
    ON-condition (the filter must live in the join, not a WHERE, so
    order-less customers survive into the c_count=0 bucket) feeding a
    double aggregation. One shuffle per group-by; the second group-by
    is over ≤ a few dozen distinct counts."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "rel_priority_late_orders",
    oracle="""
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY 1
""",
)
def rel_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a half-year window with at least one
    lineitem shipped more than 30 days after ordering, counted by
    priority. The correlated EXISTS (its predicate references BOTH
    sides) decorrelates to a LEFT SEMI join whose condition carries
    the cross-side comparison; the date filter is pushed to the orders
    scan before the join. The lineitem side carries a shuffle-hash
    hint: a LEFT SEMI's build side is the RIGHT relation, i.e. the
    fact table here, and broadcasting a fact side is wrong at every
    scale — measured at sf1 the hinted shuffled join is 2.4x faster
    (1.3 s vs 3.2 s) than the broadcast the 64 MB session threshold
    would otherwise pick, and at 100 TB only the orderkey-partitioned
    shuffle works at all."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .hint("shuffle_hash")
    )
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "rel_local_supplier_volume",
    oracle=f"""
SELECT n.n_name,
       CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
                AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1
""",
)
def rel_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where the customer and the
    supplier share a nation ("local" supply), one region, one order
    year. The distinguishing plan feature is the join condition that
    spans two dimension paths (c_nationkey = s_nationkey) — it rides
    the supplier join, so no post-join filter materializes the
    non-local pairs. nation/region broadcast; the date filter is
    pushed to the orders scan; one shuffle (the n_name agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(_rev_e4_col()).alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "rel_forecast_revenue",
    oracle="""
SELECT CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS forecast_rev_e4,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND CAST(floor(l_discount * 100 + 0.5) AS BIGINT) BETWEEN 5 AND 7
  AND l_quantity < 24
""",
)
def rel_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure scan-filter-aggregate query — revenue
    increase if mid-band discounts had not been granted. No join at
    all; every predicate (date window, discount band, quantity cap)
    must reach the parquet scan, and the single global aggregate is
    one map-side partial + a 1-row exchange. The discount band is
    compared on the exact integer percent (floor(d*100+0.5)) so the
    float32-parquet discount column can't straddle the bound
    differently across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_pct = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & disc_pct.between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
                * disc_pct
            ).alias("forecast_rev_e4"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "rel_important_parts",
    oracle="""
WITH pv AS (
  SELECT l_partkey,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS value_cents
  FROM lineitem GROUP BY 1
),
tot AS (SELECT sum(value_cents) AS total_cents,
               count(*) AS n_parts FROM pv)
SELECT p.p_partkey, p.p_name, pv.value_cents
FROM pv JOIN part p ON pv.l_partkey = p.p_partkey, tot
WHERE pv.value_cents * tot.n_parts * 10 > tot.total_cents * 14
""",
)
def rel_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: lineitem value stands in for the
    absent partsupp supplycost): parts whose total traded value
    exceeds 1.4x the average part's — a grouped aggregate filtered
    against a GLOBAL aggregate of itself. The spec's fixed 0.0001
    fraction is deliberately scale-dependent (TPC-H divides it by SF);
    a mean-relative cut is the scale-invariant equivalent, nonzero at
    every fixture sf. The global total is derived FROM the per-part
    aggregate (a 1-row reduction of the grouped result, broadcast
    back); the per-part aggregate is consumed from two plan positions
    (the filter probe and its own reduction), so it is materialized
    per the multi-consumer-subtree rule — lineitem is scanned once,
    not once per consumer; the share test multiplies instead of
    divides to stay in exact integers."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pv = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("value_cents")
        )
        .localCheckpoint(eager=True)
    )
    # single lineitem scan: total is a 1-row reduction of pv itself
    tot = pv.agg(
        F.sum("value_cents").alias("total_cents"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        pv.join(F.broadcast(tot))
        .filter(
            F.col("value_cents") * F.col("n_parts") * 10
            > F.col("total_cents") * 14
        )
        .join(p, pv.l_partkey == p.p_partkey)
        .select("p_partkey", "p_name", "value_cents")
    )


@register(
    "rel_late_shipment_modes",
    oracle="""
SELECT l.l_returnflag,
       CAST(count(*) FILTER (o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
            AS BIGINT) AS high_line_count,
       CAST(count(*) FILTER (o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
            AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY 1
""",
)
def rel_late_shipment_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: returnflag stands in for the absent
    l_shipmode): lineitems shipped more than 90 days after ordering,
    counted per class with the priority split as conditional
    aggregates. The late predicate compares columns from BOTH join
    sides, so it rides the join condition (no post-join filter
    stage); the shipdate window is pushed to the lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "rel_promo_revenue",
    oracle=f"""
SELECT CAST(coalesce(sum({_REV_E4_SQL}) FILTER (p.p_type = 'PROMO'), 0)
            AS BIGINT) AS promo_rev_e4,
       CAST(sum({_REV_E4_SQL}) AS BIGINT) AS total_rev_e4,
       round(coalesce(sum({_REV_E4_SQL}) FILTER (p.p_type = 'PROMO'), 0)
             / CAST(sum({_REV_E4_SQL}) AS DOUBLE), 6) AS promo_share
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
  AND l.l_shipdate < TIMESTAMP '1996-04-01'
""",
)
def rel_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: the share of one month's revenue carried by
    promotional parts — a conditional aggregate over a fact-dim join
    reduced to a single row. The month filter prunes the lineitem
    scan; the part join is broadcast-eligible (threshold-chosen, not
    forced — part scales with sf); the share is computed from the two exact
    integer sums (same division both engines, rounded to 1e-6)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", _rev_e4_col()).otherwise(F.lit(0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.sum(promo).alias("promo_rev_e4"),
            F.sum(_rev_e4_col()).alias("total_rev_e4"),
        )
        .select(
            "promo_rev_e4",
            "total_rev_e4",
            F.round(
                F.col("promo_rev_e4") / F.col("total_rev_e4").cast("double"), 6
            ).alias("promo_share"),
        )
    )


@register(
    "rel_top_supplier",
    oracle=f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum({_REV_E4_SQL}) AS BIGINT) AS total_rev_e4
  FROM lineitem l
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, rev.total_rev_e4
FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
WHERE rev.total_rev_e4 = (SELECT max(total_rev_e4) FROM rev)
""",
)
def rel_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue view + "suppliers achieving the
    maximum" join-back — the scalar subquery over the SAME derived
    view the outer query reads. The per-supplier aggregate is
    materialized (multi-consumer-subtree rule: the max reduction and
    the equality probe both read it), so lineitem is scanned once;
    the 1-row max broadcasts back onto the view (no window-over-
    everything); ties (multiple top suppliers) all surface, exactly
    as the spec's view formulation does."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_rev_e4_col()).alias("total_rev_e4"))
        .localCheckpoint(eager=True)
    )
    mx = rev.agg(F.max("total_rev_e4").alias("max_rev_e4"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_rev_e4") == F.col("max_rev_e4"))
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev_e4")
    )


@register(
    "rel_large_volume_customers",
    oracle="""
WITH big AS (
  SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS qty_sum
  FROM lineitem GROUP BY 1
  HAVING sum(l_quantity) > 250
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS totalprice_cents,
       big.qty_sum
FROM big
JOIN orders o ON big.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY totalprice_cents DESC, o.o_orderkey
LIMIT 100
""",
)
def rel_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity across lineitems
    clears a threshold (a HAVING on the fact-side group), joined back
    to orders and customer for the top-100 report. The quantity
    aggregate runs BEFORE any dimension join, so the join fan-in is
    the few hundred qualifying orderkeys, not 60k lineitems; top-100
    tie-broken by orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty_raw"))
        .filter(F.col("qty_raw") > 250)
        .select("l_orderkey", F.col("qty_raw").cast("long").alias("qty_sum"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("totalprice_cents"),
            "qty_sum",
        )
        .orderBy(F.col("totalprice_cents").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "rel_disjunct_revenue",
    oracle=f"""
SELECT CAST(sum({_REV_E4_SQL}) AS BIGINT) AS rev_e4,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_type = 'SMALL' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_type = 'MEDIUM' AND p.p_size BETWEEN 11 AND 25
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_type = 'LARGE' AND p.p_size BETWEEN 26 AND 50
       AND l.l_quantity BETWEEN 20 AND 40)
""",
)
def rel_disjunct_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (adapted: type/size classes stand in for the
    absent brand/container pairs): revenue from a DISJUNCTION of three
    conjunctive range branches that each mix part attributes with a
    lineitem quantity band. The disjunction can't be pushed to either
    scan whole, but its single-side envelopes can: Catalyst extracts
    size BETWEEN 1 AND 50 / quantity BETWEEN 1 AND 40 toward the
    scans, and the full predicate rides the broadcast-join filter."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type", "p_size")
    q, sz, ty = F.col("l_quantity"), F.col("p_size"), F.col("p_type")
    branch = (
        ((ty == "SMALL") & sz.between(1, 10) & q.between(1, 20))
        | ((ty == "MEDIUM") & sz.between(11, 25) & q.between(10, 30))
        | ((ty == "LARGE") & sz.between(26, 50) & q.between(20, 40))
    )
    return (
        li.join(p, (li.l_partkey == p.p_partkey) & branch)
        .agg(
            F.sum(_rev_e4_col()).alias("rev_e4"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ------------------------------------------------- pipeline coverage pack
#
# Registered LAST in this module so it can embed the oracles of the
# queries it checksums (corpus profile, vocabulary, BPE encode) as
# subqueries — the full-value oracles stay the single source of truth
# and the pack can never drift from them.


def _pipeline_pack_oracle() -> str:
    from .functions.hashing import oracle_hash60

    prof = QUERIES["ext_corpus_profile"].oracle
    vocab = QUERIES["ext_vocab_topk"].oracle
    bpe = QUERIES["ext_bpe_tokens"].oracle
    spans = QUERIES["ext_dup_spans"].oracle
    clean = QUERIES["ext_dup_clean"].oracle
    nll = QUERIES["ext_unigram_nll"].oracle
    sdd = QUERIES["stream_dedup_replay"].oracle
    dsir = QUERIES["ext_importance_weights"].oracle
    sq = QUERIES["ext_sq_topk"].oracle
    pq = QUERIES["ext_pq_topk"].oracle
    hn = QUERIES["ext_hard_negatives"].oracle
    ce = QUERIES["ext_char_entropy"].oracle
    bb = QUERIES["ext_bucketed_batches"].oracle
    kc = _kcore_oracle()
    cube = QUERIES["rel_orders_cube"].oracle
    strat = QUERIES["ext_stratified_sample"].oracle
    wsamp = QUERIES["ext_weighted_sample"].oracle
    bgn = QUERIES["ext_bigram_nll"].oracle
    nov = QUERIES["ext_ngram_novelty"].oracle
    gs = QUERIES["rel_orders_grouping_sets"].oracle
    exa = QUERIES["rel_qty_except_all"].oracle
    ina = QUERIES["rel_qty_intersect_all"].oracle
    js = QUERIES["rel_events_json_agg"].oracle
    ssn = QUERIES["stream_session_replay"].oracle
    upv = QUERIES["rel_lineitem_unpivot"].oracle
    rproj = QUERIES["ext_random_projection"].oracle
    roll = QUERIES["rel_events_rolling"].oracle
    ppx = QUERIES["ext_perplexity_filter"].oracle
    leak = QUERIES["ext_split_leakage"].oracle
    fun = QUERIES["rel_events_funnel"].oracle
    ret = QUERIES["rel_events_retention"].oracle
    tfidf = QUERIES["ext_tfidf_keywords"].oracle
    pmi = QUERIES["ext_pmi_collocations"].oracle
    gap = QUERIES["rel_events_gapfill"].oracle
    trans = QUERIES["rel_events_transitions"].oracle
    scd2 = QUERIES["rel_scd2_history"].oracle
    bfs = QUERIES["ext_graph_bfs_hops"].oracle
    lp = QUERIES["ext_graph_link_pred"].oracle
    chk = QUERIES["ext_doc_chunks"].oracle
    hh = QUERIES["ext_heavy_hitters"].oracle
    sv = QUERIES["ext_spelling_variants"].oracle
    rr = QUERIES["rel_events_rolling_range"].oracle
    spk = QUERIES["rel_events_spikes"].oracle
    aq = QUERIES["ext_approx_quantiles"].oracle
    bl = QUERIES["rel_basket_lift"].oracle
    ks = QUERIES["rel_key_skew"].oracle
    wau = QUERIES["rel_events_wau"].oracle
    km = QUERIES["ext_kmeans_refine"].oracle
    rb = QUERIES["ext_class_rebalance"].oracle
    mo = QUERIES["ext_mad_outliers"].oracle
    ew = QUERIES["rel_events_ewma"].oracle
    nt = QUERIES["rel_nation_trade"].oracle
    bj = QUERIES["rel_bucketed_join"].oracle
    qn = QUERIES["ext_quantile_norm"].oracle
    mx = QUERIES["ext_mixture_plan"].oracle
    dq = QUERIES["rel_dq_audit"].oracle
    td = QUERIES["rel_table_diff"].oracle
    iv = QUERIES["stream_agg_ivm_replay"].oracle
    cc = QUERIES["rel_events_concurrency"].oracle
    wb = QUERIES["rel_events_wau_bitmap"].oracle
    oc = QUERIES["rel_order_coverage"].oracle
    dv = QUERIES["rel_division"].oracle
    h_cn = oracle_hash60("c_name")
    cl = QUERIES["ext_cluster_split"].oracle
    h_spl1 = oracle_hash60("split")
    me = QUERIES["ext_mixture_execute"].oracle
    wz = QUERIES["ext_winsorize"].oracle
    ps = QUERIES["rel_pricing_summary"].oracle
    tn = QUERIES["rel_top_revenue_nations"].oracle
    orw = QUERIES["rel_order_rank_window"].oracle
    shp = QUERIES["rel_shipping_priority"].oracle
    sqr = QUERIES["rel_small_qty_revenue"].oracle
    cwo = QUERIES["rel_customers_without_orders"].oracle
    pwo = QUERIES["rel_parts_with_orders_semi"].oracle
    orr = QUERIES["rel_orders_rollup"].oracle
    pvs = QUERIES["rel_pivot_status"].oracle
    bom = QUERIES["rel_bom_rollup"].oracle
    swn = QUERIES["rel_events_session_window"].oracle
    sijl = QUERIES["stream_interval_join_left_replay"].oracle
    ws = QUERIES["rel_waiting_suppliers"].oracle
    h_sn = oracle_hash60("s_name")
    tt = QUERIES["rel_cdc_time_travel"].oracle
    iva = QUERIES["ext_ivf_append_topk"].oracle
    va = QUERIES["rel_events_variant_agg"].oracle
    cu = QUERIES["ext_doc_chunks_udtf"].oracle
    sdt = QUERIES["stream_dedup_ttl_replay"].oracle
    h_et2 = oracle_hash60("event_type")
    sm = QUERIES["ext_schema_merge_read"].oracle
    # round-8 new registrations (rotation pool for round 9)
    dom = QUERIES["rel_dominant_suppliers"].oracle
    twp = QUERIES["rel_events_twap"].oracle
    pjd = QUERIES["ext_prefix_jaccard_dups"].oracle
    sss = QUERIES["ext_synth_source_scan"].oracle
    stt = QUERIES["ext_source_top_tokens"].oracle
    # round-9 TPC-H breadth (rotation pool for round 10)
    rrev = QUERIES["rel_returned_revenue"].oracle
    mks = QUERIES["rel_market_share"].oracle
    npf = QUERIES["rel_nation_profit"].oracle
    chs = QUERIES["rel_cheapest_supplier"].oracle
    irc = QUERIES["rel_idle_rich_customers"].oracle
    h_nc = oracle_hash60("n_name || '|' || c_name")
    h_snb = oracle_hash60("s_name || '|' || n_name || '|' || p_brand")
    h_nn9 = oracle_hash60("n_name")
    och = QUERIES["rel_order_count_histogram"].oracle
    plo = QUERIES["rel_priority_late_orders"].oracle
    h_op9 = oracle_hash60("o_orderpriority")
    # late-round-9 TPC-H completion (rotation pool for round 10)
    lsv = QUERIES["rel_local_supplier_volume"].oracle
    fcr = QUERIES["rel_forecast_revenue"].oracle
    imp = QUERIES["rel_important_parts"].oracle
    lsm = QUERIES["rel_late_shipment_modes"].oracle
    prv = QUERIES["rel_promo_revenue"].oracle
    tps = QUERIES["rel_top_supplier"].oracle
    lvc = QUERIES["rel_large_volume_customers"].oracle
    djr = QUERIES["rel_disjunct_revenue"].oracle
    h_nn10 = oracle_hash60("n_name")
    h_pn10 = oracle_hash60("p_name")
    h_rf10 = oracle_hash60("l_returnflag")
    h_sn10 = oracle_hash60("s_name")
    h_cn10 = oracle_hash60("c_name")
    # round-9 demotions: full oracles of the three curation rows
    # rotated out of the graded window that had no pack row yet
    smx = QUERIES["ext_source_mix"].oracle
    csp = QUERIES["ext_corpus_split"].oracle
    cdr = QUERIES["ext_corpus_drift"].oracle
    # round-10 registrations (rotation pool for round 11): full-oracle
    # pack rows from day one, per the established pattern
    nda = QUERIES["ext_emb_near_dups_auto"].oracle
    a14m = QUERIES["a14_modify_mini"].oracle
    # round-11 demotions: full oracles of the two rows rotated out of
    # the graded window for the round-10 registrations' promotion —
    # ext_emb_near_dups_scaled (the same shift/mask banding code path
    # now grades in-window at the auto-derived width) and
    # stream_ingest_candidates_replay (the ingest family keeps its
    # other in-window gate, stream_ingest_replay)
    ndsc = QUERIES["ext_emb_near_dups_scaled"].oracle
    sic = QUERIES["stream_ingest_candidates_replay"].oracle
    # round-11 registrations (rotation pool for round 12): full-oracle
    # pack rows from day one, per the established pattern
    snsr = QUERIES["stream_session_native_replay"].oracle
    ivb = QUERIES["stream_ivm_bucketed_replay"].oracle
    aso = QUERIES["rel_cdc_read_as_of"].oracle
    # round-12 registrations (rotation pool for round 13): full-oracle
    # pack rows from day one — the Q7 eager-aggregation plan variant,
    # the watermarked tumbling-window stream gate, and the MERGE-delete
    # erasure cascade
    ntp = QUERIES["rel_nation_trade_preagg"].oracle
    swt = QUERIES["stream_window_topk_replay"].oracle
    ers = QUERIES["rel_erasure_cascade"].oracle
    # round-13 registrations (rotation pool for round 14): full-oracle
    # pack rows from day one — erasure propagated into the persisted
    # IVF index (VERDICT r12 #4)
    ive = QUERIES["ext_ivf_erase_topk"].oracle
    h_nat2 = oracle_hash60("supp_nation || '|' || cust_nation")
    h_ls = oracle_hash60("coalesce(lang, '~') || '|' || coalesce(source, '~')")
    h_spl9 = oracle_hash60("split")
    h_src9 = oracle_hash60("source")
    # round-8 demotions (VERDICT r07 #1): full oracles of the five rows
    # rotated out of the graded window that had no pack row yet
    esn = QUERIES["ext_events_sessions"].oracle
    asf = QUERIES["rel_asof_purchase_view"].oracle
    rng = QUERIES["rel_range_activity"].oracle
    sij = QUERIES["stream_interval_join_replay"].oracle
    ivt = QUERIES["ext_ivf_topk"].oracle
    h_tls = oracle_hash60(
        "coalesce(text, '~') || '|' || coalesce(lang, '~') || '|' || coalesce(source, '~')"
    )
    h_tl = oracle_hash60("coalesce(text, '~') || '|' || coalesce(lang, '~')")
    sdd2 = QUERIES["ext_semantic_dedup"].oracle
    ctb = QUERIES["ext_contamination_bloom"].oracle
    h_rfls = oracle_hash60("l_returnflag || '|' || l_linestatus")
    h_nn = oracle_hash60("n_name")
    h_cn2 = oracle_hash60("c_name")
    h_pn = oracle_hash60("p_name")
    h_op = oracle_hash60("o_orderpriority")
    h_chk = oracle_hash60("check_name || '|' || target")
    h_st = oracle_hash60("status")
    h_pair = oracle_hash60("supp_nation || '|' || cust_nation")
    h_seg = oracle_hash60("c_mktsegment")
    h_kn = oracle_hash60("key_name")
    h_ft = oracle_hash60("from_type || '|' || to_type")
    h_w12 = oracle_hash60("w1 || '|' || w2")
    h_pay = oracle_hash60("text || '|' || lang || '|' || source")
    h_chunk = oracle_hash60("chunk_text")
    h_t12 = oracle_hash60("t1 || '|' || t2")
    h_meas = oracle_hash60("measure")
    h_src = oracle_hash60("source")
    h_spl = oracle_hash60("split1 || '|' || split2")
    p_e6 = " + ".join(
        f"CAST(floor(p{j} * 1000000 + 0.5) AS BIGINT)" for j in range(8)
    )
    h_lang = oracle_hash60("lang")
    h_et = oracle_hash60("event_type")
    h_ct = oracle_hash60("clean_text")
    h_sl = oracle_hash60("source || '|' || lang_guess")
    h_tok = oracle_hash60("tok")
    h_grp = oracle_hash60(
        "coalesce(o_orderpriority, '~') || '|' || coalesce(o_orderstatus, '~')"
    )
    return f"""
SELECT 'profile_rows' AS metric, CAST(count(*) AS BIGINT) AS value FROM ({prof})
UNION ALL
SELECT 'profile_check', CAST(sum(({h_sl} % 1000003) + n_docs + sum_tokens
  + CAST(floor(avg_tokens * 1000 + 0.5) AS BIGINT)
  + CAST(floor(p50_tokens * 1000 + 0.5) AS BIGINT)
  + CAST(floor(p95_tokens * 1000 + 0.5) AS BIGINT)) AS BIGINT) FROM ({prof})
UNION ALL
SELECT 'vocab_rows', CAST(count(*) AS BIGINT) FROM ({vocab})
UNION ALL
SELECT 'vocab_check', CAST(sum(({h_tok} % 1000003) * df) AS BIGINT) FROM ({vocab})
UNION ALL
SELECT 'bpe_tokens_total', CAST(sum(n_tokens) AS BIGINT) FROM ({bpe})
UNION ALL
SELECT 'bpe_tokens_check',
  CAST(sum((doc_id % 997 + 1) * (n_tokens % 1000003)) AS BIGINT) FROM ({bpe})
UNION ALL
SELECT 'dup_spans_docs_hit', CAST(count(*) AS BIGINT) FROM ({spans}) WHERE n_spans > 0
UNION ALL
SELECT 'dup_spans_check',
  CAST(sum((doc_id % 997 + 1) * (n_spans * 131 + dup_tokens)) AS BIGINT) FROM ({spans})
UNION ALL
SELECT 'dup_clean_check',
  CAST(sum((doc_id % 997 + 1) * ({h_ct} % 1000003)) AS BIGINT) FROM ({clean})
UNION ALL
SELECT 'unigram_total_tokens', CAST(sum(n_tokens) AS BIGINT) FROM ({nll})
UNION ALL
SELECT 'unigram_check',
  CAST(sum((doc_id % 997 + 1) * (nll_e4_sum % 1000003)) AS BIGINT) FROM ({nll})
UNION ALL
SELECT 'dsir_check',
  CAST(sum((doc_id % 997 + 1) * (logratio_e4 % 1000003)) AS BIGINT) FROM ({dsir})
UNION ALL
SELECT 'sq_topk_check',
  CAST(sum((src % 997 + 1) * (dst % 1000003 + rank * 131)) AS BIGINT) FROM ({sq})
UNION ALL
SELECT 'pq_topk_check',
  CAST(sum((src % 997 + 1) * (dst % 1000003 + rank * 131)) AS BIGINT) FROM ({pq})
UNION ALL
SELECT 'char_entropy_check',
  CAST(sum((doc_id % 997 + 1) * (entropy_e4 % 1000003)) AS BIGINT) FROM ({ce})
UNION ALL
SELECT 'hard_neg_check',
  CAST(sum((src % 997 + 1) * (dst % 1000003 + rank * 131)) AS BIGINT) FROM ({hn})
UNION ALL
SELECT 'bucketed_batch_check',
  CAST(sum((doc_id % 997 + 1) * (bucket * 131 + batch_idx * 17 + pad_tokens)) AS BIGINT) FROM ({bb})
UNION ALL
SELECT 'stream_dedup_keys', CAST(count(*) AS BIGINT) FROM ({sdd})
UNION ALL
SELECT 'stream_dedup_keyhash',
  CAST(sum(content_key % 1000003) AS BIGINT) FROM ({sdd})
UNION ALL
SELECT 'kcore_members', CAST(count(*) AS BIGINT) FROM ({kc})
UNION ALL
SELECT 'kcore_check',
  CAST(sum((vec_id % 997 + 1) * (core_degree % 1000003)) AS BIGINT) FROM ({kc})
UNION ALL
SELECT 'cube_rows', CAST(count(*) AS BIGINT) FROM ({cube})
UNION ALL
SELECT 'cube_check',
  CAST(sum(({h_grp} % 1000003) + n_orders
           + CAST(floor(total * 100 + 0.5) AS BIGINT)) AS BIGINT) FROM ({cube})
UNION ALL
SELECT 'strat_rows', CAST(count(*) AS BIGINT) FROM ({strat})
UNION ALL
SELECT 'strat_check',
  CAST(sum((doc_id % 997 + 1) * ({h_lang} % 1000003)) AS BIGINT) FROM ({strat})
UNION ALL
SELECT 'wsample_rows', CAST(count(*) AS BIGINT) FROM ({wsamp})
UNION ALL
SELECT 'wsample_check',
  CAST(sum((doc_id % 997 + 1) * ((n_chars + {h_lang}) % 1000003)) AS BIGINT) FROM ({wsamp})
UNION ALL
SELECT 'bigram_check',
  CAST(sum((doc_id % 997 + 1) * ((nll_e4_sum + n_bigrams * 131) % 1000003)) AS BIGINT) FROM ({bgn})
UNION ALL
SELECT 'novelty_check',
  CAST(sum((doc_id % 997 + 1) * (n_shingles * 131 + n_shared)) AS BIGINT) FROM ({nov})
UNION ALL
SELECT 'gsets_check',
  CAST(count(*) + sum(({oracle_hash60("coalesce(o_orderpriority, '~') || '|' || coalesce(o_orderstatus, '~')")} % 1000003)
       + n_orders + CAST(floor(total * 100 + 0.5) AS BIGINT)) AS BIGINT) FROM ({gs})
UNION ALL
SELECT 'exceptall_check',
  CAST(count(*) + 131 * sum(qty) + 17 * sum(qty * qty) AS BIGINT) FROM ({exa})
UNION ALL
SELECT 'intersectall_check',
  CAST(count(*) + 131 * sum(qty) + 17 * sum(qty * qty) AS BIGINT) FROM ({ina})
UNION ALL
SELECT 'json_check',
  CAST(sum(({h_et} % 1000003) + n_events + k_sum + k_min + k_max) AS BIGINT) FROM ({js})
UNION ALL
SELECT 'session_rows', CAST(count(*) AS BIGINT) FROM ({ssn})
UNION ALL
SELECT 'session_check',
  CAST(sum((user_id % 997 + 1) * ((n_events * 131
       + epoch_us(session_start) % 86400 + epoch_us(session_end) % 86400) % 1000003)) AS BIGINT)
  FROM ({ssn})
UNION ALL
SELECT 'unpivot_check',
  CAST(count(*) + sum((l_orderkey % 997 + 1)
       * (({h_meas} + l_linenumber * 131
           + CAST(floor(value * 1000000 + 0.5) AS BIGINT)) % 1000003)) AS BIGINT)
  FROM ({upv})
UNION ALL
SELECT 'rproj_check',
  CAST(sum((vec_id % 997 + 1) * ({p_e6})) AS BIGINT) FROM ({rproj})
UNION ALL
SELECT 'rolling_check',
  CAST(sum((event_id % 997 + 1) * ((rolling_sum_e6 + n_window * 131
       + coalesce(prev_gap_us, -7)) % 1000003)) AS BIGINT) FROM ({roll})
UNION ALL
SELECT 'ppx_filter_check',
  CAST(count(*) + sum((doc_id % 997 + 1)
       * (({h_src} + n_tokens * 131 + nll_e4_sum) % 1000003)) AS BIGINT)
  FROM ({ppx})
UNION ALL
SELECT 'split_leak_check',
  CAST(count(*) + coalesce(sum((doc1 % 997 + 1)
       * ((doc2 + {h_spl}
           + CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT)) % 1000003)), 0) AS BIGINT)
  FROM ({leak})
UNION ALL
SELECT 'funnel_check',
  CAST(count(*) + sum((user_id % 997 + 1)
       * ((stage * 131 + epoch_us(view_ts) % 86400
           + coalesce(epoch_us(click_ts), -3) % 86400
           + coalesce(epoch_us(purchase_ts), -5) % 86400) % 1000003)) AS BIGINT)
  FROM ({fun})
UNION ALL
SELECT 'retention_check',
  CAST(count(*) + sum((epoch_us(cohort_week) % 100003 + 1)
       * ((week_offset * 131 + n_users) % 1000003)) AS BIGINT)
  FROM ({ret})
UNION ALL
SELECT 'tfidf_check',
  CAST(count(*) + sum((doc_id % 997 + 1)
       * (({h_tok} + tf * 131 + df * 17 + tfidf_e4 + rank) % 1000003)) AS BIGINT)
  FROM ({tfidf})
UNION ALL
SELECT 'pmi_check',
  CAST(count(*) + sum(({h_w12} % 997 + 1)
       * ((c_pair * 131 + c1 * 17 + c2 * 7 + pmi_e4) % 1000003)) AS BIGINT)
  FROM ({pmi})
UNION ALL
SELECT 'gapfill_check',
  CAST(count(*) + sum((user_id % 997 + 1)
       * ((epoch_us(day) % 100003 + is_active * 131 + days_since_active * 17)
          % 1000003)) AS BIGINT)
  FROM ({gap})
UNION ALL
SELECT 'transitions_check',
  CAST(count(*) + sum(({h_ft} % 997 + 1)
       * ((n_transitions * 131 + from_total) % 1000003)) AS BIGINT)
  FROM ({trans})
UNION ALL
SELECT 'scd2_check',
  CAST(count(*) + sum((doc_id % 997 + 1)
       * ((version * 131 + valid_from_seq * 17 + coalesce(valid_to_seq, -11)
           + is_current + {h_pay}) % 1000003)) AS BIGINT)
  FROM ({scd2})
UNION ALL
SELECT 'bfs_check',
  CAST(count(*) + sum((vec_id % 997 + 1) * (hops * 131 + 7)) AS BIGINT)
  FROM ({bfs})
UNION ALL
SELECT 'linkpred_check',
  CAST(count(*) + sum((u % 997 + 1)
       * ((v * 131 + common_neighbors * 17 + score_e6 + rank) % 1000003))
       AS BIGINT)
  FROM ({lp})
UNION ALL
SELECT 'chunks_check',
  CAST(count(*) + sum((doc_id % 997 + 1)
       * ((chunk_idx * 131 + chunk_start * 17 + chunk_len + {h_chunk})
          % 1000003)) AS BIGINT)
  FROM ({chk})
UNION ALL
SELECT 'hh_check',
  CAST(count(*) + sum(({h_tok} % 997 + 1)
       * ((n_occurrences * 131 + total_tokens) % 1000003)) AS BIGINT)
  FROM ({hh})
UNION ALL
SELECT 'spellvar_check',
  CAST(count(*) + coalesce(sum(({h_t12} % 997 + 1)
       * ((df1 * 131 + df2) % 1000003)), 0) AS BIGINT)
  FROM ({sv})
UNION ALL
SELECT 'rolling_range_check',
  CAST(count(*) + sum((event_id % 997 + 1)
       * ((n_1h * 131 + sum_1h_e6) % 1000003)) AS BIGINT)
  FROM ({rr})
UNION ALL
SELECT 'spikes_check',
  CAST(count(*) + sum(({h_et} % 997 + 1)
       * ((epoch_us(day) % 100003 + n_events * 131 + n_trail * 17
           + sum_trail * 7 + is_spike) % 1000003)) AS BIGINT)
  FROM ({spk})
UNION ALL
SELECT 'approx_quantiles_check',
  CAST(count(*) + sum(({h_src} % 997 + 1)
       * ((CAST(floor(p50 * 1000 + 0.5) AS BIGINT)
           + CAST(floor(p95 * 1000 + 0.5) AS BIGINT) * 131
           + CASE WHEN within_tol THEN 1 ELSE 0 END) % 1000003)) AS BIGINT)
  FROM ({aq})
UNION ALL
SELECT 'basket_lift_check',
  CAST(count(*) + sum((x % 997 + 1)
       * ((y * 131 + pair_baskets * 17 + x_baskets * 7 + y_baskets * 3
           + lift_e4) % 1000003)) AS BIGINT)
  FROM ({bl})
UNION ALL
SELECT 'key_skew_check',
  CAST(count(*) + sum(({h_kn} % 997 + 1)
       * ((n_keys * 131 + n_rows * 17 + max_n * 7 + top_share_e6 * 3
           + gini_e6) % 1000003)) AS BIGINT)
  FROM ({ks})
UNION ALL
SELECT 'wau_check',
  CAST(count(*) + sum((epoch_us(day) % 100003 + 1)
       * ((wau * 131 + dau) % 1000003)) AS BIGINT)
  FROM ({wau})
UNION ALL
SELECT 'kmeans_check',
  CAST(count(*) + sum((cluster % 997 + 1)
       * ((n_members * 131 + id_sum) % 1000003)) AS BIGINT)
  FROM ({km})
UNION ALL
SELECT 'rebalance_check',
  CAST(count(*) + sum((doc_id % 997 + 1)
       * (({h_lang} % 1000003 + copies * 131 + copy_idx * 17) % 1000003)) AS BIGINT)
  FROM ({rb})
UNION ALL
SELECT 'mad_outliers_check',
  CAST(count(*) + sum((doc_id % 997 + 1)
       * ((n_chars + CAST(med * 4 AS BIGINT) * 131 + CAST(mad * 4 AS BIGINT) * 17
           + CASE WHEN is_outlier THEN 1 ELSE 0 END) % 1000003)) AS BIGINT)
  FROM ({mo})
UNION ALL
SELECT 'ewma_check',
  CAST(count(*) + sum((user_id % 997 + 1)
       * ((n_events * 131 + ewma_e6) % 1000003)) AS BIGINT)
  FROM ({ew})
UNION ALL
SELECT 'nation_trade_check',
  CAST(count(*) + sum(({h_pair} % 997 + 1)
       * ((n_lineitems * 131 + revenue_e6) % 1000003)) AS BIGINT)
  FROM ({nt})
UNION ALL
SELECT 'bucketed_join_check',
  CAST(count(*) + sum(({h_seg} % 997 + 1)
       * ((n_orders * 131 + total_cents) % 1000003)) AS BIGINT)
  FROM ({bj})
UNION ALL
SELECT 'quantile_norm_check',
  CAST(count(*) + sum((doc_id % 997 + 1)
       * ((n_chars * 131 + pr_e6) % 1000003)) AS BIGINT)
  FROM ({qn})
UNION ALL
SELECT 'mixture_plan_check',
  CAST(count(*) + sum(({h_src} % 997 + 1)
       * ((available_tokens * 131 + target_tokens * 17 + epochs * 7
           + rate_e6) % 1000003)) AS BIGINT)
  FROM ({mx})
UNION ALL
SELECT 'dq_audit_check',
  CAST(count(*) + sum(({h_chk} % 997 + 1) * (violations % 1000003)) AS BIGINT)
  FROM ({dq})
UNION ALL
SELECT 'table_diff_check',
  CAST(count(*) + sum((doc_id % 997 + 1)
       * (({h_st} % 1000003 + changed_mask * 131 + n_changed_cols * 17)
          % 1000003)) AS BIGINT)
  FROM ({td})
UNION ALL
SELECT 'agg_ivm_check',
  CAST(count(*) + sum(({h_src} % 997 + 1)
       * ((n_rows * 131 + sum_value) % 1000003)) AS BIGINT)
  FROM ({iv})
UNION ALL
SELECT 'concurrency_check',
  CAST(count(*) + sum((epoch_us(day) % 100003 + 1)
       * ((max_concurrency * 131 + n_boundaries) % 1000003)) AS BIGINT)
  FROM ({cc})
UNION ALL
SELECT 'wau_bitmap_check',
  CAST(count(*) + sum((epoch_us(day) % 100003 + 1)
       * ((wau * 131 + dau) % 1000003)) AS BIGINT)
  FROM ({wb})
UNION ALL
SELECT 'coverage_check',
  CAST(count(*) + sum((custkey % 997 + 1)
       * ((island_id * 131 + n_intervals * 17
           + epoch_us(union_start) % 100003
           + epoch_us(union_end) % 100003) % 1000003)) AS BIGINT)
  FROM ({oc})
UNION ALL
SELECT 'division_check',
  CAST(count(*) + coalesce(sum((c_custkey % 997 + 1)
       * (({h_cn} % 1000003 + n_orders * 131) % 1000003)), 0) AS BIGINT)
  FROM ({dv})
UNION ALL
SELECT 'cluster_split_check',
  CAST(count(*) + sum((doc_id % 997 + 1)
       * ((cluster_id * 131 + {h_spl1}) % 1000003)) AS BIGINT)
  FROM ({cl})
UNION ALL
SELECT 'mixture_exec_check',
  CAST(count(*) + sum((doc_id % 997 + 1)
       * (({h_src} % 1000003 + copy_idx * 131) % 1000003)) AS BIGINT)
  FROM ({me})
UNION ALL
SELECT 'winsorize_check',
  CAST(count(*) + sum((doc_id % 997 + 1)
       * ((n_chars + CAST(lo * 8 AS BIGINT) * 131 + CAST(hi * 8 AS BIGINT) * 17
           + CAST(clipped * 8 AS BIGINT) * 7) % 1000003)) AS BIGINT)
  FROM ({wz})
UNION ALL
SELECT 'pricing_summary_check',
  CAST(count(*) + sum(({h_rfls} % 997 + 1)
       * ((CAST(floor(sum_qty * 100 + 0.5) AS BIGINT)
           + CAST(floor(sum_base_price * 100 + 0.5) AS BIGINT) * 3
           + CAST(floor(sum_disc_price * 100 + 0.5) AS BIGINT) * 17
           + CAST(floor(avg_disc * 1000000 + 0.5) AS BIGINT) * 7
           + count_order * 131) % 1000003)) AS BIGINT)
  FROM ({ps})
UNION ALL
SELECT 'top_revenue_nations_check',
  CAST(count(*) + sum(({h_nn} % 997 + 1)
       * ((CAST(floor(revenue * 100 + 0.5) AS BIGINT) + n_orders * 131)
          % 1000003)) AS BIGINT)
  FROM ({tn})
UNION ALL
SELECT 'order_rank_window_check',
  CAST(count(*) + sum((o_orderkey % 997 + 1)
       * ((o_custkey + rk * 131
           + CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 17)
          % 1000003)) AS BIGINT)
  FROM ({orw})
UNION ALL
SELECT 'shipping_priority_check',
  CAST(count(*) + sum((l_orderkey % 997 + 1)
       * ((epoch_us(o_orderdate) % 100003
           + CAST(floor(revenue * 100 + 0.5) AS BIGINT)) % 1000003)) AS BIGINT)
  FROM ({shp})
UNION ALL
SELECT 'small_qty_revenue_check',
  CAST(count(*)
       + coalesce(sum(CAST(floor(avg_yearly * 100 + 0.5) AS BIGINT)), -7)
       AS BIGINT)
  FROM ({sqr})
UNION ALL
SELECT 'customers_without_orders_check',
  CAST(count(*) + coalesce(sum((c_custkey % 997 + 1) * ({h_cn2} % 1000003)), 0)
       AS BIGINT)
  FROM ({cwo})
UNION ALL
SELECT 'parts_with_orders_check',
  CAST(count(*) + coalesce(sum((p_partkey % 997 + 1) * ({h_pn} % 1000003)), 0)
       AS BIGINT)
  FROM ({pwo})
UNION ALL
SELECT 'orders_rollup_check',
  CAST(count(*) + sum(({oracle_hash60(
        "coalesce(o_orderpriority, '~') || '|' || coalesce(o_orderstatus, '~')"
    )} % 1000003)
       + n_orders + CAST(floor(total * 100 + 0.5) AS BIGINT)) AS BIGINT)
  FROM ({orr})
UNION ALL
SELECT 'pivot_status_check',
  CAST(count(*) + sum(({h_op} % 997 + 1)
       * ((n_open * 131 + n_finished * 17 + n_partial * 7) % 1000003)) AS BIGINT)
  FROM ({pvs})
UNION ALL
SELECT 'semantic_dedup_check',
  CAST(count(*) + sum((vec_id % 997 + 1)
       * ((cluster_id * 131 + cluster_size * 17
           + CASE WHEN is_canonical THEN 1 ELSE 0 END) % 1000003)) AS BIGINT)
  FROM ({sdd2})
UNION ALL
SELECT 'contamination_check',
  CAST(count(*) + coalesce(sum((corpus_doc % 997 + 1)
       * ((n_shared_windows * 131 + n_probe_docs * 17 + first_probe_doc)
          % 1000003)), 0) AS BIGINT)
  FROM ({ctb})
UNION ALL
SELECT 'bom_rollup_check',
  CAST(count(*) + sum((root % 997 + 1)
       * ((n_parts * 131 + total_cost_cents * 17 + max_depth)
          % 1000003)) AS BIGINT)
  FROM ({bom})
UNION ALL
SELECT 'session_window_check',
  CAST(count(*) + sum((user_id % 997 + 1)
       * ((n_events * 131 + epoch_us(session_start) % 86400
           + epoch_us(session_end) % 86400) % 1000003)) AS BIGINT)
  FROM ({swn})
UNION ALL
SELECT 'interval_left_check',
  CAST(count(*) + sum((view_id % 997 + 1)
       * ((user_id + coalesce(purchase_id, -3) * 131
           + epoch_us(view_ts) % 86400
           + coalesce(epoch_us(purchase_ts), -5) % 86400
           + coalesce(CAST(floor(purchase_value * 100 + 0.5) AS BIGINT), -7))
          % 1000003)) AS BIGINT)
  FROM ({sijl})
UNION ALL
SELECT 'waiting_suppliers_check',
  CAST(count(*) + coalesce(sum(({h_sn} % 997 + 1) * (numwait % 1000003)), 0)
       AS BIGINT)
  FROM ({ws})
UNION ALL
SELECT 'cdc_time_travel_check',
  CAST(count(*) + sum((doc_id % 997 + 1) * ({h_tls} % 1000003)) AS BIGINT)
  FROM ({tt})
UNION ALL
SELECT 'schema_merge_check',
  CAST(count(*) + sum((doc_id % 997 + 1)
       * (({h_tl} % 1000003) + coalesce(n_chars, -9)) % 1000003) AS BIGINT)
  FROM ({sm})
UNION ALL
SELECT 'ivf_append_check',
  CAST(count(*) + sum((src % 997 + 1)
       * ((dst % 1000003 + rank * 131)) % 1000003) AS BIGINT)
  FROM ({iva})
UNION ALL
SELECT 'variant_agg_check',
  CAST(count(*) + sum(({h_et2} % 1000003) + n_events + k_sum + k_min + k_max)
       AS BIGINT)
  FROM ({va})
UNION ALL
SELECT 'dedup_ttl_check',
  CAST(count(*) + sum(content_key % 1000003) AS BIGINT)
  FROM ({sdt})
UNION ALL
SELECT 'chunks_udtf_check',
  CAST(count(*) + sum((doc_id % 997 + 1)
       * ((chunk_idx * 131 + chunk_start * 17 + chunk_len + {h_chunk})
          % 1000003)) AS BIGINT)
  FROM ({cu})
UNION ALL
SELECT 'events_sessions_check',
  CAST(count(*) + sum((user_id % 997 + 1)
       * ((session_id * 131 + n_events * 17 + duration_sec
           + CAST(floor(total_value * 100 + 0.5) AS BIGINT)) % 1000003))
       AS BIGINT)
  FROM ({esn})
UNION ALL
SELECT 'asof_check',
  CAST(count(*) + sum((event_id % 997 + 1)
       * ((user_id * 131
           + CAST(floor(purchase_value * 1000000 + 0.5) AS BIGINT)
           + coalesce(CAST(floor(view_value * 1000000 + 0.5) AS BIGINT), -7)
           + coalesce(gap_us, -13)) % 1000003)) AS BIGINT)
  FROM ({asf})
UNION ALL
SELECT 'range_check',
  CAST(count(*) + sum((event_id % 997 + 1)
       * ((user_id * 131 + n_prior_clicks + epoch_us(ts) % 86400)
          % 1000003)) AS BIGINT)
  FROM ({rng})
UNION ALL
SELECT 'interval_inner_check',
  CAST(count(*) + sum((view_id % 997 + 1)
       * ((user_id + purchase_id * 131
           + epoch_us(view_ts) % 86400
           + epoch_us(purchase_ts) % 86400
           + CAST(floor(purchase_value * 100 + 0.5) AS BIGINT))
          % 1000003)) AS BIGINT)
  FROM ({sij})
UNION ALL
SELECT 'ivf_topk_check',
  CAST(count(*) + sum((src % 997 + 1)
       * ((dst * 131 + rank * 17
           + CAST(floor(cos_sim * 1000000 + 0.5) AS BIGINT)) % 1000003))
       AS BIGINT)
  FROM ({ivt})
UNION ALL
SELECT 'dominant_suppliers_check',
  CAST(count(*) + coalesce(sum(({h_sn} % 997 + 1)
       * ((n_parts_dominated * 131 + dominated_qty) % 1000003)), 0) AS BIGINT)
  FROM ({dom})
UNION ALL
SELECT 'twap_check',
  CAST(count(*) + sum((user_id % 997 + 1)
       * ((n_holds * 131 + num_scaled_us + dur_us + coalesce(twap_scaled, -11))
          % 1000003)) AS BIGINT)
  FROM ({twp})
UNION ALL
SELECT 'prefix_jaccard_check',
  CAST(count(*) + coalesce(sum((doc_id % 997 + 1)
       * ((n_partners * 131 + best_jac_e6 + best_partner) % 1000003)), 0)
       AS BIGINT)
  FROM ({pjd})
UNION ALL
SELECT 'synth_source_check',
  CAST(count(*) + sum(({oracle_hash60('event_type')} % 997 + 1)
       * ((n * 131 + sum_user + sum_cents + sum_ts_s + min_id + max_id)
          % 1000003)) AS BIGINT)
  FROM ({sss})
UNION ALL
SELECT 'source_top_tokens_check',
  CAST(count(*) + sum(({oracle_hash60("source || '|' || tok")} % 997 + 1)
       * ((n * 131 + rank) % 1000003)) AS BIGINT)
  FROM ({stt})
UNION ALL
SELECT 'returned_revenue_check',
  CAST(count(*) + sum((c_custkey % 997 + 1)
       * ((lost_rev_e4 + n_items * 131 + acctbal_cents
           + {h_nc} % 100003) % 1000003)) AS BIGINT)
  FROM ({rrev})
UNION ALL
SELECT 'market_share_check',
  CAST(count(*) + sum((o_year % 997 + 1)
       * ((total_rev_e4 + nation_rev_e4 * 131) % 1000003)) AS BIGINT)
  FROM ({mks})
UNION ALL
SELECT 'nation_profit_check',
  CAST(count(*) + sum(({h_nn9} % 997 + 1)
       * ((profit_e4 + n_lineitems * 131 + o_year) % 1000003)) AS BIGINT)
  FROM ({npf})
UNION ALL
SELECT 'cheapest_supplier_check',
  CAST(count(*) + sum((p_partkey % 997 + 1)
       * ((total_cents + {h_snb} % 100003) % 1000003)) AS BIGINT)
  FROM ({chs})
UNION ALL
SELECT 'idle_rich_check',
  CAST(count(*) + coalesce(sum((cntrycode + 1)
       * ((n_customers * 131 + total_acctbal_cents) % 1000003)), 0) AS BIGINT)
  FROM ({irc})
UNION ALL
SELECT 'order_count_hist_check',
  CAST(count(*) + sum((c_count % 997 + 1) * (custdist % 1000003)) AS BIGINT)
  FROM ({och})
UNION ALL
SELECT 'priority_late_check',
  CAST(count(*) + sum(({h_op9} % 997 + 1) * (order_count % 1000003)) AS BIGINT)
  FROM ({plo})
UNION ALL
SELECT 'local_supplier_check',
  CAST(count(*) + sum(({h_nn10} % 997 + 1)
       * ((revenue_e4 + n_items * 131) % 1000003)) AS BIGINT)
  FROM ({lsv})
UNION ALL
SELECT 'forecast_revenue_check',
  CAST(count(*) + sum(forecast_rev_e4 % 1000003 + n_items * 131) AS BIGINT)
  FROM ({fcr})
UNION ALL
SELECT 'important_parts_check',
  CAST(count(*) + sum((p_partkey % 997 + 1)
       * ((value_cents + {h_pn10} % 100003) % 1000003)) AS BIGINT)
  FROM ({imp})
UNION ALL
SELECT 'late_modes_check',
  CAST(count(*) + sum(({h_rf10} % 997 + 1)
       * ((high_line_count * 131 + low_line_count) % 1000003)) AS BIGINT)
  FROM ({lsm})
UNION ALL
SELECT 'promo_revenue_check',
  CAST(count(*) + sum(promo_rev_e4 % 1000003 + total_rev_e4 % 1000003
       + CAST(floor(promo_share * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
  FROM ({prv})
UNION ALL
SELECT 'top_supplier_check',
  CAST(count(*) + sum((s_suppkey % 997 + 1)
       * ((total_rev_e4 + {h_sn10} % 100003) % 1000003)) AS BIGINT)
  FROM ({tps})
UNION ALL
SELECT 'large_volume_check',
  CAST(count(*) + sum((o_orderkey % 997 + 1)
       * ((totalprice_cents + qty_sum * 131 + c_custkey
           + {h_cn10} % 100003) % 1000003)) AS BIGINT)
  FROM ({lvc})
UNION ALL
SELECT 'disjunct_revenue_check',
  CAST(count(*) + sum(rev_e4 % 1000003 + n_items * 131) AS BIGINT)
  FROM ({djr})
UNION ALL
SELECT 'source_mix_check',
  CAST(count(*) + sum((doc_id % 997 + 1) * ({h_ls} % 1000003)) AS BIGINT)
  FROM ({smx})
UNION ALL
SELECT 'corpus_split_check',
  CAST(count(*) + sum((doc_id % 997 + 1) * ({h_spl9} % 1000003)) AS BIGINT)
  FROM ({csp})
UNION ALL
SELECT 'corpus_drift_check',
  CAST(count(*) + sum(({h_src9} % 997 + 1)
       * ((CAST(floor(psi * 1000000 + 0.5) AS BIGINT) + n_rows * 131)
          % 1000003)) AS BIGINT)
  FROM ({cdr})
UNION ALL
SELECT 'near_dups_auto_check',
  CAST(count(*) + coalesce(sum((src % 997 + 1)
       * ((dst * 131 + CAST(floor(cos_sim * 1000000 + 0.5) AS BIGINT))
          % 1000003)), 0) AS BIGINT)
  FROM ({nda})
UNION ALL
SELECT 'a14_modify_check',
  CAST(count(*) + sum(CAST(floor(p * 10 + 0.5) AS BIGINT) * 131
       + CAST(floor(ber * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
  FROM ({a14m})
UNION ALL
SELECT 'near_dups_scaled_check',
  CAST(count(*) + coalesce(sum((src % 997 + 1)
       * ((dst * 131 + CAST(floor(cos_sim * 1000000 + 0.5) AS BIGINT))
          % 1000003)), 0) AS BIGINT)
  FROM ({ndsc})
UNION ALL
SELECT 'ingest_candidates_check',
  CAST(count(*) + coalesce(sum((doc_id % 997 + 1)
       * ((corpus_doc_id * 131 + band) % 1000003)), 0) AS BIGINT)
  FROM ({sic})
UNION ALL
SELECT 'session_native_stream_check',
  CAST(count(*) + sum((user_id % 997 + 1) * ((n_events * 131
       + epoch_us(session_start) % 86400 + epoch_us(session_end) % 86400)
       % 1000003)) AS BIGINT)
  FROM ({snsr})
UNION ALL
SELECT 'ivm_bucketed_check',
  CAST(count(*) + sum(({h_src} % 997 + 1)
       * ((n_rows * 131 + sum_value) % 1000003)) AS BIGINT)
  FROM ({ivb})
UNION ALL
SELECT 'cdc_as_of_check',
  CAST(count(*) + sum((doc_id % 997 + 1) * ({h_tls} % 1000003)) AS BIGINT)
  FROM ({aso})
UNION ALL
SELECT 'nation_trade_preagg_check',
  CAST(count(*) + sum(({h_nat2} % 997 + 1)
       * ((n_lineitems * 131 + revenue_e6) % 1000003)) AS BIGINT)
  FROM ({ntp})
UNION ALL
SELECT 'window_topk_check',
  CAST(count(*) + sum((epoch_us(window_start) % 997 + 1)
       * ((n_events * 131 + rnk * 17
           + {oracle_hash60('event_type')} % 100003) % 1000003)) AS BIGINT)
  FROM ({swt})
UNION ALL
SELECT 'erasure_cascade_check',
  CAST(count(*) + sum(({oracle_hash60('tbl')} % 997 + 1)
       * ((rows_before + rows_deleted * 131 + rows_after * 17
           + survivor_check) % 1000003)) AS BIGINT)
  FROM ({ers})
UNION ALL
SELECT 'ivf_erase_check',
  CAST(count(*) + sum((src % 997 + 1)
       * ((dst % 1000003 + rank * 131)) % 1000003) AS BIGINT)
  FROM ({ive})
UNION ALL
SELECT 'manifest_jsonl_check',
  CAST(count(*) + count(*) * 31 + sum((event_id % 997 + 1)
       * ((user_id * 131 + {oracle_hash60('event_type')} % 100003
           + epoch_us(ts) % 1000003
           + CAST(floor(value * 100 + 0.5) AS BIGINT))
          % 1000003)) AS BIGINT)
  FROM events
UNION ALL
SELECT 'manifest_stream_check',
  CAST(count(*) + count(*) * 31 + sum((event_id % 997 + 1)
       * ((user_id * 131 + {oracle_hash60('event_type')} % 100003
           + ((CAST(1704067200 AS BIGINT) + 37 * event_id) * 1000000)
             % 1000003
           + cents) % 1000003)) AS BIGINT)
  FROM (
    SELECT i AS event_id,
           CAST('0x' || substr(md5('sev_u_' || CAST(i AS VARCHAR)), 1, 15)
                AS BIGINT) % 97 AS user_id,
           CASE (CAST('0x' || substr(md5('sev_t_' || CAST(i AS VARCHAR)), 1, 15)
                      AS BIGINT) % 4)
             WHEN 0 THEN 'view' WHEN 1 THEN 'click'
             WHEN 2 THEN 'purchase' ELSE 'error' END AS event_type,
           CAST('0x' || substr(md5('sev_v_' || CAST(i AS VARCHAR)), 1, 15)
                AS BIGINT) % 100000 AS cents
    FROM generate_series(0, 1999) t(i)
  )
"""


@register("cov_pipeline_pack", oracle=_pipeline_pack_oracle())
def cov_pipeline_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-graded checksums of the three pipeline queries past the
    grading window that have no in-window superset: the corpus profile
    rollup (row count + a sum over groups of the keyed group hash,
    exact counts, and milli-scaled avg/p50/p95 token percentiles), the
    top-df vocabulary (row count + Σ hash(tok)·df — order-insensitive,
    sensitive to both membership and df), and the BPE train→encode
    pipeline (total token count + a doc-id-weighted token-count sum,
    so per-doc mismatches cannot cancel), the duplicate-span profile
    (docs-hit count + a doc-id-weighted span/coverage sum), the
    span-removal rewrite (doc-id-weighted clean-text hash), the
    unigram-LM scores and DSIR weights (doc-id-weighted integer-bucket
    sums), the SQ/PQ ANN tiers (query-weighted (dst, rank) sums), the
    streaming exact-dedup replay (surviving-key count + hash), the
    k-core decomposition (member count + node-weighted core-degree
    sum against the unrolled-peel oracle with its fixpoint guard), the
    CUBE rollup (grouping-set row count + a per-group sum of
    sentinel-coalesced group hash, order count, and cent-scaled
    total), the stratified / weighted exact-n samples (row counts
    + doc-weighted member hashes against the keyed-hash-order
    oracles), and every round-6 past-window registration: bigram-LM
    and novelty doc-weighted sums, the grouping-sets group hash, the
    EXCEPT ALL / INTERSECT ALL bag checksums (count + Σqty + Σqty² —
    multiplicity-sensitive), the JSON extraction aggregate, the
    stateful-sessionization replay (session count + user-weighted
    boundary/count hash), the exact k-means refinement (cluster-
    weighted cardinality/id-sum hash over the full 2-pass Lloyd
    replay), the class-rebalance oversample (doc-weighted
    copies/copy_idx hash — replica-multiplicity sensitive), the
    median/MAD outlier flags (doc-weighted value/median/MAD/flag
    hash), the per-user EWMA fold (user-weighted count/e6 hash), the
    Q7-style nation-pair trade rollup (pair-hash-weighted
    count/revenue sum), the bucketed-storage join (segment-hash-
    weighted count/cents sum over the real bucketed round-trip), the
    rank normalization and mixture plan/execute trio, the dq-audit
    violation counts, the snapshot diff (status/bitmask hash), the
    IVM converged view, the sweep-line daily concurrency peaks, the
    bitmap distinct-actives tier, the interval-union coverage
    islands, the relational division, and the dedup-aware cluster
    split.

    Round-7 rows: one full-oracle checksum per TPC-H-ish breadth
    query (pricing summary, top-revenue nations, order rank window,
    shipping priority, small-qty revenue, customers-without-orders,
    parts semi-join, orders rollup, pivot status) so no registered
    query rests on judge-side re-runs alone; the two rotation
    demotions (semantic dedup clusters, bloom contamination); the BOM
    hierarchy rollup; the native merging session windows; the LEFT
    OUTER stream-stream interval join (null-padded rows included in
    the hash); the Q21 waiting-suppliers double-correlation; the CDC
    time-travel read (version-1 snapshot vs the first-batch merge
    replay); and the schema-evolution mergeSchema read (null-padded
    widen).
    Round-9 rows: manifest_jsonl_check — the write-then-read round-trip
    through the custom manifest-committed JSONL sink, checksummed
    against the parquet source (the sink's first driver-graded row);
    manifest_stream_check — a real Structured Streaming query through
    the sink's streaming tier, its per-batch manifests' accounting
    pinned to the row count (exactly-once) and its content replayed by
    DuckDB from generate_series + md5 arithmetic; the three rotation
    demotions (source_mix_check, corpus_split_check,
    corpus_drift_check) and the eight TPC-H-completion rows, each
    embedding that query's full oracle.

    Each oracle side embeds the corresponding full-value oracle
    verbatim as a subquery, so a pass here certifies the same
    computation the standalone query would."""
    from .functions.hashing import hash60

    prof = QUERIES["ext_corpus_profile"].fn(spark, sf_dir)
    vocab = QUERIES["ext_vocab_topk"].fn(spark, sf_dir)
    bpe = QUERIES["ext_bpe_tokens"].fn(spark, sf_dir)
    spans = QUERIES["ext_dup_spans"].fn(spark, sf_dir)
    nll = QUERIES["ext_unigram_nll"].fn(spark, sf_dir)

    def milli(c: str):
        return F.floor(F.col(c) * 1000 + F.lit(0.5)).cast("long")

    def scalar(metric: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(metric).alias("metric"), F.col("value").cast("long").alias("value")
        )

    h_sl = hash60(F.concat_ws("|", "source", "lang_guess")) % 1000003
    parts = [
        scalar("profile_rows", prof.agg(F.count(F.lit(1)).alias("value"))),
        scalar(
            "profile_check",
            prof.agg(
                F.sum(
                    h_sl
                    + F.col("n_docs")
                    + F.col("sum_tokens")
                    + milli("avg_tokens")
                    + milli("p50_tokens")
                    + milli("p95_tokens")
                ).alias("value")
            ),
        ),
        scalar("vocab_rows", vocab.agg(F.count(F.lit(1)).alias("value"))),
        scalar(
            "vocab_check",
            vocab.agg(
                F.sum((hash60(F.col("tok")) % 1000003) * F.col("df")).alias("value")
            ),
        ),
        scalar("bpe_tokens_total", bpe.agg(F.sum("n_tokens").alias("value"))),
        scalar(
            "bpe_tokens_check",
            bpe.agg(
                F.sum(
                    (F.col("doc_id") % 997 + 1) * (F.col("n_tokens") % 1000003)
                ).alias("value")
            ),
        ),
        scalar(
            "dup_spans_docs_hit",
            spans.filter(F.col("n_spans") > 0).agg(
                F.count(F.lit(1)).alias("value")
            ),
        ),
        scalar(
            "dup_spans_check",
            spans.agg(
                F.sum(
                    (F.col("doc_id") % 997 + 1)
                    * (F.col("n_spans") * 131 + F.col("dup_tokens"))
                ).alias("value")
            ),
        ),
        scalar(
            "dup_clean_check",
            QUERIES["ext_dup_clean"]
            .fn(spark, sf_dir)
            .agg(
                F.sum(
                    (F.col("doc_id") % 997 + 1)
                    * (hash60(F.col("clean_text")) % 1000003)
                ).alias("value")
            ),
        ),
        scalar("unigram_total_tokens", nll.agg(F.sum("n_tokens").alias("value"))),
        scalar(
            "unigram_check",
            nll.agg(
                F.sum(
                    (F.col("doc_id") % 997 + 1) * (F.col("nll_e4_sum") % 1000003)
                ).alias("value")
            ),
        ),
    ]
    def _ann_check(metric: str, qname: str) -> DataFrame:
        return scalar(
            metric,
            QUERIES[qname]
            .fn(spark, sf_dir)
            .agg(
                F.sum(
                    (F.col("src") % 997 + 1)
                    * (F.col("dst") % 1000003 + F.col("rank") * 131)
                ).alias("value")
            ),
        )

    parts.append(_ann_check("sq_topk_check", "ext_sq_topk"))
    parts.append(_ann_check("pq_topk_check", "ext_pq_topk"))
    parts.append(
        scalar(
            "char_entropy_check",
            QUERIES["ext_char_entropy"]
            .fn(spark, sf_dir)
            .agg(
                F.sum(
                    (F.col("doc_id") % 997 + 1) * (F.col("entropy_e4") % 1000003)
                ).alias("value")
            ),
        )
    )
    parts.append(_ann_check("hard_neg_check", "ext_hard_negatives"))
    parts.append(
        scalar(
            "bucketed_batch_check",
            QUERIES["ext_bucketed_batches"]
            .fn(spark, sf_dir)
            .agg(
                F.sum(
                    (F.col("doc_id") % 997 + 1)
                    * (
                        F.col("bucket") * 131
                        + F.col("batch_idx") * 17
                        + F.col("pad_tokens")
                    )
                ).alias("value")
            ),
        )
    )
    parts.append(
        scalar(
            "dsir_check",
            QUERIES["ext_importance_weights"]
            .fn(spark, sf_dir)
            .agg(
                F.sum(
                    (F.col("doc_id") % 997 + 1)
                    * (F.col("logratio_e4") % 1000003)
                ).alias("value")
            ),
        )
    )
    # (already materialized: the fn drained the stream into a memory
    # sink; this is just two aggregates over that in-memory table)
    sdd = QUERIES["stream_dedup_replay"].fn(spark, sf_dir)
    parts.append(scalar("stream_dedup_keys", sdd.agg(F.count(F.lit(1)).alias("value"))))
    parts.append(
        scalar(
            "stream_dedup_keyhash",
            sdd.agg(F.sum(F.col("content_key") % 1000003).alias("value")),
        )
    )
    kc = QUERIES["ext_graph_kcore"].fn(spark, sf_dir)
    parts.append(scalar("kcore_members", kc.agg(F.count(F.lit(1)).alias("value"))))
    parts.append(
        scalar(
            "kcore_check",
            kc.agg(
                F.sum(
                    (F.col("vec_id") % 997 + 1) * (F.col("core_degree") % 1000003)
                ).alias("value")
            ),
        )
    )
    cube = QUERIES["rel_orders_cube"].fn(spark, sf_dir)
    # grouping-set NULL markers hashed through an explicit sentinel so
    # the Spark concat and the DuckDB || expression agree on NULL rows
    h_grp = (
        hash60(
            F.concat_ws(
                "|",
                F.coalesce(F.col("o_orderpriority"), F.lit("~")),
                F.coalesce(F.col("o_orderstatus"), F.lit("~")),
            )
        )
        % 1000003
    )
    parts.append(scalar("cube_rows", cube.agg(F.count(F.lit(1)).alias("value"))))
    parts.append(
        scalar(
            "cube_check",
            cube.agg(
                F.sum(
                    h_grp
                    + F.col("n_orders")
                    + F.floor(F.col("total") * 100 + F.lit(0.5)).cast("long")
                ).alias("value")
            ),
        )
    )
    # keyed-hash sampling family: direct checksums for the two
    # round-6-demoted rows, so their grading doesn't rest on the
    # in-window w6/w2 family argument alone
    h_lang = hash60(F.col("lang")) % 1000003
    strat = QUERIES["ext_stratified_sample"].fn(spark, sf_dir)
    parts.append(scalar("strat_rows", strat.agg(F.count(F.lit(1)).alias("value"))))
    parts.append(
        scalar(
            "strat_check",
            strat.agg(F.sum((F.col("doc_id") % 997 + 1) * h_lang).alias("value")),
        )
    )
    wsamp = QUERIES["ext_weighted_sample"].fn(spark, sf_dir)
    parts.append(scalar("wsample_rows", wsamp.agg(F.count(F.lit(1)).alias("value"))))
    parts.append(
        scalar(
            "wsample_check",
            wsamp.agg(
                F.sum(
                    (F.col("doc_id") % 997 + 1)
                    * ((F.col("n_chars") + hash60(F.col("lang"))) % 1000003)
                ).alias("value")
            ),
        )
    )
    # round-6 past-window registrations: every one gets a driver-graded
    # checksum here so no registration family is local-check-only
    parts.append(
        scalar(
            "bigram_check",
            QUERIES["ext_bigram_nll"]
            .fn(spark, sf_dir)
            .agg(
                F.sum(
                    (F.col("doc_id") % 997 + 1)
                    * (
                        (F.col("nll_e4_sum") + F.col("n_bigrams") * 131)
                        % 1000003
                    )
                ).alias("value")
            ),
        )
    )
    parts.append(
        scalar(
            "novelty_check",
            QUERIES["ext_ngram_novelty"]
            .fn(spark, sf_dir)
            .agg(
                F.sum(
                    (F.col("doc_id") % 997 + 1)
                    * (F.col("n_shingles") * 131 + F.col("n_shared"))
                ).alias("value")
            ),
        )
    )
    gs = QUERIES["rel_orders_grouping_sets"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "gsets_check",
            gs.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        h_grp
                        + F.col("n_orders")
                        + F.floor(F.col("total") * 100 + F.lit(0.5)).cast("long")
                    )
                ).alias("value")
            ),
        )
    )

    def _bag_check(metric: str, qname: str) -> DataFrame:
        return scalar(
            metric,
            QUERIES[qname]
            .fn(spark, sf_dir)
            .agg(
                (
                    F.count(F.lit(1))
                    + 131 * F.sum("qty")
                    + 17 * F.sum(F.col("qty") * F.col("qty"))
                ).alias("value")
            ),
        )

    parts.append(_bag_check("exceptall_check", "rel_qty_except_all"))
    parts.append(_bag_check("intersectall_check", "rel_qty_intersect_all"))
    parts.append(
        scalar(
            "json_check",
            QUERIES["rel_events_json_agg"]
            .fn(spark, sf_dir)
            .agg(
                F.sum(
                    (hash60(F.col("event_type")) % 1000003)
                    + F.col("n_events")
                    + F.col("k_sum")
                    + F.col("k_min")
                    + F.col("k_max")
                ).alias("value")
            ),
        )
    )
    ssn = QUERIES["stream_session_replay"].fn(spark, sf_dir)
    parts.append(scalar("session_rows", ssn.agg(F.count(F.lit(1)).alias("value"))))
    parts.append(
        scalar(
            "session_check",
            ssn.agg(
                F.sum(
                    (F.col("user_id") % 997 + 1)
                    * (
                        (
                            F.col("n_events") * 131
                            + F.unix_micros("session_start") % 86400
                            + F.unix_micros("session_end") % 86400
                        )
                        % 1000003
                    )
                ).alias("value")
            ),
        )
    )
    parts.append(
        scalar(
            "unpivot_check",
            QUERIES["rel_lineitem_unpivot"]
            .fn(spark, sf_dir)
            .agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("l_orderkey") % 997 + 1)
                        * (
                            (
                                hash60(F.col("measure"))
                                + F.col("l_linenumber") * 131
                                + F.floor(
                                    F.col("value") * 1000000 + F.lit(0.5)
                                ).cast("long")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    rproj = QUERIES["ext_random_projection"].fn(spark, sf_dir)
    p_e6 = sum(
        F.floor(F.col(f"p{j}") * 1000000 + F.lit(0.5)).cast("long")
        for j in range(8)
    )
    parts.append(
        scalar(
            "rproj_check",
            rproj.agg(F.sum((F.col("vec_id") % 997 + 1) * p_e6).alias("value")),
        )
    )
    roll = QUERIES["rel_events_rolling"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "rolling_check",
            roll.agg(
                F.sum(
                    (F.col("event_id") % 997 + 1)
                    * (
                        (
                            F.col("rolling_sum_e6")
                            + F.col("n_window") * 131
                            + F.coalesce(F.col("prev_gap_us"), F.lit(-7))
                        )
                        % 1000003
                    )
                ).alias("value")
            ),
        )
    )
    ppx = QUERIES["ext_perplexity_filter"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "ppx_filter_check",
            ppx.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * (
                            (
                                hash60(F.col("source"))
                                + F.col("n_tokens") * 131
                                + F.col("nll_e4_sum")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    ret = QUERIES["rel_events_retention"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "retention_check",
            ret.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.unix_micros("cohort_week") % 100003 + 1)
                        * (
                            (F.col("week_offset") * 131 + F.col("n_users"))
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    fun = QUERIES["rel_events_funnel"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "funnel_check",
            fun.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("user_id") % 997 + 1)
                        * (
                            (
                                F.col("stage") * 131
                                + F.unix_micros("view_ts") % 86400
                                + F.coalesce(
                                    F.unix_micros("click_ts"), F.lit(-3)
                                )
                                % 86400
                                + F.coalesce(
                                    F.unix_micros("purchase_ts"), F.lit(-5)
                                )
                                % 86400
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    leak = QUERIES["ext_split_leakage"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "split_leak_check",
            leak.agg(
                (
                    F.count(F.lit(1))
                    + F.coalesce(
                        F.sum(
                            (F.col("doc1") % 997 + 1)
                            * (
                                (
                                    F.col("doc2")
                                    + hash60(
                                        F.concat_ws("|", "split1", "split2")
                                    )
                                    + F.floor(
                                        F.col("jaccard") * 1000000 + F.lit(0.5)
                                    ).cast("long")
                                )
                                % 1000003
                            )
                        ),
                        F.lit(0),
                    )
                ).alias("value")
            ),
        )
    )
    tfidf = QUERIES["ext_tfidf_keywords"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "tfidf_check",
            tfidf.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * (
                            (
                                hash60(F.col("tok"))
                                + F.col("tf") * 131
                                + F.col("df") * 17
                                + F.col("tfidf_e4")
                                + F.col("rank")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    pmi = QUERIES["ext_pmi_collocations"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "pmi_check",
            pmi.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.concat_ws("|", "w1", "w2")) % 997 + 1)
                        * (
                            (
                                F.col("c_pair") * 131
                                + F.col("c1") * 17
                                + F.col("c2") * 7
                                + F.col("pmi_e4")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    gap = QUERIES["rel_events_gapfill"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "gapfill_check",
            gap.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("user_id") % 997 + 1)
                        * (
                            (
                                F.unix_micros("day") % 100003
                                + F.col("is_active") * 131
                                + F.col("days_since_active") * 17
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    trans = QUERIES["rel_events_transitions"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "transitions_check",
            trans.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (
                            hash60(F.concat_ws("|", "from_type", "to_type"))
                            % 997
                            + 1
                        )
                        * (
                            (F.col("n_transitions") * 131 + F.col("from_total"))
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    scd2 = QUERIES["rel_scd2_history"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "scd2_check",
            scd2.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * (
                            (
                                F.col("version") * 131
                                + F.col("valid_from_seq") * 17
                                + F.coalesce(F.col("valid_to_seq"), F.lit(-11))
                                + F.col("is_current")
                                + hash60(
                                    F.concat_ws("|", "text", "lang", "source")
                                )
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    bfs = QUERIES["ext_graph_bfs_hops"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "bfs_check",
            bfs.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("vec_id") % 997 + 1) * (F.col("hops") * 131 + 7)
                    )
                ).alias("value")
            ),
        )
    )
    lp = QUERIES["ext_graph_link_pred"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "linkpred_check",
            lp.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("u") % 997 + 1)
                        * (
                            (
                                F.col("v") * 131
                                + F.col("common_neighbors") * 17
                                + F.col("score_e6")
                                + F.col("rank")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    chk = QUERIES["ext_doc_chunks"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "chunks_check",
            chk.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * (
                            (
                                F.col("chunk_idx") * 131
                                + F.col("chunk_start") * 17
                                + F.col("chunk_len")
                                + hash60(F.col("chunk_text"))
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    hh = QUERIES["ext_heavy_hitters"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "hh_check",
            hh.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("tok")) % 997 + 1)
                        * (
                            (
                                F.col("n_occurrences") * 131
                                + F.col("total_tokens")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    sv = QUERIES["ext_spelling_variants"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "spellvar_check",
            sv.agg(
                (
                    F.count(F.lit(1))
                    + F.coalesce(
                        F.sum(
                            (hash60(F.concat_ws("|", "t1", "t2")) % 997 + 1)
                            * ((F.col("df1") * 131 + F.col("df2")) % 1000003)
                        ),
                        F.lit(0),
                    )
                ).alias("value")
            ),
        )
    )
    rr = QUERIES["rel_events_rolling_range"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "rolling_range_check",
            rr.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("event_id") % 997 + 1)
                        * (
                            (F.col("n_1h") * 131 + F.col("sum_1h_e6"))
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    spk = QUERIES["rel_events_spikes"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "spikes_check",
            spk.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("event_type")) % 997 + 1)
                        * (
                            (
                                F.unix_micros("day") % 100003
                                + F.col("n_events") * 131
                                + F.col("n_trail") * 17
                                + F.col("sum_trail") * 7
                                + F.col("is_spike")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    aq = QUERIES["ext_approx_quantiles"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "approx_quantiles_check",
            aq.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("source")) % 997 + 1)
                        * (
                            (
                                F.floor(F.col("p50") * 1000 + F.lit(0.5)).cast(
                                    "long"
                                )
                                + F.floor(
                                    F.col("p95") * 1000 + F.lit(0.5)
                                ).cast("long")
                                * 131
                                + F.col("within_tol").cast("long")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    bl = QUERIES["rel_basket_lift"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "basket_lift_check",
            bl.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("x") % 997 + 1)
                        * (
                            (
                                F.col("y") * 131
                                + F.col("pair_baskets") * 17
                                + F.col("x_baskets") * 7
                                + F.col("y_baskets") * 3
                                + F.col("lift_e4")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    ks = QUERIES["rel_key_skew"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "key_skew_check",
            ks.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("key_name")) % 997 + 1)
                        * (
                            (
                                F.col("n_keys") * 131
                                + F.col("n_rows") * 17
                                + F.col("max_n") * 7
                                + F.col("top_share_e6") * 3
                                + F.col("gini_e6")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    wau = QUERIES["rel_events_wau"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "wau_check",
            wau.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.unix_micros("day") % 100003 + 1)
                        * ((F.col("wau") * 131 + F.col("dau")) % 1000003)
                    )
                ).alias("value")
            ),
        )
    )
    km = QUERIES["ext_kmeans_refine"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "kmeans_check",
            km.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("cluster") % 997 + 1)
                        * ((F.col("n_members") * 131 + F.col("id_sum")) % 1000003)
                    )
                ).alias("value")
            ),
        )
    )
    rb = QUERIES["ext_class_rebalance"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "rebalance_check",
            rb.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * (
                            (
                                hash60(F.col("lang")) % 1000003
                                + F.col("copies") * 131
                                + F.col("copy_idx") * 17
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    mo = QUERIES["ext_mad_outliers"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "mad_outliers_check",
            mo.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * (
                            (
                                F.col("n_chars")
                                + (F.col("med") * 4).cast("long") * 131
                                + (F.col("mad") * 4).cast("long") * 17
                                + F.col("is_outlier").cast("long")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    ew = QUERIES["rel_events_ewma"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "ewma_check",
            ew.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("user_id") % 997 + 1)
                        * ((F.col("n_events") * 131 + F.col("ewma_e6")) % 1000003)
                    )
                ).alias("value")
            ),
        )
    )
    nt = QUERIES["rel_nation_trade"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "nation_trade_check",
            nt.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (
                            hash60(F.concat_ws("|", "supp_nation", "cust_nation"))
                            % 997
                            + 1
                        )
                        * (
                            (F.col("n_lineitems") * 131 + F.col("revenue_e6"))
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    bj = QUERIES["rel_bucketed_join"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "bucketed_join_check",
            bj.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("c_mktsegment")) % 997 + 1)
                        * ((F.col("n_orders") * 131 + F.col("total_cents")) % 1000003)
                    )
                ).alias("value")
            ),
        )
    )
    qn = QUERIES["ext_quantile_norm"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "quantile_norm_check",
            qn.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * ((F.col("n_chars") * 131 + F.col("pr_e6")) % 1000003)
                    )
                ).alias("value")
            ),
        )
    )
    mx = QUERIES["ext_mixture_plan"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "mixture_plan_check",
            mx.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("source")) % 997 + 1)
                        * (
                            (
                                F.col("available_tokens") * 131
                                + F.col("target_tokens") * 17
                                + F.col("epochs") * 7
                                + F.col("rate_e6")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    dq = QUERIES["rel_dq_audit"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "dq_audit_check",
            dq.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.concat_ws("|", "check_name", "target")) % 997 + 1)
                        * (F.col("violations") % 1000003)
                    )
                ).alias("value")
            ),
        )
    )
    td = QUERIES["rel_table_diff"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "table_diff_check",
            td.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * (
                            (
                                hash60(F.col("status")) % 1000003
                                + F.col("changed_mask") * 131
                                + F.col("n_changed_cols") * 17
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    iv = QUERIES["stream_agg_ivm_replay"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "agg_ivm_check",
            iv.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("source")) % 997 + 1)
                        * ((F.col("n_rows") * 131 + F.col("sum_value")) % 1000003)
                    )
                ).alias("value")
            ),
        )
    )
    cc = QUERIES["rel_events_concurrency"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "concurrency_check",
            cc.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.unix_micros("day") % 100003 + 1)
                        * (
                            (F.col("max_concurrency") * 131 + F.col("n_boundaries"))
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    wb = QUERIES["rel_events_wau_bitmap"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "wau_bitmap_check",
            wb.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.unix_micros("day") % 100003 + 1)
                        * ((F.col("wau") * 131 + F.col("dau")) % 1000003)
                    )
                ).alias("value")
            ),
        )
    )
    wz = QUERIES["ext_winsorize"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "winsorize_check",
            wz.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * (
                            (
                                F.col("n_chars")
                                + (F.col("lo") * 8).cast("long") * 131
                                + (F.col("hi") * 8).cast("long") * 17
                                + (F.col("clipped") * 8).cast("long") * 7
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    me = QUERIES["ext_mixture_execute"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "mixture_exec_check",
            me.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * (
                            (
                                hash60(F.col("source")) % 1000003
                                + F.col("copy_idx") * 131
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    cl = QUERIES["ext_cluster_split"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "cluster_split_check",
            cl.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * (
                            (
                                F.col("cluster_id") * 131
                                + hash60(F.col("split"))
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    dv = QUERIES["rel_division"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "division_check",
            dv.agg(
                (
                    F.count(F.lit(1))
                    + F.coalesce(
                        F.sum(
                            (F.col("c_custkey") % 997 + 1)
                            * (
                                (
                                    hash60(F.col("c_name")) % 1000003
                                    + F.col("n_orders") * 131
                                )
                                % 1000003
                            )
                        ),
                        F.lit(0),
                    )
                ).alias("value")
            ),
        )
    )
    oc = QUERIES["rel_order_coverage"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "coverage_check",
            oc.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("custkey") % 997 + 1)
                        * (
                            (
                                F.col("island_id") * 131
                                + F.col("n_intervals") * 17
                                + F.unix_micros(
                                    F.col("union_start").cast("timestamp")
                                )
                                % 100003
                                + F.unix_micros(
                                    F.col("union_end").cast("timestamp")
                                )
                                % 100003
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    # TPC-H-ish relational breadth rows (plain-SQL equivalences past
    # the grading window): one checksum row each so the last queries
    # relying solely on judge-side re-runs become driver-graded too
    ps = QUERIES["rel_pricing_summary"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "pricing_summary_check",
            ps.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (
                            hash60(F.concat_ws("|", "l_returnflag", "l_linestatus"))
                            % 997
                            + 1
                        )
                        * (
                            (
                                F.floor(F.col("sum_qty") * 100 + F.lit(0.5)).cast("long")
                                + F.floor(
                                    F.col("sum_base_price") * 100 + F.lit(0.5)
                                ).cast("long")
                                * 3
                                + F.floor(
                                    F.col("sum_disc_price") * 100 + F.lit(0.5)
                                ).cast("long")
                                * 17
                                + F.floor(
                                    F.col("avg_disc") * 1000000 + F.lit(0.5)
                                ).cast("long")
                                * 7
                                + F.col("count_order") * 131
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    tn = QUERIES["rel_top_revenue_nations"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "top_revenue_nations_check",
            tn.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("n_name")) % 997 + 1)
                        * (
                            (
                                F.floor(F.col("revenue") * 100 + F.lit(0.5)).cast("long")
                                + F.col("n_orders") * 131
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    orw = QUERIES["rel_order_rank_window"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "order_rank_window_check",
            orw.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("o_orderkey") % 997 + 1)
                        * (
                            (
                                F.col("o_custkey")
                                + F.col("rk") * 131
                                + F.floor(
                                    F.col("o_totalprice") * 100 + F.lit(0.5)
                                ).cast("long")
                                * 17
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    shp = QUERIES["rel_shipping_priority"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "shipping_priority_check",
            shp.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("l_orderkey") % 997 + 1)
                        * (
                            (
                                F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                                % 100003
                                + F.floor(F.col("revenue") * 100 + F.lit(0.5)).cast(
                                    "long"
                                )
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    sqr = QUERIES["rel_small_qty_revenue"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "small_qty_revenue_check",
            sqr.agg(
                (
                    F.count(F.lit(1))
                    + F.coalesce(
                        F.sum(
                            F.floor(F.col("avg_yearly") * 100 + F.lit(0.5)).cast("long")
                        ),
                        F.lit(-7),
                    )
                ).alias("value")
            ),
        )
    )
    cwo = QUERIES["rel_customers_without_orders"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "customers_without_orders_check",
            cwo.agg(
                (
                    F.count(F.lit(1))
                    + F.coalesce(
                        F.sum(
                            (F.col("c_custkey") % 997 + 1)
                            * (hash60(F.col("c_name")) % 1000003)
                        ),
                        F.lit(0),
                    )
                ).alias("value")
            ),
        )
    )
    pwo = QUERIES["rel_parts_with_orders_semi"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "parts_with_orders_check",
            pwo.agg(
                (
                    F.count(F.lit(1))
                    + F.coalesce(
                        F.sum(
                            (F.col("p_partkey") % 997 + 1)
                            * (hash60(F.col("p_name")) % 1000003)
                        ),
                        F.lit(0),
                    )
                ).alias("value")
            ),
        )
    )
    orr = QUERIES["rel_orders_rollup"].fn(spark, sf_dir)
    h_grp_r = (
        hash60(
            F.concat_ws(
                "|",
                F.coalesce(F.col("o_orderpriority"), F.lit("~")),
                F.coalesce(F.col("o_orderstatus"), F.lit("~")),
            )
        )
        % 1000003
    )
    parts.append(
        scalar(
            "orders_rollup_check",
            orr.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        h_grp_r
                        + F.col("n_orders")
                        + F.floor(F.col("total") * 100 + F.lit(0.5)).cast("long")
                    )
                ).alias("value")
            ),
        )
    )
    pvs = QUERIES["rel_pivot_status"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "pivot_status_check",
            pvs.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("o_orderpriority")) % 997 + 1)
                        * (
                            (
                                F.col("n_open") * 131
                                + F.col("n_finished") * 17
                                + F.col("n_partial") * 7
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    # round-7 rotation ledger: the two rows demoted to make room for
    # the session/IVM streaming gates keep a full-oracle driver-graded
    # checksum here (not just the Spark-side bloom parity gate)
    sdd2 = QUERIES["ext_semantic_dedup"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "semantic_dedup_check",
            sdd2.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("vec_id") % 997 + 1)
                        * (
                            (
                                F.col("cluster_id") * 131
                                + F.col("cluster_size") * 17
                                + F.col("is_canonical").cast("long")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    ctb = QUERIES["ext_contamination_bloom"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "contamination_check",
            ctb.agg(
                (
                    F.count(F.lit(1))
                    + F.coalesce(
                        F.sum(
                            (F.col("corpus_doc") % 997 + 1)
                            * (
                                (
                                    F.col("n_shared_windows") * 131
                                    + F.col("n_probe_docs") * 17
                                    + F.col("first_probe_doc")
                                )
                                % 1000003
                            )
                        ),
                        F.lit(0),
                    )
                ).alias("value")
            ),
        )
    )
    cu = QUERIES["ext_doc_chunks_udtf"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "chunks_udtf_check",
            cu.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * (
                            (
                                F.col("chunk_idx") * 131
                                + F.col("chunk_start") * 17
                                + F.col("chunk_len")
                                + hash60(F.col("chunk_text"))
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    va = QUERIES["rel_events_variant_agg"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "variant_agg_check",
            va.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("event_type")) % 1000003)
                        + F.col("n_events")
                        + F.col("k_sum")
                        + F.col("k_min")
                        + F.col("k_max")
                    )
                ).alias("value")
            ),
        )
    )
    sdt = QUERIES["stream_dedup_ttl_replay"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "dedup_ttl_check",
            sdt.agg(
                (
                    F.count(F.lit(1)) + F.sum(F.col("content_key") % 1000003)
                ).alias("value")
            ),
        )
    )
    iva = QUERIES["ext_ivf_append_topk"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "ivf_append_check",
            iva.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("src") % 997 + 1)
                        * (F.col("dst") % 1000003 + F.col("rank") * 131)
                        % 1000003
                    )
                ).alias("value")
            ),
        )
    )
    tt = QUERIES["rel_cdc_time_travel"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "cdc_time_travel_check",
            tt.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * (
                            hash60(
                                F.concat_ws(
                                    "|",
                                    F.coalesce(F.col("text"), F.lit("~")),
                                    F.coalesce(F.col("lang"), F.lit("~")),
                                    F.coalesce(F.col("source"), F.lit("~")),
                                )
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    sm = QUERIES["ext_schema_merge_read"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "schema_merge_check",
            sm.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * (
                            (
                                hash60(
                                    F.concat_ws(
                                        "|",
                                        F.coalesce(F.col("text"), F.lit("~")),
                                        F.coalesce(F.col("lang"), F.lit("~")),
                                    )
                                )
                                % 1000003
                            )
                            + F.coalesce(F.col("n_chars"), F.lit(-9))
                        )
                        % 1000003
                    )
                ).alias("value")
            ),
        )
    )
    ws = QUERIES["rel_waiting_suppliers"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "waiting_suppliers_check",
            ws.agg(
                (
                    F.count(F.lit(1))
                    + F.coalesce(
                        F.sum(
                            (hash60(F.col("s_name")) % 997 + 1)
                            * (F.col("numwait") % 1000003)
                        ),
                        F.lit(0),
                    )
                ).alias("value")
            ),
        )
    )
    sijl = QUERIES["stream_interval_join_left_replay"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "interval_left_check",
            sijl.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("view_id") % 997 + 1)
                        * (
                            (
                                F.col("user_id")
                                + F.coalesce(F.col("purchase_id"), F.lit(-3)) * 131
                                + F.unix_micros(
                                    F.col("view_ts").cast("timestamp")
                                )
                                % 86400
                                + F.coalesce(
                                    F.unix_micros(
                                        F.col("purchase_ts").cast("timestamp")
                                    ),
                                    F.lit(-5),
                                )
                                % 86400
                                + F.coalesce(
                                    F.floor(
                                        F.col("purchase_value") * 100 + F.lit(0.5)
                                    ).cast("long"),
                                    F.lit(-7),
                                )
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    swn = QUERIES["rel_events_session_window"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "session_window_check",
            swn.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("user_id") % 997 + 1)
                        * (
                            (
                                F.col("n_events") * 131
                                + F.unix_micros(
                                    F.col("session_start").cast("timestamp")
                                )
                                % 86400
                                + F.unix_micros(
                                    F.col("session_end").cast("timestamp")
                                )
                                % 86400
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    bom = QUERIES["rel_bom_rollup"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "bom_rollup_check",
            bom.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("root") % 997 + 1)
                        * (
                            (
                                F.col("n_parts") * 131
                                + F.col("total_cost_cents") * 17
                                + F.col("max_depth")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    # round-8 demotions (VERDICT r07 #1): the five rows rotated out of
    # the graded window this round keep a full-oracle checksum here.
    esn = QUERIES["ext_events_sessions"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "events_sessions_check",
            esn.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("user_id") % 997 + 1)
                        * (
                            (
                                F.col("session_id") * 131
                                + F.col("n_events") * 17
                                + F.col("duration_sec")
                                + F.floor(
                                    F.col("total_value") * 100 + F.lit(0.5)
                                ).cast("long")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    asf = QUERIES["rel_asof_purchase_view"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "asof_check",
            asf.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("event_id") % 997 + 1)
                        * (
                            (
                                F.col("user_id") * 131
                                + F.floor(
                                    F.col("purchase_value") * 1000000 + F.lit(0.5)
                                ).cast("long")
                                + F.coalesce(
                                    F.floor(
                                        F.col("view_value") * 1000000 + F.lit(0.5)
                                    ).cast("long"),
                                    F.lit(-7),
                                )
                                + F.coalesce(F.col("gap_us"), F.lit(-13))
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    rng = QUERIES["rel_range_activity"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "range_check",
            rng.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("event_id") % 997 + 1)
                        * (
                            (
                                F.col("user_id") * 131
                                + F.col("n_prior_clicks")
                                + F.unix_micros(F.col("ts").cast("timestamp"))
                                % 86400
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    sij = QUERIES["stream_interval_join_replay"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "interval_inner_check",
            sij.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("view_id") % 997 + 1)
                        * (
                            (
                                F.col("user_id")
                                + F.col("purchase_id") * 131
                                + F.unix_micros(F.col("view_ts").cast("timestamp"))
                                % 86400
                                + F.unix_micros(
                                    F.col("purchase_ts").cast("timestamp")
                                )
                                % 86400
                                + F.floor(
                                    F.col("purchase_value") * 100 + F.lit(0.5)
                                ).cast("long")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    ivt = QUERIES["ext_ivf_topk"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "ivf_topk_check",
            ivt.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("src") % 997 + 1)
                        * (
                            (
                                F.col("dst") * 131
                                + F.col("rank") * 17
                                + F.floor(
                                    F.col("cos_sim") * 1000000 + F.lit(0.5)
                                ).cast("long")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    dom = QUERIES["rel_dominant_suppliers"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "dominant_suppliers_check",
            dom.agg(
                (
                    F.count(F.lit(1))
                    + F.coalesce(
                        F.sum(
                            (hash60(F.col("s_name")) % 997 + 1)
                            * (
                                (
                                    F.col("n_parts_dominated") * 131
                                    + F.col("dominated_qty")
                                )
                                % 1000003
                            )
                        ),
                        F.lit(0),
                    )
                ).alias("value")
            ),
        )
    )
    stt = QUERIES["ext_source_top_tokens"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "source_top_tokens_check",
            stt.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (
                            hash60(F.concat_ws("|", F.col("source"), F.col("tok")))
                            % 997
                            + 1
                        )
                        * ((F.col("n") * 131 + F.col("rank")) % 1000003)
                    )
                ).alias("value")
            ),
        )
    )
    sss = QUERIES["ext_synth_source_scan"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "synth_source_check",
            sss.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("event_type")) % 997 + 1)
                        * (
                            (
                                F.col("n") * 131
                                + F.col("sum_user")
                                + F.col("sum_cents")
                                + F.col("sum_ts_s")
                                + F.col("min_id")
                                + F.col("max_id")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    pjd = QUERIES["ext_prefix_jaccard_dups"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "prefix_jaccard_check",
            pjd.agg(
                (
                    F.count(F.lit(1))
                    + F.coalesce(
                        F.sum(
                            (F.col("doc_id") % 997 + 1)
                            * (
                                (
                                    F.col("n_partners") * 131
                                    + F.col("best_jac_e6")
                                    + F.col("best_partner")
                                )
                                % 1000003
                            )
                        ),
                        F.lit(0),
                    )
                ).alias("value")
            ),
        )
    )
    twp = QUERIES["rel_events_twap"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "twap_check",
            twp.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("user_id") % 997 + 1)
                        * (
                            (
                                F.col("n_holds") * 131
                                + F.col("num_scaled_us")
                                + F.col("dur_us")
                                + F.coalesce(F.col("twap_scaled"), F.lit(-11))
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    rrev = QUERIES["rel_returned_revenue"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "returned_revenue_check",
            rrev.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("c_custkey") % 997 + 1)
                        * (
                            (
                                F.col("lost_rev_e4")
                                + F.col("n_items") * 131
                                + F.col("acctbal_cents")
                                + hash60(F.concat_ws("|", "n_name", "c_name"))
                                % 100003
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    mks = QUERIES["rel_market_share"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "market_share_check",
            mks.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("o_year") % 997 + 1)
                        * (
                            (F.col("total_rev_e4") + F.col("nation_rev_e4") * 131)
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    npf = QUERIES["rel_nation_profit"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "nation_profit_check",
            npf.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("n_name")) % 997 + 1)
                        * (
                            (
                                F.col("profit_e4")
                                + F.col("n_lineitems") * 131
                                + F.col("o_year")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    chs = QUERIES["rel_cheapest_supplier"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "cheapest_supplier_check",
            chs.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("p_partkey") % 997 + 1)
                        * (
                            (
                                F.col("total_cents")
                                + hash60(
                                    F.concat_ws("|", "s_name", "n_name", "p_brand")
                                )
                                % 100003
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    irc = QUERIES["rel_idle_rich_customers"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "idle_rich_check",
            irc.agg(
                (
                    F.count(F.lit(1))
                    + F.coalesce(
                        F.sum(
                            (F.col("cntrycode") + 1)
                            * (
                                (
                                    F.col("n_customers") * 131
                                    + F.col("total_acctbal_cents")
                                )
                                % 1000003
                            )
                        ),
                        F.lit(0),
                    )
                ).alias("value")
            ),
        )
    )
    och = QUERIES["rel_order_count_histogram"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "order_count_hist_check",
            och.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("c_count") % 997 + 1) * (F.col("custdist") % 1000003)
                    )
                ).alias("value")
            ),
        )
    )
    plo = QUERIES["rel_priority_late_orders"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "priority_late_check",
            plo.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("o_orderpriority")) % 997 + 1)
                        * (F.col("order_count") % 1000003)
                    )
                ).alias("value")
            ),
        )
    )
    # Late-round-9 TPC-H completion rows (rotation pool for round 10).
    lsv = QUERIES["rel_local_supplier_volume"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "local_supplier_check",
            lsv.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("n_name")) % 997 + 1)
                        * ((F.col("revenue_e4") + F.col("n_items") * 131) % 1000003)
                    )
                ).alias("value")
            ),
        )
    )
    fcr = QUERIES["rel_forecast_revenue"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "forecast_revenue_check",
            fcr.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        F.col("forecast_rev_e4") % 1000003 + F.col("n_items") * 131
                    )
                ).alias("value")
            ),
        )
    )
    imp = QUERIES["rel_important_parts"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "important_parts_check",
            imp.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("p_partkey") % 997 + 1)
                        * (
                            (F.col("value_cents") + hash60(F.col("p_name")) % 100003)
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    lsm = QUERIES["rel_late_shipment_modes"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "late_modes_check",
            lsm.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("l_returnflag")) % 997 + 1)
                        * (
                            (
                                F.col("high_line_count") * 131
                                + F.col("low_line_count")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    prv = QUERIES["rel_promo_revenue"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "promo_revenue_check",
            prv.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        F.col("promo_rev_e4") % 1000003
                        + F.col("total_rev_e4") % 1000003
                        + F.floor(F.col("promo_share") * 1000000 + F.lit(0.5)).cast(
                            "long"
                        )
                    )
                ).alias("value")
            ),
        )
    )
    tps = QUERIES["rel_top_supplier"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "top_supplier_check",
            tps.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("s_suppkey") % 997 + 1)
                        * (
                            (F.col("total_rev_e4") + hash60(F.col("s_name")) % 100003)
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    lvc = QUERIES["rel_large_volume_customers"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "large_volume_check",
            lvc.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("o_orderkey") % 997 + 1)
                        * (
                            (
                                F.col("totalprice_cents")
                                + F.col("qty_sum") * 131
                                + F.col("c_custkey")
                                + hash60(F.col("c_name")) % 100003
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    djr = QUERIES["rel_disjunct_revenue"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "disjunct_revenue_check",
            djr.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(F.col("rev_e4") % 1000003 + F.col("n_items") * 131)
                ).alias("value")
            ),
        )
    )
    # Round-9 demotion rows: full-oracle checksums for the three
    # curation queries rotated out of the graded window this round.
    smx = QUERIES["ext_source_mix"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "source_mix_check",
            smx.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * (
                            hash60(
                                F.concat_ws(
                                    "|",
                                    F.coalesce(F.col("lang"), F.lit("~")),
                                    F.coalesce(F.col("source"), F.lit("~")),
                                )
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    csp = QUERIES["ext_corpus_split"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "corpus_split_check",
            csp.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * (hash60(F.col("split")) % 1000003)
                    )
                ).alias("value")
            ),
        )
    )
    cdr = QUERIES["ext_corpus_drift"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "corpus_drift_check",
            cdr.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("source")) % 997 + 1)
                        * (
                            (
                                F.floor(F.col("psi") * 1000000 + F.lit(0.5)).cast(
                                    "long"
                                )
                                + F.col("n_rows") * 131
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    # round-10 registrations (rotation pool for round 11)
    nda = QUERIES["ext_emb_near_dups_auto"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "near_dups_auto_check",
            nda.agg(
                (
                    F.count(F.lit(1))
                    + F.coalesce(
                        F.sum(
                            (F.col("src") % 997 + 1)
                            * (
                                (
                                    F.col("dst") * 131
                                    + F.floor(
                                        F.col("cos_sim") * 1000000 + F.lit(0.5)
                                    ).cast("long")
                                )
                                % 1000003
                            )
                        ),
                        F.lit(0),
                    )
                ).alias("value")
            ),
        )
    )
    a14m = QUERIES["a14_modify_mini"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "a14_modify_check",
            a14m.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        F.floor(F.col("p") * 10 + F.lit(0.5)).cast("long") * 131
                        + F.floor(F.col("ber") * 1000000 + F.lit(0.5)).cast("long")
                    )
                ).alias("value")
            ),
        )
    )
    # round-11 demotions (see the oracle binding above): each demoted
    # row's FULL oracle stays driver-graded here every round
    ndsc = QUERIES["ext_emb_near_dups_scaled"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "near_dups_scaled_check",
            ndsc.agg(
                (
                    F.count(F.lit(1))
                    + F.coalesce(
                        F.sum(
                            (F.col("src") % 997 + 1)
                            * (
                                (
                                    F.col("dst") * 131
                                    + F.floor(
                                        F.col("cos_sim") * 1000000 + F.lit(0.5)
                                    ).cast("long")
                                )
                                % 1000003
                            )
                        ),
                        F.lit(0),
                    )
                ).alias("value")
            ),
        )
    )
    sic = QUERIES["stream_ingest_candidates_replay"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "ingest_candidates_check",
            sic.agg(
                (
                    F.count(F.lit(1))
                    + F.coalesce(
                        F.sum(
                            (F.col("doc_id") % 997 + 1)
                            * (
                                (F.col("corpus_doc_id") * 131 + F.col("band"))
                                % 1000003
                            )
                        ),
                        F.lit(0),
                    )
                ).alias("value")
            ),
        )
    )
    # round-11 registrations (rotation pool for round 12)
    snsr = QUERIES["stream_session_native_replay"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "session_native_stream_check",
            snsr.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("user_id") % 997 + 1)
                        * (
                            (
                                F.col("n_events") * 131
                                + F.unix_micros("session_start") % 86400
                                + F.unix_micros("session_end") % 86400
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    ivb = QUERIES["stream_ivm_bucketed_replay"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "ivm_bucketed_check",
            ivb.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("source")) % 997 + 1)
                        * ((F.col("n_rows") * 131 + F.col("sum_value")) % 1000003)
                    )
                ).alias("value")
            ),
        )
    )
    aso = QUERIES["rel_cdc_read_as_of"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "cdc_as_of_check",
            aso.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("doc_id") % 997 + 1)
                        * (
                            hash60(
                                F.concat_ws(
                                    "|",
                                    F.coalesce(F.col("text"), F.lit("~")),
                                    F.coalesce(F.col("lang"), F.lit("~")),
                                    F.coalesce(F.col("source"), F.lit("~")),
                                )
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    # round-12 registrations (rotation pool for round 13)
    ntp = QUERIES["rel_nation_trade_preagg"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "nation_trade_preagg_check",
            ntp.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (
                            hash60(
                                F.concat_ws(
                                    "|",
                                    F.col("supp_nation"),
                                    F.col("cust_nation"),
                                )
                            )
                            % 997
                            + 1
                        )
                        * (
                            (F.col("n_lineitems") * 131 + F.col("revenue_e6"))
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    swt = QUERIES["stream_window_topk_replay"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "window_topk_check",
            swt.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.unix_micros("window_start") % 997 + 1)
                        * (
                            (
                                F.col("n_events") * 131
                                + F.col("rnk") * 17
                                + hash60(F.col("event_type")) % 100003
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    ers = QUERIES["rel_erasure_cascade"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "erasure_cascade_check",
            ers.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (hash60(F.col("tbl")) % 997 + 1)
                        * (
                            (
                                F.col("rows_before")
                                + F.col("rows_deleted") * 131
                                + F.col("rows_after") * 17
                                + F.col("survivor_check")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    # round-13 registrations (rotation pool for round 14)
    ive = QUERIES["ext_ivf_erase_topk"].fn(spark, sf_dir)
    parts.append(
        scalar(
            "ivf_erase_check",
            ive.agg(
                (
                    F.count(F.lit(1))
                    + F.sum(
                        (F.col("src") % 997 + 1)
                        * (F.col("dst") % 1000003 + F.col("rank") * 131)
                        % 1000003
                    )
                ).alias("value")
            ),
        )
    )
    # manifest_jsonl_check — the WRITE half of the Python Data Source
    # connector (VERDICT r08 #2): a deterministic integer projection of
    # `events` goes out through the real manifest-committed JSONL sink
    # (sources/synthetic.py: staged per-task files + atomic manifest
    # publish) and comes back through read_manifest_jsonl (manifest-
    # listed files ONLY). The checksum is computed on the READ-BACK
    # DataFrame plus the manifest's total_rows (×31), while the oracle
    # computes the identical formula straight from the parquet source —
    # a green row certifies the sink round-trip (task staging, commit
    # message plumbing, manifest accounting, JSON type round-trip) is
    # lossless. All hashed fields are integers/strings, so the JSONL
    # round-trip has no float-rendering hazard.
    import shutil as _shutil

    from .sources.synthetic import read_manifest_jsonl, register_manifest_sink

    register_manifest_sink(spark)
    sink_dir = _scratch_dir("manifest_sink", sf_dir)
    _shutil.rmtree(sink_dir, ignore_errors=True)
    load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    ).write.format("manifest_jsonl").option("path", sink_dir).mode("append").save()
    rb, total_rows = read_manifest_jsonl(spark, sink_dir)
    parts.append(
        scalar(
            "manifest_jsonl_check",
            rb.agg(
                (
                    F.count(F.lit(1))
                    + F.lit(int(total_rows)) * 31
                    + F.sum(
                        (F.col("event_id") % 997 + 1)
                        * (
                            (
                                F.col("user_id") * 131
                                + hash60(F.col("event_type")) % 100003
                                + F.col("ts_us") % 1000003
                                + F.col("cents")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    # manifest_stream_check — the STREAMING half of the same sink: a
    # real Structured Streaming query (synthevents readStream, 3
    # micro-batches) writes through ManifestJsonlStreamWriter's
    # per-batch atomic manifests; the read-back checksum (plus the
    # manifests' total_rows ×31 — count(*)×31 oracle-side, so the
    # accounting must equal the row count, i.e. exactly-once) is
    # replayed by DuckDB from generate_series + the same md5
    # arithmetic. A green row certifies offset planning, micro-batch
    # staging, per-batch manifest publish, and the JSONL round-trip.
    from .sources.synthetic import register_synthetic_source

    register_synthetic_source(spark)
    stream_dir = _scratch_dir("manifest_stream", sf_dir)
    _shutil.rmtree(stream_dir, ignore_errors=True)
    _shutil.rmtree(stream_dir + "_ckpt", ignore_errors=True)
    sev = (
        spark.readStream.format("synthevents")
        .option("rows", 2000)
        .option("rows_per_batch", 700)
        .option("users", 97)
        .load()
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
    )
    sq = (
        sev.writeStream.format("manifest_jsonl")
        .option("path", stream_dir)
        .option("checkpointLocation", stream_dir + "_ckpt")
        .outputMode("append")
        .start()
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()
    srb, s_total = read_manifest_jsonl(spark, stream_dir)
    parts.append(
        scalar(
            "manifest_stream_check",
            srb.agg(
                (
                    F.count(F.lit(1))
                    + F.lit(int(s_total)) * 31
                    + F.sum(
                        (F.col("event_id") % 997 + 1)
                        * (
                            (
                                F.col("user_id") * 131
                                + hash60(F.col("event_type")) % 100003
                                + F.col("ts_us") % 1000003
                                + F.col("cents")
                            )
                            % 1000003
                        )
                    )
                ).alias("value")
            ),
        )
    )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out
