"""Extension-operator query registry (north-star ops: dedup,
similarity, text analysis, multimodal plumbing, window aggregation).

Same contract as ``registry.py`` (which imports this module at the
end); every oracle reproduces the Spark computation exactly — keyed
60-bit md5 hashes, identical tokenization/shingling, fold-order
distance arithmetic, timezone-proof epoch bucketing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import dedup, multimodal, packing, similarity, text
from .registry import D, K, _COS_RANK, _components_oracle, _knn_cte, register
from .sources.tables import load_table

# ---------------------------------------------------------------- fragments

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS_CTE = f"t AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents)"


def _hash60_sql(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


# 3-gram shingles, distinct per doc (parity with dedup.word_shingles)
_SHINGLES_CTE = (
    _TOKS_CTE
    + """,
s AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM t, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i)
  WHERE length(array_to_string(toks[i:i+2], ' ')) > 0
)"""
)

_N_MINHASH = 8
_MINHASH_COLS = ", ".join(
    f"min(({a} * hb + {b}) % {dedup.MINHASH_P}) AS h{i}"
    for i, (a, b) in enumerate(dedup.minhash_coeffs(_N_MINHASH))
)
_MINHASH_CTE = _SHINGLES_CTE + f""",
sb AS (SELECT doc_id, {_hash60_sql('shingle')} % {dedup.MINHASH_P} AS hb FROM s),
m AS (SELECT doc_id, {_MINHASH_COLS} FROM sb GROUP BY doc_id)"""


# ---------------------------------------------------------------- dedup


@register(
    "ext_exact_dedup",
    oracle=f"""
SELECT {_hash60_sql(_NORM)} AS content_key,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY 1
""",
)
def ext_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash (hash groupBy — one
    shuffle on a 60-bit key).

    Driver-graded inside ``ext_corpus_clean``, whose oracle replays
    the same content-key dedup as its first stage; kept standalone
    for direct use and local checking."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs)


@register(
    "ext_minhash_signatures",
    oracle="WITH " + _MINHASH_CTE + f"""
SELECT doc_id, {', '.join(f'h{i}' for i in range(_N_MINHASH))} FROM m
""",
)
def ext_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 keyed min-hashes over distinct word
    3-grams). Driver-graded inside ``ext_minhash_near_dups``, whose
    pipeline and oracle recompute these signatures verbatim as stage
    one; kept standalone for direct use and local checking."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=_N_MINHASH)
    return sig.select(
        "doc_id",
        *[F.element_at("sig", i + 1).alias(f"h{i}") for i in range(_N_MINHASH)],
    )


# banded-LSH candidate pairs + exact-Jaccard verification, shared by
# the pair query and the clustering query (whose oracle replays the
# whole pair pipeline before the recursive closure)
_MINHASH_PAIRS_CTES = f""",
bands AS (
  SELECT doc_id, b.band,
         CASE b.band
           WHEN 0 THEN {_hash60_sql("concat(CAST(h0 AS VARCHAR), '_', CAST(h1 AS VARCHAR))")}
           WHEN 1 THEN {_hash60_sql("concat(CAST(h2 AS VARCHAR), '_', CAST(h3 AS VARCHAR))")}
           WHEN 2 THEN {_hash60_sql("concat(CAST(h4 AS VARCHAR), '_', CAST(h5 AS VARCHAR))")}
           ELSE {_hash60_sql("concat(CAST(h6 AS VARCHAR), '_', CAST(h7 AS VARCHAR))")}
         END AS band_hash
  FROM m, LATERAL (SELECT unnest(range(0, 4)) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
inter AS (
  SELECT c.doc1, c.doc2, count(*) AS n_inter
  FROM cand c JOIN s s1 ON c.doc1 = s1.doc_id
              JOIN s s2 ON c.doc2 = s2.doc_id AND s1.shingle = s2.shingle
  GROUP BY c.doc1, c.doc2
),
pairs AS (
  SELECT i.doc1, i.doc2,
         n_inter / CAST(x.n + y.n - n_inter AS DOUBLE) AS jaccard
  FROM inter i JOIN sz x ON i.doc1 = x.doc_id JOIN sz y ON i.doc2 = y.doc_id
  WHERE n_inter / CAST(x.n + y.n - n_inter AS DOUBLE) >= 0.5
)"""


@register(
    "ext_minhash_near_dups",
    oracle="WITH " + _MINHASH_CTE + _MINHASH_PAIRS_CTES + """
SELECT doc1, doc2, round(jaccard, 6) AS jaccard FROM pairs
""",
)
def ext_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline: shingle → signature → band →
    bucket join → exact Jaccard verification ≥ 0.5."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs, n=3).persist()
    sig = dedup.minhash_signatures(sh, num_hashes=_N_MINHASH).persist()
    bands = dedup.lsh_bands(sig, rows_per_band=2, num_hashes=_N_MINHASH)
    cand = dedup.lsh_candidate_pairs(bands)
    verified = dedup.jaccard_verify(cand, sh, threshold=0.5)
    return verified.select(
        "doc1", "doc2", F.round("jaccard", 6).alias("jaccard")
    )


@register(
    "ext_dedup_clusters",
    oracle="WITH " + _MINHASH_CTE + _MINHASH_PAIRS_CTES + """,
sym AS (
  SELECT doc1 AS src, doc2 AS dst FROM pairs
  UNION ALL
  SELECT doc2, doc1 FROM pairs
)
SELECT * FROM (
  WITH RECURSIVE reach(node, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT sy.src, re.r FROM sym sy JOIN reach re ON sy.dst = re.node
  ),
  comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
  cs AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
  SELECT c.doc_id, c.cluster_id,
         CAST(cs.cluster_size AS BIGINT) AS cluster_size,
         c.doc_id = c.cluster_id AS is_canonical
  FROM comp c JOIN cs ON c.cluster_id = cs.cluster_id
)
""",
)
def ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup canonicalization: the MinHash-LSH near-dup pairs
    (replayed verbatim from ``ext_minhash_near_dups``) collapsed to
    connected components, one canonical doc (smallest id) per cluster.
    The oracle re-runs the whole pair pipeline and closes it with a
    recursive reachability CTE — the same min-reachable-id fixpoint
    the Spark label propagation converges to. Supersedes
    ``ext_minhash_near_dups`` in the graded window (that query's
    output is the ``pairs`` CTE here)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.near_dup_clusters(
        docs, threshold=0.5, num_hashes=_N_MINHASH, rows_per_band=2, n=3
    )


@register(
    "ext_doc_embeddings",
    oracle=f"""
WITH {_TOKS_CTE},
tok AS (
  SELECT doc_id, u.tok FROM t, LATERAL unnest(toks) AS u(tok)
  WHERE length(u.tok) > 0
),
contrib AS (
  SELECT doc_id, CAST(j.j * 16 + k.k AS INTEGER) AS dim,
         SUM(CAST('0x' || substr(md5(concat('enc_', j.j, '_', tok)), k.k * 2 + 1, 2)
             AS BIGINT) - 128) AS s
  FROM tok,
       LATERAL (SELECT unnest(range(0, 4)) AS j) j,
       LATERAL (SELECT unnest(range(0, 16)) AS k) k
  GROUP BY doc_id, dim
),
nrm AS (
  SELECT doc_id, sqrt(SUM(CAST(s AS DOUBLE) * s)) AS n FROM contrib GROUP BY doc_id
)
SELECT c.doc_id, c.dim,
       round(CASE WHEN n.n = 0 THEN 0 ELSE c.s / n.n END, 6) AS value
FROM contrib c JOIN nrm n USING (doc_id)
""",
)
def ext_doc_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch embedding generation (``operators.embedding``): documents
    → L2-normalized 64-dim vectors via Arrow ``mapInPandas`` with the
    deterministic hash-encoder stand-in. Output exploded to
    (doc_id, dim, value) so the driver hash-compares scalars; the
    oracle replays tokenization, per-token byte contributions, the
    integer dimension sums, and the final normalization in SQL."""
    from .operators import embedding

    docs = load_table(spark, sf_dir, "documents")
    out = embedding.embed_documents(docs)
    return out.select(
        "doc_id", F.posexplode("embedding").alias("dim", "value")
    ).select(
        "doc_id",
        F.col("dim").cast("int").alias("dim"),
        F.round("value", 6).alias("value"),
    )


# incremental (new-batch-vs-corpus) dedup: batch = every 5th doc; the
# corpus keeps the rest PLUS every 10th doc, so re-ingested batch docs
# (doc_id % 10 = 0) surface as exact dups, planted near-dup partners
# split across the boundary surface as near dups, and the remainder is
# unique — all three statuses exercised at fixture scale.
_INC_BATCH = "doc_id % 5 = 0"
_INC_CORPUS = "(doc_id % 5 <> 0 OR doc_id % 10 = 0)"


def _inc_side_ctes(p: str, pred: str) -> str:
    """Shingle → minhash → band CTE chain for one side of the
    incremental-dedup oracle (prefix ``p``, doc predicate ``pred``)."""
    band_case = " ".join(
        f"WHEN {b} THEN "
        + _hash60_sql(
            f"concat(CAST(h{2 * b} AS VARCHAR), '_', CAST(h{2 * b + 1} AS VARCHAR))"
        )
        for b in range(_N_MINHASH // 2)
    )
    return f"""
{p}t AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents WHERE {pred}),
{p}s AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM {p}t, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i)
  WHERE length(array_to_string(toks[i:i+2], ' ')) > 0
),
{p}sb AS (SELECT doc_id, {_hash60_sql('shingle')} % {dedup.MINHASH_P} AS hb FROM {p}s),
{p}m AS (SELECT doc_id, {_MINHASH_COLS} FROM {p}sb GROUP BY doc_id),
{p}bands AS (
  SELECT doc_id, b.band,
         CASE b.band {band_case} END AS band_hash
  FROM {p}m, LATERAL (SELECT unnest(range(0, {_N_MINHASH // 2})) AS band) b
)"""


_INC_ORACLE = f"""
WITH keys AS (SELECT doc_id, {_hash60_sql(_NORM)} AS ck FROM documents),
ckeys AS (
  SELECT ck, min(doc_id) AS match_doc FROM keys WHERE {_INC_CORPUS} GROUP BY ck
),
exact AS (
  SELECT k.doc_id, c.match_doc FROM keys k JOIN ckeys c USING (ck)
  WHERE k.{_INC_BATCH}
),{_inc_side_ctes('b', f"{_INC_BATCH} AND doc_id NOT IN (SELECT doc_id FROM exact)")},{_inc_side_ctes('c', _INC_CORPUS)},
cand AS (
  SELECT DISTINCT bb.doc_id AS doc1, cb.doc_id AS doc2
  FROM bbands bb JOIN cbands cb ON bb.band = cb.band AND bb.band_hash = cb.band_hash
),
bsz AS (SELECT doc_id, count(*) AS n FROM bs GROUP BY doc_id),
csz AS (SELECT doc_id, count(*) AS n FROM cs GROUP BY doc_id),
inter AS (
  SELECT c.doc1, c.doc2, count(*) AS n_inter
  FROM cand c JOIN bs s1 ON c.doc1 = s1.doc_id
              JOIN cs s2 ON c.doc2 = s2.doc_id AND s1.shingle = s2.shingle
  GROUP BY c.doc1, c.doc2
),
near AS (
  SELECT i.doc1, i.doc2,
         n_inter / CAST(x.n + y.n - n_inter AS DOUBLE) AS jaccard
  FROM inter i JOIN bsz x ON i.doc1 = x.doc_id JOIN csz y ON i.doc2 = y.doc_id
  WHERE n_inter / CAST(x.n + y.n - n_inter AS DOUBLE) >= 0.5
),
nbest AS (
  SELECT doc1, doc2, jaccard,
         row_number() OVER (PARTITION BY doc1 ORDER BY jaccard DESC, doc2) AS rn
  FROM near QUALIFY rn = 1
)
SELECT b.doc_id,
       CASE WHEN e.match_doc IS NOT NULL THEN 'exact_dup'
            WHEN nb.doc2 IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS status,
       coalesce(e.match_doc, nb.doc2) AS match_doc_id,
       CASE WHEN e.match_doc IS NULL THEN round(nb.jaccard, 6) END AS jaccard
FROM (SELECT doc_id FROM documents WHERE {_INC_BATCH}) b
LEFT JOIN exact e USING (doc_id)
LEFT JOIN nbest nb ON b.doc_id = nb.doc1
"""


@register("ext_incremental_dedup", oracle=_INC_ORACLE)
def ext_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup — the new batch (every 5th doc)
    probed against the standing corpus (the rest, plus every 10th doc
    so re-ingested content exists): exact content-key equi-join, then
    MinHash-LSH banding of the surviving batch docs against the corpus
    band table, exact-Jaccard verification, best corpus match per
    batch doc. Statuses 'exact_dup' / 'near_dup' / 'unique'. The
    oracle replays every stage (keys, shingles, signatures, banding,
    verification, best-match window) in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.expr(_INC_BATCH))
    corpus = docs.filter(F.expr(_INC_CORPUS))
    out = dedup.incremental_dedup(
        corpus, batch, threshold=0.5, num_hashes=_N_MINHASH, rows_per_band=2, n=3
    )
    return out.select(
        "doc_id", "status", "match_doc_id", F.round("jaccard", 6).alias("jaccard")
    )


_PACK_SEQ_LEN, _PACK_SHARDS, _PACK_SEED = 512, 8, 7


@register(
    "ext_seq_packing",
    oracle="WITH " + _TOKS_CTE + f""",
n AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         {_hash60_sql("concat('pack_" + str(_PACK_SEED) + "_', CAST(doc_id AS VARCHAR))")} AS k
  FROM t
),
r AS (
  SELECT doc_id, CAST(k % {_PACK_SHARDS} AS INTEGER) AS shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY k % {_PACK_SHARDS} ORDER BY k, doc_id
                             ROWS UNBOUNDED PRECEDING) AS end_tok
  FROM n
)
SELECT doc_id, shard, n_tokens,
       CAST(end_tok - n_tokens AS BIGINT) AS start_tok,
       CAST(floor((end_tok - n_tokens) / {float(_PACK_SEQ_LEN)}) AS BIGINT) AS begin_seq,
       CAST(floor((end_tok - 1) / {float(_PACK_SEQ_LEN)}) AS BIGINT) AS end_seq,
       CAST((end_tok - n_tokens) % {_PACK_SEQ_LEN} AS BIGINT) AS offset_in_seq
FROM r
""",
)
def ext_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: deterministic shard routing
    + per-shard running token sums → the document → training-sequence
    assignment (``operators.packing``). The per-shard window keeps the
    plan free of any unpartitioned window; token counting replays
    ``ext_token_stats``' tokenizer verbatim, so this query supersedes
    it in the graded window."""
    docs = load_table(spark, sf_dir, "documents")
    return packing.pack_sequences(
        docs, seq_len=_PACK_SEQ_LEN, n_shards=_PACK_SHARDS, seed=_PACK_SEED
    )


_NGRAM_MAX_DF = 20


@register(
    "ext_ngram_jaccard",
    oracle="WITH " + _SHINGLES_CTE + f""",
freq AS (SELECT shingle, count(*) AS df FROM s GROUP BY shingle),
keep AS (
  SELECT s.doc_id, s.shingle
  FROM s JOIN freq f ON s.shingle = f.shingle AND f.df <= {_NGRAM_MAX_DF}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM keep a JOIN keep b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
inter AS (
  SELECT c.doc1, c.doc2, count(*) AS n_inter
  FROM cand c JOIN s s1 ON c.doc1 = s1.doc_id
              JOIN s s2 ON c.doc2 = s2.doc_id AND s1.shingle = s2.shingle
  GROUP BY c.doc1, c.doc2
)
SELECT i.doc1, i.doc2,
       round(n_inter / CAST(x.n + y.n - n_inter AS DOUBLE), 6) AS jaccard
FROM inter i JOIN sz x ON i.doc1 = x.doc_id JOIN sz y ON i.doc2 = y.doc_id
WHERE n_inter / CAST(x.n + y.n - n_inter AS DOUBLE) >= 0.5
""",
)
def ext_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dups via the inverted shingle index
    (no MinHash approximation): one shingle equi-join, output-bound by
    shared shingles — never an all-pairs comparison. Runs the CAPPED
    configuration (``max_doc_freq`` stop-shingle cut, the knob that
    bounds hot-shingle quadratic blowup at 100 TB) and the oracle
    replays the cap exactly: stop shingles leave candidate generation
    only; Jaccard recounts the full shingle relation, so reported
    values stay exact for every emitted pair."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs, n=3).persist()
    out = dedup.ngram_jaccard_near_dups(
        docs, threshold=0.5, max_doc_freq=_NGRAM_MAX_DF, shingle_df=sh
    )
    return out.select("doc1", "doc2", F.round("jaccard", 6).alias("jaccard"))


_SIMHASH_BITS = 16
_SIMHASH_VOTES = ", ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
    for i in range(_SIMHASH_BITS)
)
_SIMHASH_RECON = " + ".join(
    f"CASE WHEN v{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END"
    for i in range(_SIMHASH_BITS)
)


@register(
    "ext_simhash",
    oracle="WITH " + _TOKS_CTE + f""",
u AS (
  SELECT doc_id, {_hash60_sql('tok')} AS h
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
  WHERE length(tok) > 0
),
v AS (SELECT doc_id, {_SIMHASH_VOTES} FROM u GROUP BY doc_id)
SELECT doc_id, {_SIMHASH_RECON} AS simhash FROM v
""",
)
def ext_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (16-bit, token-level bit votes)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, bits=_SIMHASH_BITS)


# ---------------------------------------------------------------- text


@register(
    "ext_token_stats",
    oracle="WITH " + _TOKS_CTE + """
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(len(toks) + list_sum(list_transform(toks,
            x -> CASE WHEN length(x) > 6 THEN CAST(floor(length(x) / 4) AS INTEGER) ELSE 0 END))
         AS INTEGER) AS bpe_tokens
FROM t
""",
)
def ext_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish upper estimate."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.bpe_ish_token_count("text").cast("int").alias("bpe_tokens"),
    )


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in text.LANG_STOPWORDS[lang])
    return f"len(list_filter(toks, x -> list_contains([{words}], x)))"


# stopword scores + argmax language guess (shared by ext_lang_id and
# ext_corpus_clean so the two oracles can't diverge); reads CTE `t`,
# defines `lg(doc_id, lang_guess)`.
_LANG_GUESS_CTES = f""",
sc AS (
  SELECT doc_id,
         {_lang_score_sql('en')} AS s_en,
         {_lang_score_sql('fr')} AS s_fr,
         {_lang_score_sql('de')} AS s_de,
         {_lang_score_sql('es')} AS s_es
  FROM t
),
lg AS (
  SELECT doc_id,
    CASE WHEN s_en = 0 AND s_fr = 0 AND s_de = 0 AND s_es = 0 THEN 'und'
         WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
         WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
         WHEN s_de >= s_es THEN 'de'
         ELSE 'es' END AS lang_guess
  FROM sc
)"""


@register(
    "ext_lang_id",
    oracle="WITH "
    + _TOKS_CTE
    + _LANG_GUESS_CTES
    + """
SELECT doc_id, lang_guess FROM lg
""",
)
def ext_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-hit argmax (ties favor the
    earlier language in en, fr, de, es order). Tokenizes once behind
    an exchange — the four score expressions would otherwise each
    re-run the split (measured 6× at sf0.1).

    Driver-graded inside ``ext_corpus_clean``, whose oracle replays
    the same stopword-argmax lang gate; kept standalone for direct
    use and local checking."""
    docs = load_table(spark, sf_dir, "documents")
    toks_df = text.materialized_tokens(docs)
    return toks_df.select(
        "doc_id", text.lang_id(toks=F.col("_toks")).alias("lang_guess")
    )


@register(
    "ext_quality_scores",
    oracle="WITH " + _TOKS_CTE + f""",
f AS (
  SELECT doc_id,
    CAST(len(toks) AS INTEGER) AS n_tokens,
    CAST(length({_NORM}) AS INTEGER) AS n_chars_norm,
    {_lang_score_sql('en')} AS stop_hits,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
    length(text) AS n_raw
  FROM t JOIN documents USING (doc_id)
)
SELECT doc_id, n_tokens, n_chars_norm,
  round((n_chars_norm - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE), 6) AS mean_word_len,
  CAST(stop_hits AS INTEGER) AS stopword_hits,
  round(stop_hits / CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio,
  round(n_punct / CAST(greatest(n_raw, 1) AS DOUBLE), 6) AS punct_ratio,
  round(0.4 * least(n_tokens / 64.0, 1.0)
      + 0.3 * least(stop_hits / CAST(n_tokens AS DOUBLE) * 4, 1.0)
      + 0.3 * (1 - least(n_punct / CAST(greatest(n_raw, 1) AS DOUBLE) * 10, 1.0)), 6) AS quality_score
FROM f
""",
)
def ext_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/stopword/punctuation features + a
    combined [0,1] heuristic score."""
    docs = load_table(spark, sf_dir, "documents")
    out = text.quality_features(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_chars_norm").cast("int").alias("n_chars_norm"),
        "mean_word_len",
        F.col("stopword_hits").cast("int").alias("stopword_hits"),
        "stopword_ratio",
        "punct_ratio",
        "quality_score",
    )


@register(
    "ext_corpus_clean",
    oracle="WITH "
    + _TOKS_CTE
    + f""",
k AS (SELECT doc_id, {_hash60_sql(_NORM)} AS content_key FROM documents),
canon AS (SELECT min(doc_id) AS doc_id FROM k GROUP BY content_key)"""
    + _LANG_GUESS_CTES
    + f""",
f AS (
  SELECT doc_id,
    CAST(len(toks) AS INTEGER) AS n_tokens,
    round(0.4 * least(len(toks) / 64.0, 1.0)
        + 0.3 * least({_lang_score_sql('en')} / CAST(len(toks) AS DOUBLE) * 4, 1.0)
        + 0.3 * (1 - least(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                 / CAST(greatest(length(text), 1) AS DOUBLE) * 10, 1.0)), 6)
      AS quality_score
  FROM t JOIN documents USING (doc_id)
)
SELECT f.doc_id, lg.lang_guess, f.n_tokens, f.quality_score
FROM canon
JOIN lg ON canon.doc_id = lg.doc_id
JOIN f ON f.doc_id = lg.doc_id
WHERE lg.lang_guess = 'en' AND f.quality_score >= 0.5 AND f.n_tokens >= 10
""",
)
def ext_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrated corpus-cleaning pipeline (the composed training-data
    path): exact dedup (canonical copy = min doc_id per normalized
    content hash) → language gate (en) → quality/length gates
    (quality_score ≥ 0.5, ≥ 10 tokens).

    One shuffle total: the dedup window on content_key (rank-limit
    pushes the top-1-per-key below the exchange); the language and
    quality features are projections evaluated only on surviving
    canonical rows."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("content_key").orderBy("doc_id")
    canon = (
        docs.withColumn(
            "content_key", dedup.hash60(dedup.normalize_text("text"))
        )
        # tokenize once behind the window exchange: both gates read the
        # materialized array instead of re-running the split per score
        .withColumn("_toks", text.tokens("text"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "content_key")
        .withColumn("lang_guess", text.lang_id("text", toks=F.col("_toks")))
    )
    feats = text.quality_features(
        canon, keep=("lang_guess",), toks=F.col("_toks")
    )
    return feats.filter(
        (F.col("lang_guess") == "en")
        & (F.col("quality_score") >= 0.5)
        & (F.col("n_tokens") >= 10)
    ).select(
        "doc_id",
        "lang_guess",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "quality_score",
    )


@register(
    "ext_doc_fingerprint",
    oracle=f"""
SELECT doc_id, {_hash60_sql(_NORM)} AS fp FROM documents
""",
)
def ext_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document fingerprint (keyed hash of normalized text)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint("text").alias("fp"))


@register(
    "ext_fingerprints",
    oracle="WITH " + _TOKS_CTE + f""",
w AS (
  SELECT doc_id,
         CAST(i AS INTEGER) AS win_idx,
         array_to_string(toks[i * 4 + 1 : i * 4 + 8], ' ') AS win
  FROM t, LATERAL (
    SELECT unnest(range(0, greatest(CAST(floor((len(toks) - 8) / 4.0) AS INTEGER) + 1, 1))) AS i
  )
)
SELECT doc_id, win_idx, {_hash60_sql('win')} AS fp FROM w
UNION ALL
SELECT doc_id, CAST(-1 AS INTEGER) AS win_idx, {_hash60_sql(_NORM)} AS fp
FROM documents
""",
)
def ext_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting, both granularities in one relation:
    rolling 8-token-window hashes every 4 tokens (win_idx ≥ 0, the
    contamination-scan primitive) plus the whole-document normalized-
    content hash as the ``win_idx = -1`` row (the incremental-dedup
    anchor, also exposed alone as ``ext_doc_fingerprint``).

    Driver-graded inside ``ext_contamination``, which replays the
    same rolling-window fingerprints on both corpus sides; kept
    standalone for direct use and local checking."""
    docs = load_table(spark, sf_dir, "documents")
    rolling = text.rolling_fingerprints(docs, window_tokens=8, stride=4)
    whole = docs.select(
        "doc_id",
        F.lit(-1).cast("int").alias("win_idx"),
        text.fingerprint("text").alias("fp"),
    )
    return rolling.unionByName(whole)


# ---------------------------------------------------------------- similarity

_COS_EXPR = """
list_sum(list_transform(range(1, 65), k -> CAST(a.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)))
/ (sqrt(list_sum(list_transform(range(1, 65), k -> CAST(a.embedding[k] AS DOUBLE) * CAST(a.embedding[k] AS DOUBLE))))
 * sqrt(list_sum(list_transform(range(1, 65), k -> CAST(b.embedding[k] AS DOUBLE) * CAST(b.embedding[k] AS DOUBLE)))))
"""


@register(
    "ext_cosine_topk",
    oracle=f"""
WITH pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, {_COS_EXPR} AS cos
  FROM embeddings a CROSS JOIN embeddings b
  WHERE a.vec_id < 50 AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT src, dst, cos,
         row_number() OVER (PARTITION BY src ORDER BY {_COS_RANK} DESC, dst) AS rank
  FROM pairs QUALIFY rank <= 5
)
SELECT src, dst, round(cos, 6) AS cos_sim, CAST(rank AS INTEGER) AS rank FROM ranked
""",
)
def ext_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 50 query vectors
    (broadcast-base batched numpy, fold-parity with the SQL)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 50)
    out = similarity.cosine_topk(q, emb, k=5)
    return out.withColumn("cos_sim", F.round("cos_sim", 6))


@register(
    "ext_cosine_near_dups",
    oracle=f"""
SELECT a.vec_id AS src, b.vec_id AS dst, round({_COS_EXPR}, 6) AS cos_sim
FROM embeddings a CROSS JOIN embeddings b
WHERE a.vec_id < b.vec_id AND {_COS_EXPR} >= 0.45
""",
)
def ext_cosine_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.45).
    Driver-graded via ``ext_cosine_topk`` (this is its output under a
    threshold filter) and, for the 100 TB shape, via
    ``ext_emb_near_dups_lsh``; kept standalone for local checking."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dups(emb, threshold=0.45)


_RP_BITS, _RP_BAND_BITS = 32, 4


def _emb_lsh_ctes(bits: int = _RP_BITS, band_bits: int = _RP_BAND_BITS) -> str:
    """WITH-chain through ``scored(src, dst, cos)`` — the shared head
    of the embedding-LSH pair oracle and the semantic-dedup oracle.
    Parameterized by signature width and band width so the SCALED band
    configuration (the log2(n)-tracking knob measured in SCALING.md)
    grades through the identical replay; ``bits`` must stay < 63 so the
    signature integer fits signed int64 on both engines."""

    def dot(b: int) -> str:
        return (
            f"list_sum(list_transform(range(1, {D + 1}), "
            f"i -> CAST(embedding[i] AS DOUBLE) * "
            f"((CAST('0x' || substr(md5(concat('rp_{b}_', CAST(i - 1 AS VARCHAR))), 1, 15) AS BIGINT)"
            f" / power(2.0, 60)) * 2 - 1)))"
        )

    sig = " + ".join(
        f"(CASE WHEN {dot(b)} >= 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )
    n_bands = bits // band_bits
    mask = 2**band_bits - 1
    cos = _COS_EXPR.replace("a.embedding", "qa.embedding").replace(
        "b.embedding", "qb.embedding"
    )
    return f"""
WITH sigs AS (SELECT vec_id, {sig} AS sig FROM embeddings),
blocks AS (
  SELECT vec_id, b.band, (sig >> (b.band * {band_bits})) & {mask} AS key
  FROM sigs, LATERAL (SELECT unnest(range(0, {n_bands})) AS band) b
),
cand AS (
  SELECT DISTINCT a.vec_id AS src, b2.vec_id AS dst
  FROM blocks a JOIN blocks b2 ON a.band = b2.band AND a.key = b2.key
  WHERE a.vec_id < b2.vec_id
),
scored AS (
  SELECT c.src, c.dst, {cos} AS cos
  FROM cand c JOIN embeddings qa ON c.src = qa.vec_id
              JOIN embeddings qb ON c.dst = qb.vec_id
)"""


def _emb_lsh_oracle() -> str:
    return (
        _emb_lsh_ctes()
        + """
SELECT src, dst, round(cos, 6) AS cos_sim FROM scored WHERE cos >= 0.45
"""
    )


@register("ext_emb_near_dups_lsh", oracle=_emb_lsh_oracle())
def ext_emb_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding near-dup (the 100 TB-shaped alternative to
    ``ext_cosine_near_dups``): deterministic random-hyperplane
    signatures → banded Hamming blocking (8 × 4-bit bands, equi-joins
    only — no all-pairs) → exact cosine verify ≥ 0.45 on candidates.
    The hyperplanes derive from keyed md5, so signature, blocking, and
    verification are all replayed exactly by the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    # pair_budget=None: this is the PINNED 4-bit config whose end of
    # regime is itself a measured artifact (SCALING.md runs it at the
    # sf1 20k corpus, ~1.9e8 pre-dedup candidates — over the default
    # guard by design); the graded scales are thousands of candidates.
    # Scale-safe defaults (auto band width + budget guard) are the
    # bare emb_near_dups_lsh(emb) path.
    out = similarity.emb_near_dups_lsh(
        emb,
        threshold=0.45,
        bits=_RP_BITS,
        band_bits=_RP_BAND_BITS,
        d=D,
        pair_budget=None,
    )
    return out.select("src", "dst", F.round("cos_sim", 6).alias("cos_sim"))


@register(
    "ext_emb_near_dups_scaled",
    oracle=_emb_lsh_ctes(bits=32, band_bits=8)
    + """
SELECT src, dst, round(cos, 6) AS cos_sim FROM scored WHERE cos >= 0.30
""",
)
def ext_emb_near_dups_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALED band configuration of the hyperplane near-dup
    (4 × 8-bit bands over the same 32-bit signatures): band width is
    the knob that must track log2(n) — bucket collision rate is
    2^-band_bits per random pair, so a 100× corpus needs wider bands
    to keep bucket sizes O(1) (measured in SCALING.md: the pinned
    4-bit config ends its regime at ~20k rows; 8-bit carries 200k).
    Grading this configuration pins the shift/mask banding math at a
    second width, not just the fixture default. The threshold sits at
    0.30 (vs the pinned config's 0.45) because 8-bit bands only
    surface high-agreement pairs — at the fixture's similarity
    profile the 0.45 slice of the 8-bit candidates is empty at every
    sf, and an empty graded row would certify nothing; 0.30 keeps
    ~70 verified pairs flowing through the full shift/mask/score
    path at both graded scales. Because an 8-bit band is the
    concatenation of two 4-bit bands, its CANDIDATES are provably a
    subset of the pinned config's — the containment is pytest-checked
    (tests/test_round9_ops.py::test_scaled_band_candidates_subset)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.emb_near_dups_lsh(
        emb, threshold=0.30, bits=_RP_BITS, band_bits=8, d=D
    )
    return out.select("src", "dst", F.round("cos_sim", 6).alias("cos_sim"))


@register("ext_emb_near_dups_auto", oracle=_emb_lsh_oracle())
def ext_emb_near_dups_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEFAULT-ARGUMENT path of the hyperplane near-dup join
    (round 10, VERDICT r09 #2): ``band_bits=None`` auto-derives the
    band width from a cheap row count (``auto_band_bits``: log2(n)−8
    clamped to [4, 16] — keeps expected bucket size ~2^8 at any corpus
    size, the law SCALING.md measures across two decades) and the
    candidate-budget guard counts the exact pre-dedup pair volume
    before any pair materializes. At the graded fixtures (n = 500) the
    knob resolves to 4-bit bands, so the oracle is the SAME full
    signature→band→verify replay as the pinned config — what this row
    grades is that a user calling ``emb_near_dups_lsh(emb)`` with no
    tuning gets the exact verified output AND the scale-safe
    resolution path (probe → count → knob → guard), not the pinned
    config's bypass. The guard's refusal branch and the knob's values
    at larger n are pytest-pinned
    (``test_near_dup_candidate_budget_guard``,
    ``test_near_dup_auto_band_bits``)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.emb_near_dups_lsh(emb, threshold=0.45, d=D)
    return out.select("src", "dst", F.round("cos_sim", 6).alias("cos_sim"))


@register(
    "ext_semantic_dedup",
    oracle=_emb_lsh_ctes()
    + """,
sym AS (
  SELECT src, dst FROM scored WHERE cos >= 0.45
  UNION ALL
  SELECT dst, src FROM scored WHERE cos >= 0.45
)
SELECT * FROM (
  WITH RECURSIVE reach(node, r) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT sy.src, re.r FROM sym sy JOIN reach re ON sy.dst = re.node
  ),
  comp AS (SELECT node AS vec_id, min(r) AS cluster_id FROM reach GROUP BY node),
  cs AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
  SELECT c.vec_id, c.cluster_id,
         CAST(cs.cluster_size AS BIGINT) AS cluster_size,
         c.vec_id = c.cluster_id AS is_canonical
  FROM comp c JOIN cs ON c.cluster_id = cs.cluster_id
)
""",
)
def ext_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup shape): the embedding-LSH near-dup
    pairs (replayed verbatim from ``ext_emb_near_dups_lsh``) collapsed
    to connected components with one canonical vector per cluster. The
    oracle re-runs signatures → banded blocking → cosine verify and
    closes the pair graph with the same recursive min-reachable-id
    fixpoint the Spark closure converges to."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        emb, threshold=0.45, bits=_RP_BITS, band_bits=_RP_BAND_BITS, d=D
    )


_IVF_N, _IVF_PROBE, _IVF_K = 8, 3, 5
_SQDIST_CENT = f"""round(list_sum(list_transform(range(1, {D + 1}),
      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
         * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))), 6)"""


@register(
    "ext_ivf_topk",
    oracle=f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cluster, embedding
  FROM (SELECT vec_id, embedding,
               CAST('0x' || substr(md5(concat('ivf_', CAST(vec_id AS VARCHAR))), 1, 15) AS BIGINT) AS h
        FROM embeddings)
  ORDER BY h, vec_id LIMIT {_IVF_N}
),
dists AS (
  SELECT e.vec_id, c.cluster, {_SQDIST_CENT} AS d6
  FROM embeddings e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY d6, cluster) AS rn
    FROM dists) WHERE rn = 1
),
routed AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY d6, cluster) AS rn
    FROM dists WHERE vec_id < 50) WHERE rn <= {_IVF_PROBE}
),
scored AS (
  SELECT r.vec_id AS src, s.vec_id AS dst, {_COS_EXPR.replace('a.embedding', 'qa.embedding').replace('b.embedding', 'qb.embedding')} AS cos
  FROM routed r
  JOIN assigned s ON r.cluster = s.cluster AND r.vec_id <> s.vec_id
  JOIN embeddings qa ON r.vec_id = qa.vec_id
  JOIN embeddings qb ON s.vec_id = qb.vec_id
)
SELECT src, dst, round(cos, 6) AS cos_sim, CAST(rank AS INTEGER) AS rank
FROM (SELECT src, dst, cos,
             row_number() OVER (PARTITION BY src ORDER BY {_COS_RANK} DESC, dst) AS rank
      FROM scored)
WHERE rank <= {_IVF_K}
""",
)
def ext_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate cosine top-5 over the deterministic
    index (hash-spread centroids + argmin assignment + nprobe routing —
    every step native and oracle-checked). The seeded-KMeans index
    (``similarity.ivf_build``) shares this exact search plan and is
    covered by pytest (centroids are float-iteration dependent, so it
    cannot be cross-engine hash-checked)."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = similarity.ivf_build_fixed(emb, n_clusters=_IVF_N)
    q = emb.filter(F.col("vec_id") < 50)
    out = similarity.ivf_search_fixed(
        q, assigned, centroids, k=_IVF_K, nprobe=_IVF_PROBE
    )
    return out.withColumn("cos_sim", F.round("cos_sim", 6))


@register(
    "stream_dedup_ttl_replay",
    oracle=f"""
SELECT DISTINCT {_hash60_sql(_NORM)} AS content_key FROM documents
""",
)
def stream_dedup_ttl_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-NATIVE streaming dedup tier:
    ``dropDuplicatesWithinWatermark`` — Spark's TTL-bounded stateful
    dedup, the operator built for the 100 TB reality that exact-
    forever key state does not fit (state is evicted once the
    watermark passes, and a key may legitimately re-admit after its
    TTL — the at-least-once dedup contract). Sibling of the
    unbounded-state ``dropDuplicates`` tier graded by
    ``stream_dedup_replay``. For the convergence gate the event-time
    column is pinned constant so the watermark never passes (TTL = ∞
    within the replay) and the surviving key set equals the batch
    DISTINCT oracle; the TTL re-admission semantics themselves are
    pinned by ``test_drop_duplicates_within_watermark_readmits``."""
    import os as _o
    import shutil

    from .functions.hashing import hash60
    from .registry_more import _scratch_dir

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.withColumn("doc_id", F.col("doc_id") + 10_000_000)
    scratch = _scratch_dir("stream_dedup_ttl", sf_dir)
    shutil.rmtree(scratch, ignore_errors=True)
    for b in range(3):
        (
            docs.unionByName(dup)
            .filter(F.pmod(F.col("doc_id"), F.lit(3)) == b)
            .coalesce(1)
            .write.mode("append")
            .parquet(scratch)
        )
    name = f"sdttl_sink_{_o.path.basename(sf_dir.rstrip('/')).replace('.', '_')}"
    spark.catalog.dropTempView(name)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(scratch)
    )
    keyed = (
        stream.select(
            hash60(dedup.normalize_text("text")).alias("content_key"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        )
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["content_key"])
        .select("content_key")
    )
    q = (
        keyed.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


@register(
    "ext_ivf_append_topk",
    oracle=f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cluster, embedding
  FROM (SELECT vec_id, embedding,
               CAST('0x' || substr(md5(concat('ivf_', CAST(vec_id AS VARCHAR))), 1, 15) AS BIGINT) AS h
        FROM embeddings WHERE vec_id % 2 = 0)
  ORDER BY h, vec_id LIMIT {_IVF_N}
),
dists AS (
  SELECT e.vec_id, c.cluster, {_SQDIST_CENT} AS d6
  FROM embeddings e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY d6, cluster) AS rn
    FROM dists) WHERE rn = 1
),
routed AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY d6, cluster) AS rn
    FROM dists WHERE vec_id < 50) WHERE rn <= {_IVF_PROBE}
),
scored AS (
  SELECT r.vec_id AS src, s.vec_id AS dst, {_COS_EXPR.replace('a.embedding', 'qa.embedding').replace('b.embedding', 'qb.embedding')} AS cos
  FROM routed r
  JOIN assigned s ON r.cluster = s.cluster AND r.vec_id <> s.vec_id
  JOIN embeddings qa ON r.vec_id = qa.vec_id
  JOIN embeddings qb ON s.vec_id = qb.vec_id
)
SELECT src, dst, round(cos, 6) AS cos_sim, CAST(rank AS INTEGER) AS rank
FROM (SELECT src, dst, cos,
             row_number() OVER (PARTITION BY src ORDER BY {_COS_RANK} DESC, dst) AS rank
      FROM scored)
WHERE rank <= {_IVF_K}
""",
)
def ext_ivf_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance (``similarity.ivf_append``)
    graded end-to-end: the index is built and PERSISTED over the even
    half of the corpus, the odd half then arrives and is routed
    through the EXISTING centroids and appended into the on-disk
    cluster partitions (no rebuild, no rewrite of existing files), and
    the search runs over the re-loaded appended index. The oracle
    derives the centroids from the even half only and searches the
    full corpus — exactly the appended index's content — so the check
    proves append-then-search equals a from-scratch assignment under
    the same centroids."""
    import os as _o2

    from .registry_more import _scratch_dir

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    assigned, cents = similarity.ivf_build_fixed(old, n_clusters=_IVF_N)
    idx_dir = _scratch_dir("ivf_append", sf_dir)
    import shutil

    shutil.rmtree(idx_dir, ignore_errors=True)
    similarity.save_ivf_index(assigned, cents, idx_dir)
    similarity.ivf_append(spark, idx_dir, new.select("vec_id", "embedding"))
    l_assigned, l_cents = similarity.load_ivf_index(spark, idx_dir)
    q = emb.filter(F.col("vec_id") < 50)
    out = similarity.ivf_search_fixed(
        q, l_assigned, l_cents, k=_IVF_K, nprobe=_IVF_PROBE
    )
    return out.withColumn("cos_sim", F.round("cos_sim", 6))


@register(
    "ext_ivf_erase_topk",
    oracle=f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cluster, embedding
  FROM (SELECT vec_id, embedding,
               CAST('0x' || substr(md5(concat('ivf_', CAST(vec_id AS VARCHAR))), 1, 15) AS BIGINT) AS h
        FROM embeddings)
  ORDER BY h, vec_id LIMIT {_IVF_N}
),
dists AS (
  SELECT e.vec_id, c.cluster, {_SQDIST_CENT} AS d6
  FROM embeddings e CROSS JOIN cent c
  WHERE e.vec_id % 17 <> 0
),
assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY d6, cluster) AS rn
    FROM dists) WHERE rn = 1
),
routed AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY d6, cluster) AS rn
    FROM dists WHERE vec_id < 50) WHERE rn <= {_IVF_PROBE}
),
scored AS (
  SELECT r.vec_id AS src, s.vec_id AS dst, {_COS_EXPR.replace('a.embedding', 'qa.embedding').replace('b.embedding', 'qb.embedding')} AS cos
  FROM routed r
  JOIN assigned s ON r.cluster = s.cluster AND r.vec_id <> s.vec_id
  JOIN embeddings qa ON r.vec_id = qa.vec_id
  JOIN embeddings qb ON s.vec_id = qb.vec_id
)
SELECT src, dst, round(cos, 6) AS cos_sim, CAST(rank AS INTEGER) AS rank
FROM (SELECT src, dst, cos,
             row_number() OVER (PARTITION BY src ORDER BY {_COS_RANK} DESC, dst) AS rank
      FROM scored)
WHERE rank <= {_IVF_K}
""",
)
def ext_ivf_erase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure propagated into a DERIVED artifact, graded end-to-end
    (VERDICT r12 #4): the deterministic IVF index is built and
    PERSISTED over the full corpus, a victim key set (vec_id % 17 ==
    0) is then erased from the base AND from the on-disk index —
    ``similarity.ivf_erase`` rewrites ONLY the cluster partitions
    holding victims and deletes their superseded files; untouched
    clusters keep their bytes — and the search runs over the re-loaded
    erased index. The oracle searches a from-scratch assignment of the
    SURVIVOR corpus under the same centroids, so the check proves
    erase-then-search equals rebuild-then-search: no victim can appear
    in any result, at ~bytes(touched clusters)/bytes(index) of a full
    rebuild's write cost (measured in SCALING.md). Frozen centroids
    are the documented residue — the retrain path completes the
    forget when centroid provenance matters (see ``ivf_erase``)."""
    import shutil

    from .registry_more import _scratch_dir

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cents = similarity.ivf_build_fixed(emb, n_clusters=_IVF_N)
    idx_dir = _scratch_dir("ivf_erase", sf_dir)
    shutil.rmtree(idx_dir, ignore_errors=True)
    similarity.save_ivf_index(assigned, cents, idx_dir)
    victims = emb.filter(F.col("vec_id") % 17 == 0).select("vec_id")
    similarity.ivf_erase(spark, idx_dir, victims)
    l_assigned, l_cents = similarity.load_ivf_index(spark, idx_dir)
    q = emb.filter((F.col("vec_id") < 50) & (F.col("vec_id") % 17 != 0))
    out = similarity.ivf_search_fixed(
        q, l_assigned, l_cents, k=_IVF_K, nprobe=_IVF_PROBE
    )
    return out.withColumn("cos_sim", F.round("cos_sim", 6))


# ---------------------------------------------------------------- multimodal


@register(
    "ext_multimodal_features",
    oracle="""
SELECT doc_id AS media_id,
       CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
       'unknown' AS format
FROM documents
""",
)
def ext_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary payloads through the Arrow
    mapInPandas feature extractor (fake decode tier — byte stats; see
    operators.multimodal for the stub contract)."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_fake_payload(docs)
    feats = multimodal.extract_features(media, fake=True)
    return feats.select("media_id", "n_bytes", "format")


@register(
    "ext_media_frames",
    oracle="""
WITH m AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS ph,
         octet_length(encode(text)) AS len
  FROM documents
),
p AS (SELECT * FROM m WHERE len > 0),
f AS (
  SELECT media_id, CAST(b.i AS INTEGER) AS frame_idx,
         substr(ph,
                least(b.i * greatest(greatest(len - 16, 0) // 3, 1),
                      greatest(len - 16, 0)) * 2 + 1,
                32) AS frame_hex
  FROM p, LATERAL (SELECT unnest(range(0, 4)) AS i) b
)
SELECT media_id, frame_idx, frame_hex FROM f
""",
)
def ext_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling plumbing: 4 evenly spaced 16-byte
    windows per opaque payload through the Arrow ``mapInPandas`` frame
    sampler (fake byte-window tier — a real build swaps the slicer for
    a codec; the Spark-side schema, batching, and stride logic are the
    real thing and the oracle replays the byte windows exactly on the
    hex representation)."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_fake_payload(docs)
    frames = multimodal.sample_frames(media, n_frames=4, frame_bytes=16, fake=True)
    return frames.select(
        "media_id",
        "frame_idx",
        F.hex(F.col("frame")).alias("frame_hex"),
    )


# ---------------------------------------------------------------- windows


@register(
    "ext_events_sliding",
    oracle="""
WITH e AS (
  SELECT event_type, value,
         make_timestamp((epoch_us(ts) // 86400000000) * 86400000000) AS day
  FROM events
),
expanded AS (
  SELECT event_type, value, day - o * INTERVAL 1 DAY AS window_start
  FROM e, LATERAL (SELECT unnest([0, 1]) AS o)
)
SELECT CAST(window_start AS TIMESTAMP) AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM expanded GROUP BY 1, 2
""",
)
def ext_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-day/1-day window counts over events, built from
    timezone-proof epoch arithmetic (each event lands in exactly two
    windows)."""
    ev = load_table(spark, sf_dir, "events")
    day_us = (F.expr("unix_micros(ts) div 86400000000") * F.lit(86400000000)).cast(
        "long"
    )
    starts = F.array(
        F.timestamp_micros(day_us),
        F.timestamp_micros(day_us - F.lit(86400000000).cast("long")),
    )
    return (
        ev.select(
            F.explode(starts).alias("window_start"), "event_type", "value"
        )
        .groupBy("window_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------- graph extras


@register(
    "g5_connected_components",
    oracle=_components_oracle(
        "SELECT vec_id, CAST(component AS BIGINT) AS component FROM comp"
    ),
)
def g5_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 (``t_vector/e1:41-54``): connected components of the
    mutual-kNN graph. Spark: iterative min-label propagation to
    fixpoint; oracle: recursive reachability closure + min — both
    converge to component = min reachable vec_id."""
    from .operators import graph, knn

    emb = load_table(spark, sf_dir, "embeddings")
    # one-pass mutual graph (optimization round 13): the persist +
    # reverse-semi-join shape raced two concurrent kNN evaluations into
    # the cache; the canonical-pair count needs neither
    mutual = graph.mutual_edges(knn.knn_edges(emb, k=K))
    comp = graph.connected_components(
        mutual.withColumn("dist", F.lit(0.0)).withColumn("rank", F.lit(1)),
        emb,
        assume_symmetric=True,
    )
    return comp


@register(
    "cov_components_star",
    oracle=_components_oracle(
        "SELECT vec_id, CAST(component AS BIGINT) AS component FROM comp"
    ),
)
def cov_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 via the large-star/small-star algorithm (Kiveris et al.,
    SoCC'14) — the O(log² n)-round scale swap for the label-propagation
    loop, graded against the same recursive-closure oracle as
    ``g5_connected_components`` (both converge to component = min
    reachable id). The star path is called directly (no union-find
    shortcut) so the plan the driver checks is the distributed one."""
    from .operators import graph, knn

    emb = load_table(spark, sf_dir, "embeddings")
    # one-pass mutual graph (optimization round 13, see mutual_edges)
    mutual = graph.mutual_edges(knn.knn_edges(emb, k=K))
    return graph.connected_components_star(mutual, emb)


def _pagerank_oracle(iters: int = 3, num: int = 17, den: int = 20) -> str:
    """Unrolled integer-exact PageRank over the kNN edges (see
    ``graph.pagerank_exact``): A_{t+1} = (den−num)·k·(den·k)^t +
    num·ΣA_t, pure BIGINT arithmetic at every stage, one final double
    division."""
    from .registry import _knn_cte

    sql = (
        _knn_cte()
        + """,
a0 AS (SELECT vec_id, CAST(1 AS BIGINT) AS a FROM embeddings)"""
    )
    for t in range(1, iters + 1):
        const = (den - num) * K * (den * K) ** (t - 1)
        sql += f""",
s{t} AS (
  SELECT e.dst, CAST(sum(p.a) AS BIGINT) AS s
  FROM edges e JOIN a{t - 1} p ON e.src = p.vec_id GROUP BY e.dst
),
a{t} AS (
  SELECT emb.vec_id,
         CAST({const} + {num} * coalesce(s{t}.s, 0) AS BIGINT) AS a
  FROM embeddings emb LEFT JOIN s{t} ON emb.vec_id = s{t}.dst
)"""
    return sql + f"""
SELECT vec_id, a AS pr_scaled,
       a / CAST((SELECT count(*) FROM embeddings) * power({den * K}, {iters}) AS DOUBLE) AS pr
FROM a{iters}
"""


@register("ext_graph_pagerank", oracle=_pagerank_oracle())
def ext_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power iterations, damping 17/20) over the exact kNN
    graph — the iterative graph-analytics shape beyond components, in
    the integer-exact formulation (``graph.pagerank_exact``) so the
    unrolled SQL oracle matches bit-for-bit with no rounding tolerance
    at all."""
    from .operators import graph, knn

    emb = load_table(spark, sf_dir, "embeddings")
    edges = knn.knn_edges(emb, k=K)
    return graph.pagerank_exact(edges, emb, k=K, iters=3)


@register(
    "g6_cluster_diagnostics",
    oracle=_components_oracle(
        """
  , sizes AS (SELECT component, count(*) AS n_nodes FROM comp GROUP BY component)
  SELECT c.component,
         CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(l.micro_sum) // sum(l.k) AS DOUBLE) / 1e6
           AS mean_edge_len,
         CAST(min(l.micro_sum // l.k) AS DOUBLE) / 1e6 AS min_edge_len,
         CAST(max(l.micro_sum // l.k) AS DOUBLE) / 1e6 AS max_edge_len,
         (SELECT CAST(sum(micro_sum) // sum(k) AS DOUBLE) / 1e6 FROM lens)
           AS population_mean_edge_len
  FROM comp c
  JOIN sizes s ON c.component = s.component AND s.n_nodes <= 10
  JOIN lens l ON c.vec_id = l.vec_id
  GROUP BY c.component
""",
        k=3,
        extra_ctes=""",
lens AS (
  SELECT src AS vec_id,
         sum(CAST(round(sqrt(dist_sq) * 1e6) AS BIGINT)) AS micro_sum,
         count(*) AS k
  FROM edges GROUP BY src
)""",
    ),
)
def g6_cluster_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 (``analyze_small_clusters``, ``t_vector/e1:89-134``): per
    small cluster (≤10 members) of the mutual-kNN graph, edge-length
    stats vs the population (the reference's argument that small
    isolated clusters are low-visibility carrier material).

    Uses k=3: the mutual graph at k=10 is one giant component at this
    scale with no small clusters to diagnose (the reference ran n=60k,
    where fragmentation appears at k=10)."""
    from .operators import graph, knn

    emb = load_table(spark, sf_dir, "embeddings")
    # eager checkpoint, not persist: the mutual aggregation and the
    # edge-length sums (twice) all consume the kNN build concurrently,
    # and persist lets the racing subtrees execute the mapInPandas
    # kernel more than once in one job (optimization round 14,
    # VERDICT r13 #1 — same fix as g4/a7). One kernel; every consumer
    # reads the materialized blocks.
    edges = knn.knn_edges(emb, k=3).select(
        "src", "dst", "dist"
    ).localCheckpoint(eager=True)
    mutual = graph.mutual_edges(edges)
    comp = graph.connected_components(
        mutual.withColumn("dist", F.lit(0.0)).withColumn("rank", F.lit(1)),
        emb,
        assume_symmetric=True,
    )
    # Per-node edge-length sums in exact micro-unit integers (1e-6):
    # floor-divided averages stay in integer space on both engines, so
    # every statistic is summation-order independent and bit-identical
    # to the oracle after the single final /1e6 (no rounding, which is
    # half-tie fragile across Spark's BigDecimal vs DuckDB's multiply
    # rounding).
    # lens is consumed twice (population head() + per-cluster join) but
    # stays unmaterialized on purpose: edges is checkpointed above, so
    # each recompute is one aggregate over the materialized blocks —
    # cheaper than another disk write of the same width
    lens = edges.groupBy("src").agg(
        F.sum(F.round(F.col("dist") * 1e6).cast("long")).alias("micro_sum"),
        F.count(F.lit(1)).alias("k"),
    ).withColumnRenamed("src", "vec_id")
    sizes = graph.component_sizes(comp)
    small = sizes.filter(F.col("n_nodes") <= 10)
    pop_row = lens.agg(
        F.sum("micro_sum").alias("s"), F.sum("k").alias("k")
    ).head()
    pop = float(pop_row["s"] // pop_row["k"]) / 1e6
    node_avg = F.floor(F.col("micro_sum") / F.col("k")).cast("long")
    per_cluster = (
        comp.join(small, on="component", how="left_semi")
        .join(lens, on="vec_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            (F.floor(F.sum("micro_sum") / F.sum("k")).cast("double") / 1e6
             ).alias("mean_edge_len"),
            (F.min(node_avg).cast("double") / 1e6).alias("min_edge_len"),
            (F.max(node_avg).cast("double") / 1e6).alias("max_edge_len"),
        )
        .withColumn("population_mean_edge_len", F.lit(pop))
    )
    return per_cluster


@register(
    "so3_hidden_overlap",
    oracle=_knn_cte(K)
    + f"""
, qc10 AS (
  SELECT e.vec_id, CAST(coalesce(c.cnt, 0) AS BIGINT) AS query_count
  FROM embeddings e
  LEFT JOIN (SELECT dst, count(*) AS cnt FROM edges GROUP BY dst) c ON e.vec_id = c.dst
),
h10 AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY query_count, vec_id) AS rn FROM qc10
  ) WHERE rn <= (SELECT CAST(count(*) * 0.1 AS INTEGER) FROM embeddings)
),
edges12 AS (
  SELECT src, dst FROM (
    SELECT src, dst, dist_sq,
           row_number() OVER (PARTITION BY src ORDER BY round_even(dist_sq * CAST(1000000.0 AS DOUBLE), 0), dst) AS rank
    FROM pairs
  ) WHERE rank <= {K + 2}
),
qc12 AS (
  SELECT e.vec_id, CAST(coalesce(c.cnt, 0) AS BIGINT) AS query_count
  FROM embeddings e
  LEFT JOIN (SELECT dst, count(*) AS cnt FROM edges12 GROUP BY dst) c ON e.vec_id = c.dst
),
h12 AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY query_count, vec_id) AS rn FROM qc12
  ) WHERE rn <= (SELECT CAST(count(*) * 0.1 AS INTEGER) FROM embeddings)
)
SELECT round(
  CAST((SELECT count(*) FROM h10 JOIN h12 USING (vec_id)) AS DOUBLE)
  / (SELECT count(*) FROM h10), 6) AS overlap
""",
)
def so3_hidden_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO3 (``t_vector/e3:83-95``): overlap of hidden-node sets between
    the k=10 and k=12 kNN graphs (the index-robustness study that
    justifies swapping HNSW for the exact graph — BASELINE.md reports
    0.88-0.99)."""
    from .operators import graph, knn

    emb = load_table(spark, sf_dir, "embeddings").persist()
    h10 = graph.hidden_nodes(
        knn.query_counts(knn.knn_edges(emb, k=K), emb), ratio=0.1
    ).select("vec_id")
    h12 = graph.hidden_nodes(
        knn.query_counts(knn.knn_edges(emb, k=K + 2), emb), ratio=0.1
    ).select("vec_id")
    inter = h10.join(h12, on="vec_id", how="inner").count()
    n = h10.count()
    return spark.createDataFrame([(round(inter / n, 6),)], "overlap double")


_QUALITY_CTE = (
    "WITH "
    + _TOKS_CTE
    + f""",
f AS (
  SELECT doc_id, lang,
    CAST(len(toks) AS INTEGER) AS n_tokens,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
    length(text) AS n_raw,
    {_lang_score_sql('en')} AS stop_hits
  FROM t JOIN documents USING (doc_id)
),
q AS (
  SELECT doc_id, lang,
    round(0.4 * least(n_tokens / 64.0, 1.0)
        + 0.3 * least(stop_hits / CAST(n_tokens AS DOUBLE) * 4, 1.0)
        + 0.3 * (1 - least(n_punct / CAST(greatest(n_raw, 1) AS DOUBLE) * 10, 1.0)), 6)
      AS quality_score
  FROM f
)"""
)


@register(
    "ext_quality_deciles",
    oracle=_QUALITY_CTE
    + """,
d AS (
  SELECT lang, quality_score,
         ntile(10) OVER (PARTITION BY lang ORDER BY quality_score, doc_id) AS decile
  FROM q
)
SELECT lang, CAST(decile AS INTEGER) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(quality_score), 6) AS avg_quality,
       round(min(quality_score), 6) AS min_quality,
       round(max(quality_score), 6) AS max_quality
FROM d GROUP BY lang, decile
""",
)
def ext_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score decile profile per language (extension): ntile
    bucketing over the heuristic quality score — the curation view
    that picks per-stratum quality cutoffs (e.g. keep top-7 deciles of
    each language) before mixing. The window is partitioned by
    language, so the sort is bounded per stratum and parallel across
    strata; output is 10 rows per language."""
    docs = load_table(spark, sf_dir, "documents")
    qf = text.quality_features(docs, keep=("lang",))
    w = Window.partitionBy("lang").orderBy("quality_score", "doc_id")
    d = qf.withColumn("decile", F.ntile(10).over(w))
    return d.groupBy("lang", "decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
        F.round(F.min("quality_score"), 6).alias("min_quality"),
        F.round(F.max("quality_score"), 6).alias("max_quality"),
    )


@register(
    "ext_corpus_profile",
    oracle="WITH "
    + _TOKS_CTE
    + _LANG_GUESS_CTES
    + """,
n AS (
  SELECT d.source, lg.lang_guess, CAST(len(t.toks) AS BIGINT) AS n_tokens
  FROM documents d JOIN t ON d.doc_id = t.doc_id
                   JOIN lg ON d.doc_id = lg.doc_id
)
SELECT source, lang_guess,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       round(avg(n_tokens), 3) AS avg_tokens,
       round(quantile_cont(n_tokens, 0.5), 3) AS p50_tokens,
       round(quantile_cont(n_tokens, 0.95), 3) AS p95_tokens
FROM n GROUP BY source, lang_guess
""",
)
def ext_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling rollup (the Deequ-style health dashboard a
    pipeline runs before/after every curation step): per (source,
    detected language) — document count, total/mean tokens, and exact
    p50/p95 token-length percentiles.

    One tokenization (materialized behind the repartition), one
    shuffle on the (source, lang) group key. The exact ``percentile``
    aggregate buffers one group's values per task — fine for any
    realistic source × language cardinality; at extreme group sizes
    the same profile comes from ``approx_percentile`` (the
    t-digest-style sketch tier) with everything else unchanged — the
    exact aggregate is the oracle-checkable tier (Spark and DuckDB
    ``quantile_cont`` both use linear interpolation)."""
    docs = load_table(spark, sf_dir, "documents")
    nparts = spark.sparkContext.defaultParallelism
    d = docs.select("doc_id", "source", text.tokens("text").alias("_toks")).repartition(
        nparts, "doc_id"
    )
    per_doc = d.select(
        "source",
        text.lang_id(toks=F.col("_toks")).alias("lang_guess"),
        F.size("_toks").cast("long").alias("n_tokens"),
    )
    return per_doc.groupBy("source", "lang_guess").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.round(F.avg("n_tokens"), 3).alias("avg_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.5)), 3).alias("p50_tokens"),
        F.round(F.percentile("n_tokens", F.lit(0.95)), 3).alias("p95_tokens"),
    )


@register(
    "ext_vocab_topk",
    oracle="WITH " + _TOKS_CTE + """,
u AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
  WHERE length(tok) > 0
),
f AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM u GROUP BY tok)
SELECT tok, df FROM f ORDER BY df DESC, tok LIMIT 50
""",
)
def ext_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: top-50 terms by document frequency — the
    corpus-level list that feeds stopword tables and the stop-shingle
    cap (``ngram_jaccard_near_dups(max_doc_freq=...)``). One explode +
    distinct + groupBy (all partial-aggregated map-side); the top-k is
    a TakeOrdered (per-partition heaps + driver merge of 50-row heads),
    never a global sort. Ties break lexicographically so the emitted
    set is deterministic cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        text.materialized_tokens(docs)
        .select("doc_id", F.explode("_toks").alias("tok"))
        .filter(F.length("tok") > 0)
        .distinct()
    )
    f = u.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return f.orderBy(F.col("df").desc(), "tok").limit(50)


@register(
    "rel_small_qty_revenue",
    oracle="""
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l1
WHERE l1.l_quantity < (
  SELECT 0.5 * avg(l2.l_quantity)
  FROM lineitem l2
  WHERE l2.l_partkey = l1.l_partkey
)
""",
)
def rel_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: a correlated scalar subquery (per-part average
    threshold), written through the engine's SQL surface. Catalyst
    decorrelates it into a per-part aggregate + equi-join — the plan a
    100 TB fact table needs (never a per-row subquery or nested-loop
    join; the plan test pins this). The fact-fact self-join shuffles
    once on ``l_partkey``; AQE splits any hot part."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q17_lineitem")
    return spark.sql(
        """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM q17_lineitem l1
WHERE l1.l_quantity < (
  SELECT 0.5 * avg(l2.l_quantity)
  FROM q17_lineitem l2
  WHERE l2.l_partkey = l1.l_partkey
)
"""
    )


# ----------------------------------------- round-5 pipeline operators

_DUP_W = 5  # window width for the duplicate-span queries


def _dup_span_ctes(w: int = _DUP_W) -> str:
    """Shared CTE chain: windows -> non-canonical occurrences ->
    merged spans -> per-doc aggregate (mirrors
    ``dedup.duplicate_spans`` stage for stage)."""
    return (
        _TOKS_CTE
        + f""",
wins AS (
  SELECT doc_id, CAST(i.i AS INTEGER) AS s,
         {_hash60_sql(f"array_to_string(toks[i.i : i.i + {w - 1}], ' ')")} AS whash
  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - {w} + 2)) AS i) i
  WHERE len(toks) >= {w}
),
dupocc AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s,
           row_number() OVER (PARTITION BY whash ORDER BY doc_id, s) AS rn
    FROM wins
  ) WHERE rn > 1
),
isl AS (
  SELECT doc_id, s,
         CASE WHEN s > coalesce(max(s + {w} - 1) OVER (
                  PARTITION BY doc_id ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS nw
  FROM dupocc
),
grp AS (
  SELECT doc_id, s, sum(nw) OVER (PARTITION BY doc_id ORDER BY s) AS g
  FROM isl
),
spans AS (
  SELECT doc_id, min(s) AS span_start, max(s + {w} - 1) AS span_end
  FROM grp GROUP BY doc_id, g
),
spanagg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY doc_id
)"""
    )


@register(
    "ext_dup_spans",
    oracle="WITH "
    + _dup_span_ctes()
    + """
SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       coalesce(a.n_spans, 0) AS n_spans,
       coalesce(a.dup_tokens, 0) AS dup_tokens,
       CAST(coalesce(a.dup_tokens, 0) AS DOUBLE) / len(t.toks) AS dup_ratio
FROM t LEFT JOIN spanagg a ON t.doc_id = a.doc_id
""",
)
def ext_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span profile (``dedup.duplicate_span_stats``): exact
    repeated w-token windows corpus-wide, first occurrence canonical,
    the rest merged into per-doc spans — the repeated-passage dedup
    pass document-level dedup cannot express. The oracle replays
    windows, the global occurrence ranking, the gaps-and-islands
    merge, and the per-doc rollup in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicate_span_stats(docs, w=_DUP_W)


@register(
    "ext_unigram_nll",
    oracle="WITH "
    + _TOKS_CTE
    + """,
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
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(e4) AS BIGINT) AS nll_e4_sum,
       sum(e4) / 10000.0 / count(*) AS avg_nll
FROM sc GROUP BY doc_id
""",
)
def ext_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (``text.unigram_nll_scores``): add-α
    corpus LM, per-doc mean −log2 p in integer 1e-4 buckets (order-free
    sums → partitioning-invariant and engine-replayable). The CCNet-
    style perplexity filter a curation pipeline thresholds on."""
    docs = load_table(spark, sf_dir, "documents")
    return text.unigram_nll_scores(docs)


@register(
    "ext_dup_clean",
    oracle="WITH "
    + _dup_span_ctes()
    + f""",
pos AS (
  SELECT doc_id, CAST(u.i AS INTEGER) AS p, toks[u.i] AS tok
  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) u
),
cov AS (
  SELECT DISTINCT doc_id, CAST(u.i AS INTEGER) AS p
  FROM spans, LATERAL (SELECT unnest(range(span_start, span_end + 1)) AS i) u
),
kept AS (SELECT pos.* FROM pos ANTI JOIN cov USING (doc_id, p)),
re AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_kept_tokens
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, coalesce(re.clean_text, '') AS clean_text,
       coalesce(re.n_kept_tokens, 0) AS n_kept_tokens
FROM t LEFT JOIN re USING (doc_id)
""",
)
def ext_dup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span REMOVAL (``dedup.remove_duplicate_spans``): the
    corpus rewritten with every repeated passage kept exactly once
    (canonical occurrence survives, later occurrences dropped). The
    oracle replays span detection and the anti-join + ordered rebuild,
    comparing the rewritten text byte for byte."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.remove_duplicate_spans(docs, w=_DUP_W)


@register(
    "stream_dedup_replay",
    oracle=f"""
SELECT DISTINCT {_hash60_sql(_NORM)} AS content_key FROM documents
""",
)
def stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion dedup graded end-to-end (``streaming`` tier
    of ``operators.dedup.exact_dedup``): the corpus PLUS a full
    duplicate copy (shifted doc_ids, identical text) is streamed
    through a file source one file per trigger into a stateful
    ``dropDuplicates`` on the normalized-content key, append-mode
    memory sink. The surviving key SET is arrival-order-independent,
    so the oracle is simply the batch distinct-key query — and the
    sink rows are returned WITHOUT re-deduplication: if streaming
    state ever re-admitted a key (or dropped one), the row count and
    hash would diverge. First-winner doc identity is deliberately not
    graded (it depends on file-discovery order)."""
    import os as _o
    import shutil

    from .functions.hashing import hash60

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.withColumn("doc_id", F.col("doc_id") + 10_000_000)
    from .registry_more import _scratch_dir

    scratch = _scratch_dir("stream_dedup", sf_dir)
    shutil.rmtree(scratch, ignore_errors=True)
    for b in range(3):
        (
            docs.unionByName(dup)
            .filter(F.pmod(F.col("doc_id"), F.lit(3)) == b)
            .coalesce(1)
            .write.mode("append")
            .parquet(scratch)
        )

    name = f"stream_dedup_sink_{_o.path.basename(sf_dir.rstrip('/')).replace('.', '_')}"
    spark.catalog.dropTempView(name)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(scratch)
    )
    keyed = stream.select(
        hash60(dedup.normalize_text("text")).alias("content_key")
    ).dropDuplicates(["content_key"])
    q = (
        keyed.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).select("content_key")


@register(
    "ext_importance_weights",
    oracle="WITH "
    + _TOKS_CTE
    + """,
u AS (
  SELECT doc_id, tok FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
  WHERE length(tok) > 0
),
vr AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY tok),
totr AS (SELECT CAST(sum(c) AS BIGINT) AS T, CAST(count(*) AS BIGINT) AS V FROM vr),
ut AS (
  SELECT u.doc_id, u.tok FROM u JOIN documents d ON u.doc_id = d.doc_id
  WHERE d.lang = 'en'
),
vt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM ut GROUP BY tok),
tott AS (SELECT CAST(sum(c) AS BIGINT) AS T, CAST(count(*) AS BIGINT) AS V FROM vt),
sc AS (
  SELECT u.doc_id,
    CAST(floor(-log2((vr.c + 0.5) / (totr.T + 0.5 * (totr.V + 1))) * 10000 + 0.5) AS BIGINT) AS re4,
    CAST(floor(-log2((coalesce(vt.c, 0) + 0.5) / (tott.T + 0.5 * (tott.V + 1))) * 10000 + 0.5) AS BIGINT) AS te4
  FROM u JOIN vr USING (tok) LEFT JOIN vt USING (tok)
       CROSS JOIN totr CROSS JOIN tott
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(re4) - sum(te4) AS BIGINT) AS logratio_e4,
       (sum(re4) - sum(te4)) / 10000.0 / count(*) AS avg_logratio
FROM sc GROUP BY doc_id
""",
)
def ext_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (``text.importance_weights``):
    target LM trained on the English slice, raw LM on the whole
    corpus; weight = per-doc NLL difference in integer 1e-4 units.
    The oracle replays both LMs (the target side with the OOV slot
    exercised — non-English tokens are absent from its vocab) and the
    exact integer differences."""
    docs = load_table(spark, sf_dir, "documents")
    return text.importance_weights(docs, docs.filter(F.col("lang") == "en"))


@register(
    "ext_bucketed_batches",
    oracle="WITH "
    + _TOKS_CTE
    + """,
d AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         """
    + _hash60_sql("'bb_7_' || CAST(doc_id AS VARCHAR)")
    + """ AS k
  FROM t
),
b AS (
  SELECT doc_id, n_tokens, k,
         CAST(k % 8 AS INTEGER) AS shard,
         CAST(ceil(n_tokens / 16.0) AS INTEGER) AS bucket
  FROM d
),
numbered AS (
  SELECT *, CAST((row_number() OVER (PARTITION BY shard, bucket ORDER BY k, doc_id) - 1) // 8 AS BIGINT) AS batch_idx
  FROM b
)
SELECT doc_id, shard, bucket, n_tokens, batch_idx,
       max(n_tokens) OVER wb AS batch_max_tokens,
       max(n_tokens) OVER wb - n_tokens AS pad_tokens
FROM numbered
WINDOW wb AS (PARTITION BY shard, bucket, batch_idx)
""",
)
def ext_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly (``packing.bucketed_batches``):
    similar-length documents batched together so padding is bounded by
    the bucket width. The oracle replays shard routing, bucketing, the
    per-(shard, bucket) numbering, and the per-batch max."""
    from .operators import packing

    docs = load_table(spark, sf_dir, "documents")
    return packing.bucketed_batches(
        docs, batch_size=8, bucket_width=16, n_shards=8, seed=7
    )


_HN_COS = """
list_sum(list_transform(range(1, 65), kk -> a.embedding[kk] * b.embedding[kk]))
/ (sqrt(list_sum(list_transform(range(1, 65), kk -> a.embedding[kk] * a.embedding[kk])))
 * sqrt(list_sum(list_transform(range(1, 65), kk -> b.embedding[kk] * b.embedding[kk]))))
"""


@register(
    "ext_hard_negatives",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS toks
  FROM documents WHERE doc_id < 300
),
tok AS (
  SELECT doc_id, u.tok FROM t, LATERAL unnest(toks) AS u(tok)
  WHERE length(u.tok) > 0
),
contrib AS (
  SELECT doc_id, CAST(j.j * 16 + kb.k AS INTEGER) AS dim,
         SUM(CAST('0x' || substr(md5(concat('enc_', j.j, '_', tok)), kb.k * 2 + 1, 2)
             AS BIGINT) - 128) AS s
  FROM tok,
       LATERAL (SELECT unnest(range(0, 4)) AS j) j,
       LATERAL (SELECT unnest(range(0, 16)) AS k) kb
  GROUP BY doc_id, dim
),
nrm AS (
  SELECT doc_id, sqrt(SUM(CAST(s AS DOUBLE) * s)) AS nn FROM contrib GROUP BY doc_id
),
vemb AS (
  SELECT c.doc_id,
         list(CASE WHEN n.nn = 0 THEN CAST(0 AS DOUBLE) ELSE c.s / n.nn END ORDER BY c.dim) AS embedding
  FROM contrib c JOIN nrm n USING (doc_id) GROUP BY c.doc_id
),
pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, {_HN_COS} AS cos
  FROM vemb a CROSS JOIN vemb b
  WHERE a.doc_id < 40 AND a.doc_id <> b.doc_id
),
cand AS (
  SELECT src, dst, cos,
         row_number() OVER (PARTITION BY src ORDER BY {_COS_RANK} DESC, dst) AS rn
  FROM pairs QUALIFY rn <= 10
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM t, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i)
  WHERE length(array_to_string(toks[i:i+2], ' ')) > 0
),
ssz AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.src, c.dst, count(*) AS ni
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.src
  JOIN sh s2 ON s2.doc_id = c.dst AND s2.shingle = s1.shingle
  GROUP BY c.src, c.dst
),
dup AS (
  SELECT i.src, i.dst
  FROM inter i JOIN ssz za ON za.doc_id = i.src JOIN ssz zb ON zb.doc_id = i.dst
  WHERE i.ni / CAST(za.nsh + zb.nsh - i.ni AS DOUBLE) >= 0.5
),
kept AS (
  SELECT c.src, c.dst, c.cos FROM cand c
  ANTI JOIN dup d ON c.src = d.src AND c.dst = d.dst
)
SELECT src, dst, round(cos, 6) AS cos_sim,
       CAST(row_number() OVER (PARTITION BY src ORDER BY {_COS_RANK} DESC, dst) AS INTEGER) AS rank
FROM kept
QUALIFY rank <= 5
""",
)
def ext_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (``relevance.hard_negatives``): per query
    doc, the 5 most cosine-similar corpus docs that are NOT near-
    duplicates (candidate top-10, exact-Jaccard filter at 0.5,
    re-rank). The oracle replays the deterministic encoder, the
    cosine fold, the candidate ranking, the pair-only Jaccard, and
    the final re-rank — the full embeddings→ANN→dedup-filter
    composition in one value-hashed query."""
    from .operators.relevance import hard_negatives

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    q = docs.filter(F.col("doc_id") < 40).select("doc_id")
    return hard_negatives(docs, q, k=5, jaccard_max=0.5, overfetch=2)


@register(
    "ext_char_entropy",
    oracle=f"""
WITH b AS (SELECT doc_id, {_NORM} AS t2 FROM documents),
ch AS (
  SELECT doc_id, length(t2) AS n_chars,
         substr(t2, CAST(i.i AS INTEGER), 1) AS c1
  FROM b, LATERAL (SELECT unnest(range(1, greatest(length(t2), 1) + 1)) AS i) i
  WHERE length(substr(t2, CAST(i.i AS INTEGER), 1)) > 0
),
cnt AS (SELECT doc_id, n_chars, c1, count(*) AS c FROM ch GROUP BY doc_id, n_chars, c1),
e AS (
  SELECT doc_id, n_chars,
         CAST(sum(floor((c / CAST(n_chars AS DOUBLE))
                        * (-log2(c / CAST(n_chars AS DOUBLE))) * 10000 + 0.5)) AS BIGINT) AS entropy_e4
  FROM cnt GROUP BY doc_id, n_chars
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, entropy_e4,
       entropy_e4 / 10000.0 AS entropy
FROM e
""",
)
def ext_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal (``text.char_entropy``):
    per-class 1e-4-bucketed Shannon terms summed as integers. The
    oracle replays the char explode, class counts, and bucketed
    terms."""
    docs = load_table(spark, sf_dir, "documents")
    return text.char_entropy(docs)
