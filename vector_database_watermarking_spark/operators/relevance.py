"""Relevance scoring over the documents corpus (north-star extension):
TF-IDF statistics and BM25 ranking — the inverted-index primitives a
training-data pipeline uses for query-based corpus curation (picking
documents relevant to a target domain) and retrieval-based eval.

Scale notes (100 TB design point): the term-frequency relation
(doc_id, term, tf) is the exploded token table aggregated once —
linear, shuffled by (doc_id, term). Document frequencies aggregate the
same relation by term (the vocabulary is tiny relative to the corpus,
and a `max_df` cap drops degenerate stop-terms before they form hot
keys). Scoring joins the query's terms — a handful of rows — broadcast
against the tf relation: no shuffle of the corpus at query time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens


def term_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf, dl): per-document term counts and document
    length in tokens — the base relation for TF-IDF and BM25."""
    toks = docs.select(
        "doc_id", F.explode(tokens(text_col)).alias("term")
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    return tf.join(dl, on="doc_id")


def doc_frequencies(tf: DataFrame) -> DataFrame:
    """(term, df): number of documents containing each term."""
    return tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """BM25 score of every document against a bag of query terms
    (Robertson/Sparck Jones; the standard idf = ln((N - df + 0.5) /
    (df + 0.5) + 1) variant Lucene uses).

    Returns (doc_id, n_hit_terms, score); documents containing none of
    the query terms are omitted (their score is 0). Deterministic:
    score is a sum over the matched query terms only, rounded by the
    caller for cross-engine ranking.

    The tf relation is persisted (consumed three times: avgdl action,
    match join, df join) and its blocks live until the caller runs
    ``spark.catalog.clearCache()`` or unpersists — a long-lived
    session scoring many query bags should clear between calls (the
    query registry does this per query).
    """
    tf = term_frequencies(docs, text_col).persist()  # consumed 3x
    n_docs = docs.count()
    avgdl_row = tf.select("doc_id", "dl").dropDuplicates(["doc_id"]).agg(
        F.avg("dl").alias("avgdl")
    ).head()
    # exact on both engines: integer token counts summed exactly, one
    # final division — safe to push back in as a literal
    avgdl = float(avgdl_row["avgdl"])
    qt = docs.sparkSession.createDataFrame(
        [(t,) for t in sorted(set(query_terms))], "term string"
    )
    matched = tf.join(F.broadcast(qt), on="term")
    df_ = doc_frequencies(tf).join(F.broadcast(qt), on="term")
    scored = matched.join(F.broadcast(df_), on="term")
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))
    )
    return (
        scored.withColumn("term_score", idf * tf_part)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hit_terms"),
            F.sum("term_score").alias("score"),
        )
    )


def corpus_split(
    docs: DataFrame,
    weights: dict[str, int] | None = None,
    salt: str = "split",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic content-keyed train/val/test split: the bucket is
    a pure function of (salt, normalized content), so the assignment
    survives re-ingestion, re-partitioning, and doc_id renumbering —
    and exact duplicates always land in the SAME split (no train/test
    leakage through dup pairs). ``weights`` are per-mille bucket
    widths summing to 1000 (default 800/100/100).
    """
    from ..functions.hashing import hash60
    from .dedup import normalize_text

    if weights is None:
        weights = {"train": 800, "val": 100, "test": 100}
    if sum(weights.values()) != 1000:
        raise ValueError("weights must sum to 1000 (per-mille)")
    bucket = F.pmod(
        hash60(F.concat(F.lit(salt + "_"), normalize_text(text_col))), F.lit(1000)
    )
    edges = []
    acc = 0
    for name, w in weights.items():
        acc += w
        edges.append((acc, name))
    expr = None
    for hi, name in reversed(edges):
        expr = (
            F.lit(name)
            if expr is None
            else F.when(bucket < hi, F.lit(name)).otherwise(expr)
        )
    return docs.select("doc_id", F.col(text_col), expr.alias("split")).select(
        "doc_id", "split"
    )


def hybrid_search(
    docs: DataFrame,
    query_terms: list[str],
    n_list: int = 100,
    k: int = 20,
    rrf_k: int = 60,
    text_col: str = "text",
) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranking and embedding-cosine
    semantic ranking fused by Reciprocal Rank Fusion
    (Cormack/Clarke/Buettcher '09: score = Σ 1/(rrf_k + rank)).

    The semantic side encodes the corpus AND the query bag with the
    engine's deterministic batch encoder (``operators.embedding``), so
    both retriever lists — and therefore the fusion — replay exactly
    in SQL. Both embeddings are unit-norm, so the dot product (a
    native sequential ``aggregate`` fold over ``zip_with``, matching
    DuckDB's ``list_sum`` order) IS the cosine.

    Scale shape: each retriever reduces to its top ``n_list`` via
    ``orderBy().limit()`` — a distributed TakeOrdered, never a global
    sort — and only the two ≤ n_list-row lists see rank windows (their
    single-partition cost is bounded by ``n_list``, not the corpus).
    The fusion join is trivially broadcast. Per-query work after
    scoring is O(n_list); corpus-side work is one BM25 pass (query
    terms broadcast against the tf relation) plus one encoder pass.

    Returns the top ``k`` fused rows:
    (doc_id, lex_rank, sem_rank, rrf_score) with null ranks for docs
    present in only one list.
    """
    from pyspark.sql import Window

    from .embedding import _default_model, embed_documents
    from .knn import rank_key

    def ranked(scored: DataFrame, key: Column, rank_name: str) -> DataFrame:
        top = (
            scored.withColumn("_s", key)
            .orderBy(F.col("_s").desc(), "doc_id")
            .limit(n_list)
        )
        # <= n_list rows post-limit; non-foldable pinned partition
        # (functions.windows), warning-free
        from ..functions.windows import one_partition

        w = Window.partitionBy(one_partition("doc_id")).orderBy(
            F.col("_s").desc(), "doc_id"
        )
        return top.withColumn(rank_name, F.row_number().over(w)).select(
            "doc_id", rank_name
        )

    lex = ranked(
        bm25_scores(docs, query_terms, text_col=text_col), F.round("score", 6), "lex_rank"
    )

    qv = [round(float(x), 6) for x in _default_model([list(query_terms)])[0]]
    qarr = F.array(*[F.lit(x) for x in qv])
    emb = embed_documents(docs, text_col=text_col)
    cos = F.aggregate(
        F.zip_with(
            F.transform(F.col("embedding"), lambda x: F.round(x, 6)),
            qarr,
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    sem = ranked(emb.select("doc_id", cos.alias("cos")), rank_key("cos"), "sem_rank")

    fused = lex.join(sem, on="doc_id", how="full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("sem_rank")), F.lit(0.0))
    return (
        fused.withColumn("rrf_score", rrf)
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(k)
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            F.round("rrf_score", 6).alias("rrf_score"),
        )
    )


def hard_negatives(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    jaccard_max: float = 0.5,
    overfetch: int = 2,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Hard-negative mining for retrieval/contrastive training: for
    each query document, the ``k`` most semantically similar corpus
    documents that are NOT near-duplicates of it — similar enough to
    be hard, distinct enough to be true negatives (a near-dup used as
    a negative poisons the contrastive objective; this is the
    standard mined-negatives + dedup-filter recipe).

    Pipeline (each stage an existing operator): deterministic batch
    embeddings → exact cosine top-(k·overfetch) candidates →
    exact n-gram Jaccard on the CANDIDATE PAIRS ONLY (never all
    pairs) → drop pairs with jaccard ≥ ``jaccard_max`` → re-rank,
    keep top k. ``queries`` is a (doc_id) relation selecting the
    query subset of ``docs``.

    Output: (src, dst, cos_sim, rank) — rank 1-based by descending
    rounded similarity, ties by dst.

    Scale shape: the encoder output is checkpointed (one encoder pass
    feeds both join sides); candidates come from the tiered cosine
    top-k (broadcast/blocked — no all-pairs shuffle); the Jaccard
    stage touches k·overfetch pairs per query, output-bound.
    """
    from pyspark.sql import Window

    from .dedup import jaccard_verify, word_shingles
    from .embedding import embed_documents
    from .knn import rank_key
    from .similarity import cosine_topk

    emb = (
        embed_documents(docs, text_col=text_col)
        .select(F.col("doc_id").alias("vec_id"), "embedding")
        .localCheckpoint(eager=True)
    )
    qe = emb.join(
        queries.select(F.col("doc_id").alias("vec_id")), on="vec_id", how="left_semi"
    )
    cands = cosine_topk(qe, emb, k=k * overfetch, exclude_self=True)
    sh = word_shingles(docs, n=n, text_col=text_col)
    dup = jaccard_verify(
        cands.select(F.col("src").alias("doc1"), F.col("dst").alias("doc2")),
        sh,
        threshold=jaccard_max,
    ).select(F.col("doc1").alias("src"), F.col("doc2").alias("dst"))
    negs = cands.join(dup, on=["src", "dst"], how="left_anti")
    w = Window.partitionBy("src").orderBy(rank_key("cos_sim").desc(), F.col("dst"))
    return (
        negs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "src",
            "dst",
            F.round("cos_sim", 6).alias("cos_sim"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
