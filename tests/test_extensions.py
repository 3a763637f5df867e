import pytest
from pyspark.sql import functions as F

from vector_database_watermarking_spark.operators import dedup, multimodal, similarity, text
from vector_database_watermarking_spark.sources.tables import load_table


def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_exact_dedup_finds_planted_duplicates(spark, sf_dir):
    d = docs(spark, sf_dir)
    base = d.count()
    dup = d.limit(20).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    merged = d.unionByName(dup)
    out = dedup.exact_dedup(merged)
    assert out.count() == base  # 20 dups collapse
    assert out.filter(F.col("n_copies") == 2).count() == 20
    # keeper is the original (smaller) id
    assert out.agg(F.max("keep_doc_id")).head()[0] < 1_000_000


def test_word_shingles_doc_id_uniqueness_contract(spark, sf_dir):
    """Pins word_shingles' documented contract (VERDICT r13 #7): the
    round-13 per-doc array_distinct assumes doc_id is unique per row —
    true for every corpus table. This test makes the boundary
    explicit: (a) for unique-doc_id input the output IS globally
    distinct per (doc_id, shingle), the property count-based consumers
    (ngram_novelty's gram counts, jaccard set sizes) rely on; (b) for
    duplicated-doc_id input the per-doc dedup emits repeated pairs —
    but the min-aggregating MinHash consumer is idempotent under
    duplicates, so signatures still equal the relation-wide-distinct
    formulation. A future table with duplicate doc_ids must pre-merge
    rows (or consumers must re-distinct) — if someone 'fixes' the
    operator instead, (a) or (b) fails and points here."""
    d = docs(spark, sf_dir).limit(30)
    # (a) unique doc_id rows -> globally distinct output pairs
    sh = dedup.word_shingles(d, n=3)
    assert sh.count() == sh.distinct().count()

    # (b) duplicated doc_id rows (same id, overlapping texts): pairs
    # repeat across the duplicate rows...
    dup = d.limit(5).withColumn(
        "text", F.concat(F.col("text"), F.lit(" tail tail tail"))
    )
    merged = d.unionByName(dup)
    sh_dup = dedup.word_shingles(merged, n=3).persist()
    assert sh_dup.count() > sh_dup.distinct().count()
    # ...and the min-agg MinHash consumer absorbs them: signatures
    # over the raw pair stream == signatures over the distinct set
    sig_raw = {
        r["doc_id"]: tuple(r["sig"])
        for r in dedup.minhash_signatures(sh_dup, num_hashes=8).collect()
    }
    sig_distinct = {
        r["doc_id"]: tuple(r["sig"])
        for r in dedup.minhash_signatures(
            sh_dup.distinct(), num_hashes=8
        ).collect()
    }
    sh_dup.unpersist()
    assert sig_raw == sig_distinct


def test_minhash_lsh_finds_planted_near_dups(spark, sf_dir):
    d = docs(spark, sf_dir)
    # plant: copy 10 docs with one word changed
    clones = (
        d.limit(10)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra")))
    )
    merged = d.unionByName(clones)
    sh = dedup.word_shingles(merged, n=3).persist()
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, rows_per_band=2)
    cand = dedup.lsh_candidate_pairs(bands)
    verified = dedup.jaccard_verify(cand, sh, threshold=0.5)
    pairs = {(r["doc1"], r["doc2"]) for r in verified.collect()}
    found = sum(1 for i in range(10) if (i, i + 1_000_000) in pairs)
    assert found >= 8, f"LSH found only {found}/10 planted near-dups"


def test_simhash_near_dups_on_planted(spark, sf_dir):
    d = docs(spark, sf_dir)
    clones = (
        d.limit(10)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zzz")))
    )
    merged = d.unionByName(clones)
    sig = dedup.simhash(merged, bits=32)
    pairs = {
        (r["doc1"], r["doc2"])
        for r in dedup.simhash_near_dups(sig, max_hamming=3, bits=32).collect()
    }
    found = sum(1 for i in range(10) if (i, i + 1_000_000) in pairs)
    assert found >= 7, f"simhash found only {found}/10"


def test_cosine_topk_matches_numpy(spark, sf_dir):
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = Xn @ Xn.T
    np.fill_diagonal(cos, -np.inf)
    out = similarity.cosine_topk(emb.filter(F.col("vec_id") < 20), emb, k=3)
    got = {}
    for r in out.collect():
        got.setdefault(r["src"], []).append((r["rank"], r["dst"]))
    for i in range(20):
        order = np.lexsort((ids, -np.round(cos[i], 6)))[:3]
        assert [d for _, d in sorted(got[i])] == [int(ids[j]) for j in order]


def test_ivf_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 50)
    exact = {
        (r["src"], r["dst"])
        for r in similarity.cosine_topk(q, emb, k=5).collect()
    }
    assigned, centroids = similarity.ivf_build(emb, n_clusters=8, seed=42)
    approx = {
        (r["src"], r["dst"])
        for r in similarity.ivf_search_fixed(q, assigned, centroids, k=5, nprobe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall > 0.5, recall


def test_lang_id_values(spark, sf_dir):
    out = docs(spark, sf_dir).select(text.lang_id("text").alias("g")).distinct().collect()
    vals = {r["g"] for r in out}
    assert vals <= {"en", "fr", "de", "es", "und"}


def test_multimodal_auto_tier_decodes_wav_and_quarantines_rest(spark):
    """The auto tier really decodes WAV via the stdlib codec, returns
    decoded=false (not an error) for payloads no codec handles, and
    its byte statistics agree exactly with the fake tier."""
    import io
    import struct
    import wave as wavmod

    buf = io.BytesIO()
    with wavmod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<16h", *range(16)))
    media = spark.createDataFrame(
        [
            (1, bytearray(buf.getvalue())),
            (2, bytearray(b"plain text payload, no codec")),
            (3, bytearray(b"RIFF....WAVEgarbage-not-a-real-wav")),
        ],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    assert multimodal.codecs_available()["audio_wav"]
    assert rows[1]["decoded"] and rows[1]["codec"] == "wav"
    assert rows[1]["sample_rate"] == 8000 and rows[1]["n_samples"] == 16
    assert rows[1]["format"] == "riff"
    assert not rows[2]["decoded"] and rows[2]["codec"] is None
    assert not rows[3]["decoded"]  # corrupt header quarantined, no crash
    fake = {
        r["media_id"]: r
        for r in multimodal.extract_features(media, fake=True).collect()
    }
    for mid in (1, 2, 3):
        assert rows[mid]["n_bytes"] == fake[mid]["n_bytes"]
        assert rows[mid]["byte_mean"] == fake[mid]["byte_mean"]
        assert rows[mid]["byte_std"] == fake[mid]["byte_std"]


def test_multimodal_image_decode_stdlib_bmp_ppm(spark):
    """The image path is exercisable WITHOUT Pillow: uncompressed BMP
    and PNM headers parse via stdlib struct/bytes, corrupt ones
    quarantine. (The Pillow test below stays the compressed-format
    sibling.)"""
    import struct

    # minimal 2x3 24-bit BMP: file header (14) + BITMAPINFOHEADER (40)
    bmp = (
        b"BM"
        + struct.pack("<IHHI", 54, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 3, 1, 24, 0, 0, 0, 0, 0, 0)
    )
    ppm = b"P6\n# a comment\n7 4\n255\n" + b"\x00" * (7 * 4 * 3)
    pgm_ascii = b"P2 5 9 255\n" + b"0 " * 45
    media = spark.createDataFrame(
        [
            (1, bytearray(bmp)),
            (2, bytearray(ppm)),
            (3, bytearray(pgm_ascii)),
            (4, bytearray(b"BMnot-actually-a-bitmap-header")),
        ],
        "media_id long, payload binary",
    )
    assert multimodal.codecs_available()["image_simple"]
    rows = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    assert rows[1]["decoded"] and rows[1]["codec"] == "image/bmp"
    assert (rows[1]["width"], rows[1]["height"]) == (2, 3)
    assert rows[2]["decoded"] and rows[2]["codec"] == "image/ppm"
    assert (rows[2]["width"], rows[2]["height"]) == (7, 4)
    assert rows[3]["decoded"] and rows[3]["codec"] == "image/pgm"
    assert (rows[3]["width"], rows[3]["height"]) == (5, 9)
    assert not rows[4]["decoded"]  # corrupt BMP header quarantined


def test_multimodal_image_decode_where_pillow_exists(spark):
    """Image decode upgrades itself when Pillow is installed; skipped
    (honestly) in codec-free containers."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (5, 3)).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "media_id long, payload binary"
    )
    r = multimodal.extract_features(media).head()
    assert r["decoded"] and r["codec"] == "image/png"
    assert (r["width"], r["height"]) == (5, 3)


def test_multimodal_frames_auto_tier_decodes_wav(spark):
    """Auto frame tier: WAV payloads yield sample-aligned PCM windows
    via the stdlib codec; codec-less payloads yield no rows
    (quarantine by omission)."""
    import io
    import struct
    import wave as wavmod

    buf = io.BytesIO()
    with wavmod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<64h", *range(64)))
    media = spark.createDataFrame(
        [(1, bytearray(buf.getvalue())), (2, bytearray(b"no codec for this"))],
        "media_id long, payload binary",
    )
    rows = multimodal.sample_frames(media, n_frames=4, frame_bytes=16).collect()
    assert {r["media_id"] for r in rows} == {1}  # doc 2 quarantined
    assert len(rows) == 4
    pcm = struct.pack("<64h", *range(64))
    for r in rows:
        frame = bytes(r["frame"])
        assert len(frame) == 16 and len(frame) % 2 == 0  # sample-aligned
        assert frame in pcm  # really slices of the decoded PCM stream
    # first window starts at the stream head
    first = min(rows, key=lambda r: r["frame_idx"])
    assert bytes(first["frame"]) == pcm[:16]


def test_multimodal_fake_features_and_frames(spark, sf_dir):
    d = docs(spark, sf_dir)
    media = multimodal.attach_fake_payload(d)
    feats = multimodal.extract_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == d.count()
    r0 = {r["media_id"]: r for r in rows}[0]
    assert r0["n_bytes"] > 0 and 0 < r0["byte_mean"] < 255
    assert isinstance(r0["header"], (bytes, bytearray))
    frames = multimodal.sample_frames(media, n_frames=4, frame_bytes=16, fake=True)
    f = frames.filter(F.col("media_id") == 0).collect()
    assert len(f) == 4
    assert all(len(r["frame"]) <= 16 for r in f)


def test_streaming_windowed_counts(spark, sf_dir, tmp_path):
    """Structured Streaming end-to-end: file source → event-time window
    + watermark → memory sink; totals match the batch plan."""
    from vector_database_watermarking_spark.streaming.windows import (
        run_to_memory_sink,
        stream_events_from_files,
        windowed_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "events_stream")
    ev.repartition(3).write.mode("overwrite").parquet(src_dir)

    stream = stream_events_from_files(spark, src_dir, max_files_per_trigger=1)
    agg = windowed_counts(stream, window="1 day", watermark="2 days")
    run_to_memory_sink(agg, "win_counts", timeout_sec=120)
    got = spark.sql("SELECT sum(n_events) FROM win_counts").head()[0]
    assert got == ev.count()
    batch = windowed_counts(ev, window="1 day")
    assert batch.agg(F.sum("n_events")).head()[0] == ev.count()
    n_windows_stream = spark.sql("SELECT count(*) FROM win_counts").head()[0]
    assert n_windows_stream == batch.count()


def test_stateful_streaming_sessionization(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionization: closed sessions from the
    stream must match the batch sessionizer for sessions that are
    provably closed by later events."""
    from vector_database_watermarking_spark.registry_more import ext_events_sessions
    from vector_database_watermarking_spark.streaming.sessions import sessionize_stream
    from vector_database_watermarking_spark.streaming.windows import (
        EVENTS_SCHEMA,
        stream_events_from_files,
    )
    from vector_database_watermarking_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "ev_sessions")
    ev.orderBy("ts").coalesce(1).write.mode("overwrite").parquet(src_dir)

    stream = stream_events_from_files(spark, src_dir, max_files_per_trigger=1)
    out = sessionize_stream(stream, watermark="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = [
        (r["user_id"], r["n_events"])
        for r in spark.sql(
            "SELECT user_id, n_events FROM sessions_stream"
        ).collect()
    ]
    batch = ext_events_sessions(spark, sf_dir)
    # the stream only emits *closed* sessions: every emitted session
    # must exist in the batch result, and most batch sessions
    # (all but each user's final one) must be emitted
    batch_rows = [(r["user_id"], r["n_events"]) for r in batch.collect()]
    from collections import Counter

    batch_count = Counter(batch_rows)
    got_count = Counter(got)
    for key, n in got_count.items():
        assert batch_count[key] >= n, f"stream emitted session not in batch: {key}"
    n_users = batch.select("user_id").distinct().count()
    assert sum(got_count.values()) >= len(batch_rows) - n_users


def test_approx_distinct_within_bounds(spark, sf_dir):
    from vector_database_watermarking_spark.registry_more import ext_approx_distinct

    rows = ext_approx_distinct(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["exact_distinct"] > 0, r
        assert r["within_rsd"], r


def test_streaming_watermark_detection(spark, sf_dir, tmp_path):
    """Streaming detection (A1/A2 over a file stream) decodes the same
    bitstring as the batch native tier."""
    from vector_database_watermarking_spark.functions.hashing import key_dims
    from vector_database_watermarking_spark.operators.grouping import (
        classify,
        decode_bitstring,
    )
    from vector_database_watermarking_spark.streaming.detection import (
        run_detection_stream,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    src = str(tmp_path / "emb_stream")
    emb.repartition(4).write.mode("overwrite").parquet(src)
    L = 7
    got = run_detection_stream(spark, src, L=L, d=64, seed=20, table_name="wmc_t")
    expect = decode_bitstring(classify(emb, key_dims(64, 20), L=L, d=64), L)
    assert got == expect
    assert len(got) == L


def test_streaming_dedup_drops_duplicate_deliveries(spark, sf_dir, tmp_path):
    """An at-least-once stream (every file delivered twice) dedups to
    exactly the distinct event_id count across MULTIPLE micro-batches:
    the watermark horizon covers the fixture's full time span, so the
    dedup state — not the late-data filter — must absorb duplicates."""
    from vector_database_watermarking_spark.streaming.dedup import run_dedup_stream

    events = load_table(spark, sf_dir, "events")
    n_distinct = events.select("event_id").distinct().count()
    src = str(tmp_path / "events_stream")
    events.repartition(3).write.mode("overwrite").parquet(src)
    # duplicate delivery: same rows again as new files
    events.repartition(4).write.mode("append").parquet(src)
    got = run_dedup_stream(
        spark, src, key_cols=("event_id",), table_name="dd_t",
        watermark="3650 days", max_files_per_trigger=1,
    )
    assert got == n_distinct


def test_streaming_dedup_replay_loses_nothing(spark, sf_dir, tmp_path):
    """Replay safety regression: a single delivery of historical data
    (no duplicates) must survive dedup in full — the default
    one-micro-batch mode can't advance the watermark between files and
    misclassify old rows as late."""
    from vector_database_watermarking_spark.streaming.dedup import run_dedup_stream

    events = load_table(spark, sf_dir, "events")
    n = events.count()
    src = str(tmp_path / "events_replay")
    events.repartition(4).write.mode("overwrite").parquet(src)
    got = run_dedup_stream(spark, src, key_cols=("event_id",), table_name="dd_r")
    assert got == n


def test_ngram_jaccard_exact_vs_minhash_and_capping(spark, sf_dir):
    """Exact inverted-index Jaccard must contain every MinHash+LSH
    verified pair (LSH can only miss); the stop-shingle-capped path
    must emit a subset of the exact pairs with identical jaccard
    values (capping prunes candidates, never distorts scores)."""
    d = docs(spark, sf_dir)
    exact = {
        (r["doc1"], r["doc2"]): round(r["jaccard"], 6)
        for r in dedup.ngram_jaccard_near_dups(d, threshold=0.5).collect()
    }
    sh = dedup.word_shingles(d, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=8)
    bands = dedup.lsh_bands(sig, rows_per_band=2, num_hashes=8)
    cand = dedup.lsh_candidate_pairs(bands)
    minhash = {
        (r["doc1"], r["doc2"])
        for r in dedup.jaccard_verify(cand, sh, threshold=0.5).collect()
    }
    assert minhash <= set(exact)
    # cap BELOW the max shingle doc-frequency (9 in this fixture) so
    # the stop-shingle semi-join actually prunes candidate generation
    capped = {
        (r["doc1"], r["doc2"]): round(r["jaccard"], 6)
        for r in dedup.ngram_jaccard_near_dups(
            d, threshold=0.5, max_doc_freq=5
        ).collect()
    }
    assert set(capped) <= set(exact)
    for pair, j in capped.items():
        assert j == exact[pair], pair


def test_ivf_fixed_recall_vs_exact(spark, sf_dir):
    """The deterministic (oracle-checkable) IVF tier must keep useful
    recall vs brute force, like the KMeans tier."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 30)
    exact = {
        (r["src"], r["dst"])
        for r in similarity.cosine_topk(q, emb, k=5).collect()
    }
    assigned, centroids = similarity.ivf_build_fixed(emb, n_clusters=8)
    approx = {
        (r["src"], r["dst"])
        for r in similarity.ivf_search_fixed(q, assigned, centroids, k=5, nprobe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall > 0.5, recall


def test_emb_near_dups_lsh_no_all_pairs_and_recall(spark, sf_dir):
    """The bucketed embedding near-dup tier must generate candidates
    via band equi-joins (no cartesian/broadcast-nested-loop join) and
    recover most brute-force pairs."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.emb_near_dups_lsh(emb, threshold=0.4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    brute = {
        (r["src"], r["dst"])
        for r in similarity.cosine_near_dups(emb, threshold=0.4).collect()
    }
    got = {(r["src"], r["dst"]) for r in out.collect()}
    assert got <= brute or not brute  # verified pairs are always true pairs
    if brute:
        assert len(got & brute) / len(brute) >= 0.5, (len(got), len(brute))


def test_repetition_features_hand_computed(spark):
    rows = [
        (1, "a a a b"),          # 4 toks, 2 distinct, top=3; bigrams: aa,aa,ab -> 3, 2 distinct
        (2, "x y z"),            # all distinct, top=1; bigrams xy,yz distinct
        (3, "w"),                # single token, no bigrams
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.repetition_features(df).collect()}
    assert out[1]["n_tokens"] == 4
    assert out[1]["distinct_ratio"] == 0.5
    assert out[1]["top_unigram_frac"] == 0.75
    assert out[1]["dup_bigram_frac"] == round(1 - 2 / 3, 6)
    assert out[2]["distinct_ratio"] == 1.0
    assert out[2]["top_unigram_frac"] == round(1 / 3, 6)
    assert out[2]["dup_bigram_frac"] == 0.0
    assert out[3]["n_tokens"] == 1
    assert out[3]["top_unigram_frac"] == 1.0
    assert out[3]["dup_bigram_frac"] == 0.0


def test_pii_features_counts_and_redaction(spark):
    rows = [
        (1, "mail me at bob.smith+x@corp.example.org today"),
        (2, "server 192.168.10.25 and 10.0.0.1 up"),
        (3, "call +1 555-123-4567 or 555 987-6543"),
        (4, "clean text with no identifiers"),
        (5, "Contact John.Doe@Example.COM now"),  # mixed case (r12 fix)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.pii_features(df).collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (1, 0, 0)
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 2, 0)
    assert (out[3]["n_email"], out[3]["n_ipv4"], out[3]["n_phone"]) == (0, 0, 2)
    assert (out[4]["n_email"], out[4]["n_ipv4"], out[4]["n_phone"]) == (0, 0, 0)
    # mixed-case PII is detected AND redacted (the old lowercase-only
    # patterns leaked it entirely)
    assert (out[5]["n_email"], out[5]["n_ipv4"], out[5]["n_phone"]) == (1, 0, 0)
    assert out[5]["redacted_len"] == len("Contact [PII] now")
    # redaction shrinks/replaces matches: doc 4 untouched, others changed
    assert out[4]["redacted_len"] == len(rows[3][1])
    assert out[1]["redacted_len"] == len("mail me at [PII] today")
    assert out[2]["redacted_len"] == len("server [PII] and [PII] up")


def test_repetition_no_shuffle_plan(spark, sf_dir):
    plan = text.repetition_features(docs(spark, sf_dir))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pii_no_shuffle_plan(spark, sf_dir):
    plan = text.pii_features(docs(spark, sf_dir))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_streaming_curation_dedup_and_gates(spark, sf_dir, tmp_path):
    import datetime as dt

    from vector_database_watermarking_spark.streaming.curation import curate_stream

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    good = "the quick brown fox jumps over the lazy dog and that is fine"
    batch1 = [
        (1, good, "en", t0),
        (2, "spam spam spam spam spam spam spam spam", "en", t0),  # degenerate
        (3, "a solid piece of text that is long enough to pass the gate and "
            "contains the usual mix of common words in a sentence", "en", t0),
    ]
    batch2 = [
        (4, good, "en", t0 + dt.timedelta(minutes=5)),  # exact dup of doc 1
        (5, "another reasonable document with the normal spread of words that "
            "is in no way repetitive or degenerate", "en", t0 + dt.timedelta(minutes=5)),
    ]
    schema = "doc_id long, text string, lang string, ts timestamp"
    src = str(tmp_path / "docs_stream")
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    curated = curate_stream(stream, watermark="1 hour", min_quality=0.4,
                            max_top_unigram=0.6)
    q = (
        curated.writeStream.format("memory")
        .queryName("curated_docs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = {r["doc_id"]: r for r in spark.sql("select * from curated_docs").collect()}

    assert 2 not in rows  # repetition gate (top unigram 8/8)
    assert 4 not in rows or 1 not in rows  # content dedup keeps one copy
    assert 3 in rows and 5 in rows  # clean docs survive
    survivors = set(rows)
    assert len(survivors & {1, 4}) == 1
    # features present and sane on a survivor
    r = rows[3]
    assert r["n_tokens"] > 10 and 0 <= r["quality_score"] <= 1
    assert r["top_unigram_frac"] <= 0.6


def test_near_dup_clusters_planted_transitive(spark):
    """A≈B and B≈C (but A,C further apart) must land in ONE cluster —
    the transitivity the pair list alone can't express — with the
    smallest id canonical; unrelated docs stay singletons."""
    base = "the quick brown fox jumps over the lazy dog near the old river bank every sunny morning"
    rows = [
        (1, base),
        (2, base + " indeed"),                       # ≈ 1
        (3, base + " indeed truly"),                 # ≈ 2 (and 1, transitively)
        (10, "completely different content about spark catalyst optimizer plans and shuffles today"),
        (11, "yet another unrelated document discussing duckdb oracle parity and hashing"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.near_dup_clusters(df, threshold=0.5).collect()}
    assert len(out) == 5  # one row per input doc
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"] == 1
    assert out[1]["cluster_size"] == 3
    assert out[1]["is_canonical"] and not out[2]["is_canonical"] and not out[3]["is_canonical"]
    for d_id in (10, 11):
        assert out[d_id]["cluster_id"] == d_id
        assert out[d_id]["cluster_size"] == 1
        assert out[d_id]["is_canonical"]


def test_near_dup_clusters_tier_equivalence(spark, monkeypatch):
    """The driver union-find tier and the distributed label-propagation
    tier of the components closure must produce identical clusters —
    forcing the scale tier by zeroing the broadcast cap."""
    from vector_database_watermarking_spark.operators import knn

    base = "the quick brown fox jumps over the lazy dog near the old river bank every sunny morning"
    rows = [
        (1, base),
        (2, base + " indeed"),
        (3, base + " indeed truly"),
        (10, "completely different content about spark catalyst optimizer plans and shuffles today"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fast = sorted(map(tuple, dedup.near_dup_clusters(df, threshold=0.5).collect()))
    monkeypatch.setattr(knn, "MAX_BROADCAST_ROWS", 0)
    slow = sorted(map(tuple, dedup.near_dup_clusters(df, threshold=0.5).collect()))
    assert fast == slow


def test_near_dup_clusters_quality_policy(spark):
    """With a quality relation, the canonical copy is the highest-
    quality cluster member, not the smallest id."""
    base = "the quick brown fox jumps over the lazy dog near the old river bank every sunny morning"
    df = spark.createDataFrame(
        [(1, base), (2, base + " indeed"), (9, "something else entirely about benchmarks and joins")],
        ["doc_id", "text"],
    )
    quality = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (9, 0.5)], ["doc_id", "quality"]
    )
    out = {r["doc_id"]: r for r in dedup.near_dup_clusters(df, threshold=0.5, quality=quality).collect()}
    assert not out[1]["is_canonical"] and out[2]["is_canonical"]
    assert out[9]["is_canonical"]
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == 1


def test_pack_sequences_layout_invariants(spark):
    """Per-shard token streams are contiguous (each doc starts where
    the previous ended), chunk arithmetic is consistent, and the
    assignment is invariant to input partitioning."""
    from vector_database_watermarking_spark.operators import packing

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(5 + (i * 7) % 23))) for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    seq_len = 16
    out = packing.pack_sequences(df, seq_len=seq_len, n_shards=4, seed=7).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(out) == 60
    for shard, docs_ in by_shard.items():
        docs_.sort(key=lambda r: r["start_tok"])
        pos = 0
        for r in docs_:
            assert r["start_tok"] == pos  # contiguous stream
            assert r["begin_seq"] == pos // seq_len
            assert r["end_seq"] == (pos + r["n_tokens"] - 1) // seq_len
            assert r["offset_in_seq"] == pos % seq_len
            pos += r["n_tokens"]
    # partitioning-invariance: same assignment from a repartitioned input
    again = packing.pack_sequences(df.repartition(7), seq_len=seq_len, n_shards=4, seed=7).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_packing_stats_fill_ratio(spark):
    from vector_database_watermarking_spark.operators import packing

    rows = [(i, " ".join(f"w{j}" for j in range(10))) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    packed = packing.pack_sequences(df, seq_len=32, n_shards=2, seed=7)
    stats = {r["shard"]: r for r in packing.packing_stats(packed, seq_len=32).collect()}
    assert sum(r["n_docs"] for r in stats.values()) == 40
    for r in stats.values():
        assert 0 < r["fill_ratio"] <= 1.0
        # fill ratio is exactly tokens / (seqs * seq_len)
        assert r["fill_ratio"] == round(r["n_tokens"] / (r["n_seqs"] * 32), 6)


def test_incremental_dedup_statuses(spark, sf_dir):
    d = docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") < 400)
    # batch: one exact re-ingest, one near-dup (a word appended), one
    # genuinely new doc; ids deliberately COLLIDE with corpus ids to
    # prove the operator never keys across sides by doc_id
    exact = corpus.limit(1).select(F.lit(7).alias("doc_id"), "text")
    near = (
        corpus.filter(F.col("doc_id") == 42)
        .select(F.lit(8).alias("doc_id"), F.concat("text", F.lit(" tail")).alias("text"))
    )
    fresh = spark.createDataFrame(
        [(9, "zq xv qj zzq totally novel content never seen " * 5)],
        ["doc_id", "text"],
    )
    batch = exact.unionByName(near).unionByName(fresh)
    out = {
        r["doc_id"]: r
        for r in dedup.incremental_dedup(corpus, batch, threshold=0.5).collect()
    }
    assert len(out) == 3
    assert out[7]["status"] == "exact_dup"
    assert out[7]["match_doc_id"] == corpus.limit(1).head()["doc_id"]
    assert out[7]["jaccard"] is None
    assert out[8]["status"] == "near_dup"
    assert out[8]["match_doc_id"] == 42
    # exact-value check: the reported jaccard must equal the true
    # pair jaccard computed under collision-FREE ids (guards against
    # size relations keyed across sides by doc_id)
    sh = dedup.word_shingles(
        corpus.filter(F.col("doc_id") == 42)
        .select("doc_id", "text")
        .unionByName(near.select(F.lit(10042).alias("doc_id"), "text")),
        n=3,
    )
    true_j = dedup.jaccard_verify(
        spark.createDataFrame([(42, 10042)], ["doc1", "doc2"]), sh
    ).head()["jaccard"]
    assert 0.5 <= out[8]["jaccard"] <= 1.0
    assert abs(out[8]["jaccard"] - true_j) < 1e-12
    assert out[9]["status"] == "unique"
    assert out[9]["match_doc_id"] is None and out[9]["jaccard"] is None


def test_embed_documents_normalization_and_pluggability(spark, sf_dir):
    import numpy as np
    from vector_database_watermarking_spark.operators import embedding

    d = docs(spark, sf_dir).limit(50)
    rows = embedding.embed_documents(d).collect()
    assert len(rows) == 50
    for r in rows[:10]:
        v = np.array(r["embedding"])
        assert v.shape == (64,)
        assert abs(np.linalg.norm(v) - 1.0) < 1e-9
    # partitioning-invariance (integer-domain sums -> exact equality)
    again = embedding.embed_documents(d.repartition(7)).collect()
    assert {r["doc_id"]: r["embedding"] for r in again} == {
        r["doc_id"]: r["embedding"] for r in rows
    }
    # token-less docs yield no row
    with_empty = d.unionByName(
        spark.createDataFrame([(999999, "   ")], ["doc_id", "text"]).select(
            "doc_id", "text", *[F.lit(None).cast(t.dataType).alias(t.name)
                                for t in d.schema if t.name not in ("doc_id", "text")]
        )
    )
    out = embedding.embed_documents(with_empty)
    assert out.filter(F.col("doc_id") == 999999).count() == 0
    # a custom model_fn slots in (constant encoder)
    def toy(token_lists):
        return np.ones((len(token_lists), 3))
    toy_rows = embedding.embed_documents(d, model_fn=toy, d=3).head(2)
    assert all(list(r["embedding"]) == [1.0, 1.0, 1.0] for r in toy_rows)


def test_streaming_ingest_dedup_matches_batch(spark, sf_dir, tmp_path):
    from vector_database_watermarking_spark.operators import dedup
    from vector_database_watermarking_spark.streaming import ingest
    from vector_database_watermarking_spark.functions.hashing import hash60

    d = docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    batch = d.filter(F.col("doc_id") % 5 == 0).unionByName(
        # re-ingest two corpus docs verbatim so exact_dup fires
        corpus.limit(2).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )

    # per-row native signature == batch explode-groupBy signature
    sh = dedup.word_shingles(corpus, n=3)
    batch_sig = {
        r["doc_id"]: list(r["sig"])
        for r in dedup.minhash_signatures(sh, num_hashes=8).collect()
    }
    row_sig = {
        r["doc_id"]: list(r["s"])
        for r in corpus.select(
            "doc_id", ingest.row_minhash(ingest.shingle_array("text"), 8).alias("s")
        ).collect()
    }
    assert row_sig == batch_sig

    corpus_keys = (
        corpus.withColumn("content_key", hash60(dedup.normalize_text("text")))
        .groupBy("content_key")
        .agg(F.min("doc_id").alias("match_doc_id"))
    )
    corpus_bands = dedup.lsh_bands(
        dedup.minhash_signatures(sh, num_hashes=8), rows_per_band=2, num_hashes=8
    )

    stream_dir = str(tmp_path / "docstream")
    batch.write.parquet(stream_dir)
    doc_stream = spark.readStream.schema(batch.schema).parquet(stream_dir)

    for q, name in [
        (ingest.ingest_exact_dedup_stream(doc_stream, corpus_keys), "ing_exact"),
        (
            ingest.ingest_band_candidates_stream(doc_stream, corpus_bands),
            "ing_cand",
        ),
    ]:
        s = q.writeStream.format("memory").queryName(name).outputMode("append").start()
        try:
            s.processAllAvailable()
        finally:
            s.stop()

    exact = {r["doc_id"]: r for r in spark.sql("SELECT * FROM ing_exact").collect()}
    assert len(exact) == batch.count()
    re_ingested = [k for k in exact if k >= 1_000_000]
    assert len(re_ingested) == 2
    for k in re_ingested:
        assert exact[k]["status"] == "exact_dup"
        assert exact[k]["match_doc_id"] == k - 1_000_000
    assert all(
        v["status"] == "unknown" for k, v in exact.items() if k < 1_000_000
    )

    # candidate stream == the batch banded join, per (doc, corpus doc, band)
    cand = {
        (r["doc_id"], r["corpus_doc_id"], r["band"])
        for r in spark.sql("SELECT * FROM ing_cand").collect()
    }
    bb = dedup.lsh_bands(
        dedup.minhash_signatures(dedup.word_shingles(batch, n=3), num_hashes=8),
        rows_per_band=2,
        num_hashes=8,
    )
    expected = {
        (r["doc_id"], r["corpus_doc_id"], r["band"])
        for r in bb.join(
            corpus_bands.select(
                F.col("doc_id").alias("corpus_doc_id"), "band", "band_hash"
            ),
            on=["band", "band_hash"],
        ).collect()
    }
    assert cand == expected and len(cand) > 0


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream watermarked interval join end-to-end: view→purchase
    attribution over two live file-source streams must emit exactly the
    pairs the batch interval join produces on the same inputs."""
    from vector_database_watermarking_spark.streaming.joins import (
        attribution_join_streams,
        interval_join,
        run_to_append_sink,
    )
    from vector_database_watermarking_spark.streaming.windows import (
        EVENTS_SCHEMA,
        stream_events_from_files,
    )

    ev = load_table(spark, sf_dir, "events")
    views_b = ev.filter(F.col("event_type") == "view")
    purch_b = ev.filter(F.col("event_type") == "purchase")

    v_dir, p_dir = str(tmp_path / "views"), str(tmp_path / "purchases")
    views_b.repartition(2).write.mode("overwrite").parquet(v_dir)
    purch_b.repartition(2).write.mode("overwrite").parquet(p_dir)

    batch = interval_join(
        spark.read.schema(EVENTS_SCHEMA).parquet(v_dir),
        spark.read.schema(EVENTS_SCHEMA).parquet(p_dir),
        on="user_id",
        horizon="1 hour",
        left_prefix="v",
        right_prefix="p",
    )
    expected = {
        (r["v_event_id"], r["p_event_id"]) for r in batch.collect()
    }
    assert len(expected) > 0  # fixture must exercise the join

    vs = stream_events_from_files(spark, v_dir, max_files_per_trigger=1)
    ps = stream_events_from_files(spark, p_dir, max_files_per_trigger=1)
    # the fixture's files are round-robin partitioned, so each
    # micro-batch spans the table's whole ~30-day event-time range;
    # the watermark must cover that span or later batches' rows land
    # below it and are (correctly, per streaming semantics) dropped —
    # this test pins BATCH-EQUALITY, so lateness must not bind
    out = attribution_join_streams(vs, ps, horizon="1 hour", watermark="60 days")
    run_to_append_sink(out, "attribution")
    got = {
        (r["view_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM attribution").collect()
    }
    assert got == expected

    # interval bound holds row-by-row on the emitted stream
    bad = spark.sql(
        "SELECT count(*) FROM attribution "
        "WHERE purchase_ts < view_ts "
        "   OR purchase_ts > view_ts + INTERVAL 1 HOUR"
    ).head()[0]
    assert bad == 0


def test_bloom_contamination_matches_exact_and_prunes(spark, sf_dir):
    """The Bloom-prefiltered contamination scan must return exactly the
    exact scan's rows, and the prefilter must actually cut the corpus
    fingerprint stream (no false negatives, bounded false positives)."""
    from vector_database_watermarking_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    probe = docs.filter(F.col("doc_id") % 2 == 1)

    exact = {
        tuple(r)
        for r in T.contamination_scan(corpus, probe, 8, 4).collect()
    }
    bloomed = {
        tuple(r)
        for r in T.contamination_scan_bloom(corpus, probe, 8, 4).collect()
    }
    assert bloomed == exact and len(exact) > 0

    # prefilter selectivity: corpus windows surviving the bitmap ≈
    # true positives + fpr·rest; must be well under the full stream
    c_fp = T.rolling_fingerprints(corpus, 8, 4).select(
        F.col("doc_id").alias("corpus_doc"), "fp"
    ).dropDuplicates(["corpus_doc", "fp"])
    p_fp = T.rolling_fingerprints(probe, 8, 4).select("fp").distinct()
    bloom, mask = T.build_bloom(p_fp, "fp")
    total = c_fp.count()
    kept = c_fp.filter(
        T.bloom_might_contain(F.col("fp"), bloom, mask)
    ).count()
    true_pos = c_fp.join(p_fp, on="fp", how="leftsemi").count()
    assert kept >= true_pos  # no false negatives
    assert kept - true_pos <= max(50, int(0.01 * total))  # fpr bound
    assert kept < total  # it actually prunes


def test_bloom_membership_exhaustive_small(spark):
    """Every inserted key must probe TRUE (zero false negatives is a
    hard guarantee, not a statistical one)."""
    from vector_database_watermarking_spark.operators import text as T

    keys = spark.range(500).select(
        F.concat(F.lit("k"), F.col("id")).alias("fp")
    )
    bloom, mask = T.build_bloom(keys, "fp")
    n_true = keys.filter(
        T.bloom_might_contain(F.col("fp"), bloom, mask)
    ).count()
    assert n_true == 500


def test_distribution_drift_psi_properties(spark, sf_dir):
    """PSI ≥ 0 for every slice; a planted shifted slice must out-drift
    every natural source; a slice sampled uniformly from the corpus
    must sit near zero."""
    from vector_database_watermarking_spark.operators.stats import distribution_drift

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    shifted = docs.limit(100).select(
        "doc_id", F.lit("planted_shift").alias("source"),
        (F.col("n_chars") * 5 + 10000).alias("n_chars"),
    )
    uniform = docs.filter(F.col("doc_id") % 7 == 3).select(
        "doc_id", F.lit("planted_uniform").alias("source"), "n_chars"
    )
    out = {
        r["grp"]: r["psi"]
        for r in distribution_drift(
            docs.unionByName(shifted).unionByName(uniform),
            "n_chars", "source", n_bins=10,
        ).collect()
    }
    assert all(v >= 0 for v in out.values()), out
    planted = out.pop("planted_shift")
    near_uniform = out.pop("planted_uniform")
    assert planted > max(out.values())
    assert near_uniform <= planted / 2


def _ref_dup_spans(texts, w):
    """Brute-force reference for duplicate_spans: dict doc -> list of
    (start, end) covered-position islands, first global occurrence of
    each window canonical."""
    import re

    toks = {
        d: re.sub(r"\s+", " ", t.lower()).strip().split(" ") for d, t in texts
    }
    occ: dict = {}
    for d in sorted(toks):
        tk = toks[d]
        for s in range(1, len(tk) - w + 2):
            occ.setdefault(" ".join(tk[s - 1 : s - 1 + w]), []).append((d, s))
    covered: dict = {}
    for lst in occ.values():
        for d, s in sorted(lst)[1:]:
            covered.setdefault(d, set()).update(range(s, s + w))
    spans = {}
    for d, pos in covered.items():
        ps = sorted(pos)
        out, st, prev = [], ps[0], ps[0]
        for p in ps[1:]:
            if p == prev + 1:
                prev = p
            else:
                out.append((st, prev))
                st = prev = p
        out.append((st, prev))
        spans[d] = out
    return spans


def test_duplicate_spans_matches_bruteforce(spark):
    texts = [
        (0, "a b c d e f g h"),
        (1, "x a b c d e y z"),          # cross-doc repeat of 'a b c d e'
        (2, "a b c d e q a b c d e"),    # within-doc repeat
        (3, "totally unique words only here"),
        (4, "a b c d e f g h"),          # full-doc duplicate of doc 0
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    w = 5
    got: dict = {}
    for r in dedup.duplicate_spans(docs, w=w).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
        assert r["span_len"] == r["span_end"] - r["span_start"] + 1
    got = {d: sorted(v) for d, v in got.items()}
    assert got == _ref_dup_spans(texts, w)
    # stats view: clean docs present with zeros, ratios consistent
    stats = {
        r["doc_id"]: r for r in dedup.duplicate_span_stats(docs, w=w).collect()
    }
    assert set(stats) == {0, 1, 2, 3, 4}
    assert stats[3]["n_spans"] == 0 and stats[3]["dup_ratio"] == 0.0
    assert stats[4]["dup_tokens"] == 8 and stats[4]["dup_ratio"] == 1.0
    for d, r in stats.items():
        assert r["dup_tokens"] == sum(
            e - s + 1 for s, e in got.get(d, [])
        )
    # partitioning invariance
    again = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.duplicate_spans(docs.repartition(7), w=w).collect()
    }
    assert again == {
        (d, s, e) for d, sp in got.items() for s, e in sp
    }


def test_bigram_nll_hand_computed(spark):
    """Bigram LM against a by-hand reference on a 3-doc corpus,
    including within-doc repeated transitions and the <2-token
    exclusion; plus partitioning invariance of the integer buckets."""
    import math

    texts = [(0, "a b a b"), (1, "a b c"), (2, "x")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.bigram_nll_scores(docs).collect()}
    # corpus bigram stream: (a,b)x3, (b,a)x1, (b,c)x1 ; V = 4 (a b c x)
    bc = {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1}
    cc = {"a": 3, "b": 2}
    V, alpha = 4, 0.5

    def e4(prev, tok):
        p = (bc[(prev, tok)] + alpha) / (cc[prev] + alpha * (V + 1))
        return math.floor(-math.log2(p) * 10000 + 0.5)

    exp0 = e4("a", "b") + e4("b", "a") + e4("a", "b")
    exp1 = e4("a", "b") + e4("b", "c")
    assert out[0]["n_bigrams"] == 3 and out[0]["nll_e4_sum"] == exp0
    assert out[1]["n_bigrams"] == 2 and out[1]["nll_e4_sum"] == exp1
    assert out[0]["avg_nll"] == exp0 / 10000.0 / 3
    assert 2 not in out  # single-token doc: no bigrams, no row
    again = {
        r["doc_id"]: r["nll_e4_sum"]
        for r in text.bigram_nll_scores(docs.repartition(5)).collect()
    }
    assert again == {0: exp0, 1: exp1}


def test_ngram_novelty_hand_computed(spark):
    """8-gram novelty on a corpus with a planted shared passage: the
    shared window's shingles count per-doc-distinct, the zero-shingle
    doc gets a 0-row, and fractions are exact integer quotients."""
    shared = "one two three four five six seven eight"  # exactly 8 tokens
    texts = [
        (0, shared + " alpha beta"),   # 3 shingles, 1 shared
        (1, "prefix " + shared),       # 2 shingles, 1 shared
        (2, "totally different words here nothing matches at all"),
        (3, ""),                       # no shingles
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.ngram_novelty(docs, n=8).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[0]["n_shingles"] == 3 and out[0]["n_shared"] == 1
    assert out[1]["n_shingles"] == 2 and out[1]["n_shared"] == 1
    assert out[0]["shared_frac"] == 1 / 3
    assert out[2]["n_shingles"] == 1 and out[2]["n_shared"] == 0
    assert out[3]["n_shingles"] == 0 and out[3]["shared_frac"] == 0.0


def test_unigram_nll_hand_computed_and_oov(spark):
    import math

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "b c")], "doc_id long, text string"
    )
    # counts: a=2 b=2 c=1; T=5, V=3, alpha=0.5
    def e4(c):
        p = (c + 0.5) / (5 + 0.5 * 4)
        return math.floor(-math.log2(p) * 10000 + 0.5)

    out = {r["doc_id"]: r for r in text.unigram_nll_scores(docs).collect()}
    assert out[0]["n_tokens"] == 3
    assert out[0]["nll_e4_sum"] == 3 * e4(2)
    assert out[1]["nll_e4_sum"] == e4(2) + e4(1)
    # raw integer-derived division — exact double equality, no rounding
    assert out[1]["avg_nll"] == (e4(2) + e4(1)) / 1e4 / 2
    # rarer tokens => higher nll
    assert out[1]["avg_nll"] > out[0]["avg_nll"]
    # foreign vocab: unseen token takes the OOV slot (c = 0)
    vocab = text.unigram_vocab(docs)
    new = spark.createDataFrame([(9, "zzz a")], "doc_id long, text string")
    r9 = text.unigram_nll_scores(new, vocab=vocab).head()
    assert r9["nll_e4_sum"] == e4(0) + e4(2)
    # partitioning invariance (integer sums)
    again = {
        r["doc_id"]: r["nll_e4_sum"]
        for r in text.unigram_nll_scores(docs.repartition(5)).collect()
    }
    assert again == {d: out[d]["nll_e4_sum"] for d in out}


def test_remove_duplicate_spans_rewrites(spark):
    texts = [
        (0, "a b c d e f g h"),
        (1, "x a b c d e y z"),
        (2, "totally unique words only here"),
        (3, "A  B c d e f g H"),  # normalizes to a full dup of doc 0's head
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.remove_duplicate_spans(docs, w=5).collect()}
    # canonical doc survives verbatim (normalized)
    assert out[0]["clean_text"] == "a b c d e f g h"
    # doc 1: positions 2..6 covered -> 'x y z' remains
    assert out[1]["clean_text"] == "x y z"
    # clean doc passes through
    assert out[2]["clean_text"] == "totally unique words only here"
    # kept-token counts reconcile with the stats view
    stats = {
        r["doc_id"]: r for r in dedup.duplicate_span_stats(docs, w=5).collect()
    }
    for d, r in out.items():
        assert r["n_kept_tokens"] == stats[d]["n_tokens"] - stats[d]["dup_tokens"]


# ---- duplicate-span property test (random corpora vs brute force) ----

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_span_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12),
    min_size=1,
    max_size=5,
)


@given(_span_docs)
@settings(max_examples=10, deadline=None)
def _check_dup_spans_property(doclists):
    """On tiny-alphabet random corpora (heavy window collisions,
    overlapping within-doc repeats) the operator must equal the brute-
    force reference exactly."""
    spark = _check_dup_spans_property._spark
    texts = [(i, " ".join(d)) for i, d in enumerate(doclists)]
    w = 3
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got: dict = {}
    for r in dedup.duplicate_spans(df, w=w).collect():
        got.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    got = {d: sorted(v) for d, v in got.items()}
    assert got == _ref_dup_spans(texts, w)


def test_duplicate_spans_property(spark):
    _check_dup_spans_property._spark = spark
    _check_dup_spans_property()


def test_importance_weights_prefer_target_domain(spark, sf_dir):
    """DSIR sanity: with the English slice as target, English docs
    must average a higher importance weight than non-English docs
    (their tokens are likelier under the target LM), and the integer
    log-ratio must reconcile with the two NLL scorers it composes."""
    d = docs(spark, sf_dir).limit(200)
    target = d.filter(F.col("lang") == "en")
    iw = text.importance_weights(d, target)
    joined = iw.join(d.select("doc_id", "lang"), "doc_id")
    rows = joined.collect()
    en = [r["avg_logratio"] for r in rows if r["lang"] == "en"]
    non = [r["avg_logratio"] for r in rows if r["lang"] != "en"]
    assert en and non
    assert sum(en) / len(en) > sum(non) / len(non)
    # exact composition check on one doc
    vr = text.unigram_vocab(d)
    vt = text.unigram_vocab(target)
    raw = {r["doc_id"]: r["nll_e4_sum"] for r in text.unigram_nll_scores(d, vocab=vr).collect()}
    tgt = {r["doc_id"]: r["nll_e4_sum"] for r in text.unigram_nll_scores(d, vocab=vt).collect()}
    got = {r["doc_id"]: r["logratio_e4"] for r in rows}
    assert got == {k: raw[k] - tgt[k] for k in got}


# ---- incremental-dedup property test (forced id collisions) ----


def _ref_shingles(text, n=3):
    import re

    toks = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
    return {
        " ".join(toks[i : i + n])
        for i in range(max(len(toks) - n + 1, 1))
        if "".join(toks[i : i + n])
    }


_corpus_texts = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=3, max_size=8),
    min_size=2,
    max_size=5,
)


@given(_corpus_texts, _corpus_texts)
@settings(max_examples=8, deadline=None)
def _check_incremental_dedup_property(corpus_words, batch_words):
    """With batch ids deliberately equal to corpus ids: exact statuses
    must match brute force exactly; every reported near-dup must carry
    the TRUE pair jaccard (>= threshold, <= 1); every 'unique' must
    truly have no exact match. (LSH may miss near-dups — that is the
    contract — but must never fabricate or mis-measure one.)"""
    spark = _check_incremental_dedup_property._spark
    corpus_t = [" ".join(w) for w in corpus_words]
    batch_t = [" ".join(w) for w in batch_words]
    corpus = spark.createDataFrame(
        list(enumerate(corpus_t)), "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        list(enumerate(batch_t)), "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in dedup.incremental_dedup(corpus, batch, threshold=0.5).collect()
    }
    assert set(out) == set(range(len(batch_t)))
    corpus_norm = {}
    import re as _re

    for i, t in enumerate(corpus_t):
        corpus_norm.setdefault(
            _re.sub(r"\s+", " ", t.lower()).strip(), i
        )
    for bid, r in out.items():
        bnorm = _re.sub(r"\s+", " ", batch_t[bid].lower()).strip()
        if bnorm in corpus_norm:
            assert r["status"] == "exact_dup", (bid, r)
            assert r["match_doc_id"] == min(
                i
                for i, t in enumerate(corpus_t)
                if _re.sub(r"\s+", " ", t.lower()).strip() == bnorm
            )
        else:
            assert r["status"] != "exact_dup", (bid, r)
            if r["status"] == "near_dup":
                sa = _ref_shingles(batch_t[bid])
                sb = _ref_shingles(corpus_t[r["match_doc_id"]])
                true_j = len(sa & sb) / len(sa | sb)
                assert 0.5 <= r["jaccard"] <= 1.0, (bid, r)
                assert abs(r["jaccard"] - true_j) < 1e-9, (bid, r, true_j)


def test_incremental_dedup_property(spark):
    _check_incremental_dedup_property._spark = spark
    _check_incremental_dedup_property()


def test_bucketed_batches_bounds_padding(spark, sf_dir):
    from vector_database_watermarking_spark.operators import packing

    d = docs(spark, sf_dir).limit(300)
    out = packing.bucketed_batches(d, batch_size=8, bucket_width=16).collect()
    assert len(out) == 300
    from collections import Counter

    sizes = Counter((r["shard"], r["bucket"], r["batch_idx"]) for r in out)
    assert max(sizes.values()) <= 8  # batch size respected
    for r in out:
        # padding is bounded by the bucket width, the operator's point
        assert 0 <= r["pad_tokens"] < 16
        # bucket really contains the doc's length
        assert (r["bucket"] - 1) * 16 < r["n_tokens"] <= r["bucket"] * 16
    # deterministic under repartitioning
    again = {
        (r["doc_id"], r["batch_idx"], r["pad_tokens"])
        for r in packing.bucketed_batches(
            d.repartition(7), batch_size=8, bucket_width=16
        ).collect()
    }
    assert again == {(r["doc_id"], r["batch_idx"], r["pad_tokens"]) for r in out}


def test_multimodal_null_payload_quarantined(spark):
    """NULL payloads (failed fetches) must never crash a tier: feature
    tiers emit an empty undecodable row, frame tiers emit nothing."""
    media = spark.createDataFrame(
        [(1, None), (2, bytearray(b"ok bytes"))],
        "media_id long, payload binary",
    )
    rich = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    assert rich[1]["n_bytes"] == 0 and not rich[1]["decoded"]
    fake = {r["media_id"]: r for r in multimodal.extract_features(media, fake=True).collect()}
    assert fake[1]["n_bytes"] == 0
    assert multimodal.sample_frames(media).filter(F.col("media_id") == 1).count() == 0
    assert (
        multimodal.sample_frames(media, fake=True)
        .filter(F.col("media_id") == 1)
        .count()
        == 0
    )


def test_char_entropy_hand_computed(spark):
    import math

    docs = spark.createDataFrame(
        [(0, "aaaa"), (1, "abab"), (2, "abcd"), (3, "   ")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.char_entropy(docs).collect()}
    # doc 3 normalizes to "" -> no row
    assert set(out) == {0, 1, 2}
    assert out[0]["entropy_e4"] == 0  # single class
    def e4(counts, t):
        return sum(
            math.floor((c / t) * (-math.log2(c / t)) * 10000 + 0.5) for c in counts
        )
    assert out[1]["entropy_e4"] == e4([2, 2], 4)   # 1 bit
    assert out[2]["entropy_e4"] == e4([1, 1, 1, 1], 4)  # 2 bits
    assert out[2]["entropy"] == out[2]["entropy_e4"] / 1e4
    assert out[2]["entropy"] > out[1]["entropy"] > out[0]["entropy"]


def test_bucketed_batches_matches_pure_python(spark, sf_dir):
    """Full differential: shard routing, bucketing, ordering, batch
    cuts, and per-batch max must equal a direct reference built from
    the same keyed md5 hash."""
    import hashlib
    import math
    import re

    from vector_database_watermarking_spark.operators import packing

    d = docs(spark, sf_dir).limit(150).select("doc_id", "text").collect()
    ref_rows = []
    for r in d:
        toks = re.sub(r"\s+", " ", r["text"].lower()).strip().split(" ")
        k = int(hashlib.md5(f"bb_7_{r['doc_id']}".encode()).hexdigest()[:15], 16)
        ref_rows.append((r["doc_id"], len(toks), k, k % 8, math.ceil(len(toks) / 16)))
    expected = {}
    groups: dict = {}
    for doc_id, n, k, shard, bucket in ref_rows:
        groups.setdefault((shard, bucket), []).append((k, doc_id, n))
    for (shard, bucket), members in groups.items():
        members.sort()
        for i, (k, doc_id, n) in enumerate(members):
            bidx = i // 8
            batch = members[bidx * 8 : (bidx + 1) * 8]
            bmax = max(m[2] for m in batch)
            expected[doc_id] = (shard, bucket, bidx, bmax, bmax - n)
    df = docs(spark, sf_dir).limit(150)
    got = {
        r["doc_id"]: (
            r["shard"],
            r["bucket"],
            r["batch_idx"],
            r["batch_max_tokens"],
            r["pad_tokens"],
        )
        for r in packing.bucketed_batches(df, batch_size=8, bucket_width=16).collect()
    }
    assert got == expected


# ---- round-6 text-op property tests (random corpora vs brute force) ----


def test_bigram_nll_property_random_corpora(spark):
    """On tiny-alphabet random corpora the distributed bigram LM must
    equal a brute-force Python reference exactly (integer buckets), and
    must be invariant to corpus row order."""
    import math

    @given(_span_docs)
    @settings(max_examples=8, deadline=None)
    def check(doclists):
        texts = [(i, " ".join(toks)) for i, toks in enumerate(doclists)]
        docs = spark.createDataFrame(texts, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_bigrams"], r["nll_e4_sum"])
            for r in text.bigram_nll_scores(docs).collect()
        }
        # brute force
        bg = []
        vocab = set()
        for i, toks in enumerate(doclists):
            vocab |= set(toks)
            bg += [(i, a, b) for a, b in zip(toks, toks[1:])]
        bc: dict = {}
        cc: dict = {}
        for _, a, b in bg:
            bc[(a, b)] = bc.get((a, b), 0) + 1
            cc[a] = cc.get(a, 0) + 1
        V, alpha = len(vocab), 0.5
        exp: dict = {}
        for i, a, b in bg:
            p = (bc[(a, b)] + alpha) / (cc[a] + alpha * (V + 1))
            e4 = math.floor(-math.log2(p) * 10000 + 0.5)
            n, s = exp.get(i, (0, 0))
            exp[i] = (n + 1, s + e4)
        assert got == exp
        again = {
            r["doc_id"]: (r["n_bigrams"], r["nll_e4_sum"])
            for r in text.bigram_nll_scores(docs.repartition(4)).collect()
        }
        assert again == exp

    check()


def test_ngram_novelty_properties(spark):
    """Structural invariants under duplicate injection: n_shared <=
    n_shingles always; duplicating a doc makes every one of BOTH
    copies' shingles shared; untouched docs keep their counts."""
    base = [
        (0, "one two three four five six seven eight nine"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
    ]
    docs = spark.createDataFrame(base, "doc_id long, text string")
    before = {r["doc_id"]: r for r in text.ngram_novelty(docs, n=8).collect()}
    dup = spark.createDataFrame(
        base + [(10, base[0][1])], "doc_id long, text string"
    )
    after = {r["doc_id"]: r for r in text.ngram_novelty(dup, n=8).collect()}
    for r in list(before.values()) + list(after.values()):
        assert 0 <= r["n_shared"] <= r["n_shingles"]
    # doc 0 and its copy: fully shared after injection
    assert after[0]["n_shared"] == after[0]["n_shingles"] == before[0]["n_shingles"]
    assert after[10]["n_shared"] == after[10]["n_shingles"]
    # doc 1 untouched by the injection
    assert (
        after[1]["n_shingles"],
        after[1]["n_shared"],
    ) == (before[1]["n_shingles"], before[1]["n_shared"])


def test_tfidf_keywords_brute_force(spark):
    import math
    from collections import Counter

    from vector_database_watermarking_spark.operators.text import tfidf_keywords

    corpus = {
        1: "cat dog cat fish",
        2: "dog dog bird",
        3: "cat bird bird bird fish",
        4: "whale",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in corpus.items()], ["doc_id", "text"]
    )
    got = {
        (r.doc_id, r.rank): (r.tok, r.tf, r.df, r.tfidf_e4)
        for r in tfidf_keywords(docs, top_k=3).collect()
    }
    # brute force
    toks = {i: t.split() for i, t in corpus.items()}
    df = Counter(tok for ts in toks.values() for tok in set(ts))
    n = len(corpus)
    expected = {}
    for i, ts in toks.items():
        tf = Counter(ts)
        scored = sorted(
            (
                (
                    tok,
                    c,
                    df[tok],
                    math.floor(c * math.log(n / df[tok]) * 10000 + 0.5),
                )
                for tok, c in tf.items()
            ),
            key=lambda x: (-x[3], x[0]),
        )
        for rank, (tok, c, d, e4) in enumerate(scored[:3], start=1):
            expected[(i, rank)] = (tok, c, d, e4)
    assert got == expected


def test_pmi_collocations_brute_force(spark):
    import math
    from collections import Counter

    from vector_database_watermarking_spark.operators.text import (
        pmi_collocations,
    )

    texts = (
        ["new york city", "new york state", "new york"] * 3
        + ["big apple pie", "apple pie"] * 2
        + ["york new", "city of new york"]
    )
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = [
        (r.w1, r.w2, r.c_pair, r.c1, r.c2, r.pmi_e4)
        for r in pmi_collocations(docs, min_count=2, top_k=10).collect()
    ]
    toks = [t.split() for t in texts]
    uni = Counter(tok for ts in toks for tok in ts)
    pc = Counter((ts[i], ts[i + 1]) for ts in toks for i in range(len(ts) - 1))
    T = sum(uni.values())
    P = sum(len(ts) - 1 for ts in toks)
    rows = []
    for (w1, w2), c in pc.items():
        if c < 2:
            continue
        pmi = (
            math.log2(c)
            + 2 * math.log2(T)
            - math.log2(P)
            - math.log2(uni[w1])
            - math.log2(uni[w2])
        )
        rows.append((w1, w2, c, uni[w1], uni[w2], math.floor(pmi * 10000 + 0.5)))
    rows.sort(key=lambda x: (-x[5], x[0], x[1]))
    assert got == rows[:10]


def test_stream_interval_join_left_outer_emits_unmatched(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: a view with no purchase
    inside the horizon must surface null-padded once the watermark
    passes its eviction point (advanced here by a sentinel row); the
    converged output must equal the batch LEFT JOIN."""
    import datetime as dt

    from vector_database_watermarking_spark.streaming.joins import (
        interval_join,
        run_to_append_sink,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    schema = "event_id long, user_id long, ts timestamp, value double"
    # user 1: view at 0 matched by purchase at 30; view at 120 unmatched
    # user 2: view at 10, no purchases at all
    views = [(1, 1, ts(0), 0.0), (2, 1, ts(120), 0.0), (3, 2, ts(10), 0.0)]
    purchases = [(10, 1, ts(30), 9.5)]
    sent_v = [(-1, -1, ts(60 * 24 * 30), 0.0)]
    sent_p = [(-1, -1, ts(60 * 24 * 30), 0.0)]
    v_dir, p_dir = str(tmp_path / "v"), str(tmp_path / "p")
    spark.createDataFrame(views + sent_v, schema).coalesce(1).write.parquet(v_dir)
    spark.createDataFrame(purchases + sent_p, schema).coalesce(1).write.parquet(p_dir)

    out = interval_join(
        spark.readStream.schema(schema).parquet(v_dir),
        spark.readStream.schema(schema).parquet(p_dir),
        on="user_id",
        horizon="1 hour",
        watermark="1 minute",
        left_prefix="v",
        right_prefix="p",
        how="left_outer",
    )
    run_to_append_sink(out, "left_attr")
    got = {
        (r["v_event_id"], r["p_event_id"])
        for r in spark.sql(
            "SELECT * FROM left_attr WHERE v_user_id >= 0"
        ).collect()
    }
    assert got == {(1, 10), (2, None), (3, None)}

    # batch tier agrees
    batch = interval_join(
        spark.read.schema(schema).parquet(v_dir),
        spark.read.schema(schema).parquet(p_dir),
        on="user_id",
        horizon="1 hour",
        left_prefix="v",
        right_prefix="p",
        how="left_outer",
    ).filter(F.col("v_user_id") >= 0)
    expected = {(r["v_event_id"], r["p_event_id"]) for r in batch.collect()}
    assert got == expected


def test_drop_duplicates_within_watermark_readmits(spark, tmp_path):
    """The TTL semantics that distinguish dropDuplicatesWithinWatermark
    from unbounded dropDuplicates: a key seen again AFTER the
    watermark passed its state is re-admitted (eviction is the point —
    exact-forever state does not exist at 100 TB)."""
    import datetime as dt
    import time as _time

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    d = str(tmp_path / "in")
    schema = "k long, ts timestamp"
    # trigger 1: key 7 at t0. trigger 2: watermark-advancer at t0+3h
    # (the watermark only moves BETWEEN triggers, so the eviction of
    # key 7's state lands after this batch). trigger 3: key 7 again —
    # now past its evicted TTL, so it must re-admit.
    spark.createDataFrame([(7, t0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    _time.sleep(1.1)  # distinct mtimes -> deterministic trigger order
    spark.createDataFrame(
        [(99, t0 + dt.timedelta(hours=3))], schema
    ).coalesce(1).write.mode("append").parquet(d)
    _time.sleep(1.1)
    # the watermark computed from trigger N's data is APPLIED during
    # trigger N+1, and state eviction runs at batch end — so one more
    # advancer trigger lands the eviction before key 7 returns
    spark.createDataFrame(
        [(98, t0 + dt.timedelta(hours=3, minutes=5))], schema
    ).coalesce(1).write.mode("append").parquet(d)
    _time.sleep(1.1)
    spark.createDataFrame(
        [(7, t0 + dt.timedelta(hours=3, minutes=10))], schema
    ).coalesce(1).write.mode("append").parquet(d)

    out = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["k"])
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ttl_dedup")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ks = [r["k"] for r in spark.sql("SELECT k FROM ttl_dedup").collect()]
    assert ks.count(7) == 2, ks  # re-admitted after TTL
    assert ks.count(99) == 1 and ks.count(98) == 1, ks
