"""Training-data-pipeline queries over documents/embeddings —
(spark, sf_dir) wrappers around operators/{dedup,similarity,
text_analysis} for the driver contract.

A query that scans a one-time copy (a layout rewrite, the IVF index, a
trained codebook) builds it through `sources/scratch.fixture`, the one
owner of scratch dirs: once per sf_dir per process, removed at exit."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stream_processing_system_spark.operators import (
    curation,
    dedup,
    multimodal,
    quality_filters,
    similarity,
    text_analysis,
)
from stream_processing_system_spark.sources.scratch import fixture
from stream_processing_system_spark.sources.tables import load_table


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _embs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _query_vec(spark, sf_dir) -> DataFrame:
    """The standard 1-row query frame: embedding of vec_id 0."""
    return _embs(spark, sf_dir).where(F.col("vec_id") == 0).select("embedding")


# --- dedup ---

def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `dedup.dedup_exact` for the operator's full
    semantics and scale notes."""
    return dedup.dedup_exact(_docs(spark, sf_dir), "doc_id", "text")


def minhash_signatures_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `dedup.minhash_signatures` for the operator's full
    semantics and scale notes."""
    return dedup.minhash_signatures(_docs(spark, sf_dir), "doc_id", "text", num_hashes=8)


def jaccard_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `dedup.jaccard_pairs` for the operator's full
    semantics and scale notes."""
    return dedup.jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.1, n=3
    )


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `dedup.simhash64` for the operator's full
    semantics and scale notes."""
    return dedup.simhash64(_docs(spark, sf_dir), "doc_id", "text")


def dedup_minhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `dedup.dedup_minhash_lsh` for the operator's full
    semantics and scale notes."""
    return dedup.dedup_minhash_lsh(
        _docs(spark, sf_dir), "doc_id", "text", num_hashes=8, bands=4, threshold=0.7
    )


def dedup_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: odd doc_ids are the incoming batch,
    even doc_ids the existing corpus; keep batch docs with no
    verified (Jaccard >= 0.7) corpus near-dup. Fully SQL-expressible
    (banding + exact Jaccard), so this one is value-hash
    oracle-checked, unlike the rows-only self-join dedups."""
    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    return dedup.dedup_against_corpus(
        batch, corpus, "doc_id", "text", num_hashes=8, bands=4, threshold=0.7
    )


def dedup_transitive_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dedup via connected components over the
    verified LSH pair graph. The oracle (`oracle_sql()["dedup_transitive"]`)
    recomputes signatures, band buckets, Jaccard-verified pairs and a
    recursive transitive closure in SQL, so the kept ids are
    value-hash verified."""
    return dedup.dedup_transitive(
        _docs(spark, sf_dir), "doc_id", "text", num_hashes=8, bands=4, threshold=0.7
    )


def simhash_neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `dedup.simhash_neardup_pairs` for the operator's full
    semantics and scale notes."""
    return dedup.simhash_neardup_pairs(
        _docs(spark, sf_dir), "doc_id", "text", max_hamming=3
    )


# --- similarity search ---

def cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `similarity.cosine_topk` for the operator's full
    semantics and scale notes."""
    return similarity.cosine_topk(
        _embs(spark, sf_dir), _query_vec(spark, sf_dir), k=10
    )


def lsh_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `similarity.lsh_topk` for the operator's full
    semantics and scale notes."""
    return similarity.lsh_topk(
        _embs(spark, sf_dir), _query_vec(spark, sf_dir), k=10
    )


def ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `similarity.ivf_topk` for the operator's full
    semantics and scale notes."""
    return similarity.ivf_topk(
        _embs(spark, sf_dir), _query_vec(spark, sf_dir), k=10
    )


@fixture("ivf")
def _ivf_index(spark: SparkSession, sf_dir: str, path: str) -> str:
    """One persisted IVF index per sf_dir per process (a `fixture`):
    the build is a one-time cost, like loading a vector DB, and queries
    against it are the repeated operation. bench.py's warm-up pass
    triggers the build, so the timed pass measures QUERY latency; the
    build cost is reported separately in PERFORMANCE.md."""
    similarity.build_ivf_index(_embs(spark, sf_dir), path)
    return path


def ivf_index_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index IVF: answer the query via partition pruning of
    the centroid-partitioned `_ivf_index`. Same result as ivf_topk
    (rows-only contract check; equality with the inline variant is
    unit-tested)."""
    return similarity.ivf_index_topk(
        spark, _ivf_index(spark, sf_dir), _query_vec(spark, sf_dir), k=10
    )


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold 0.4: the synthetic embeddings are near-orthogonal
    random vectors (no true dups), so a production-style 0.95 cutoff
    returns nothing at any SF; 0.4 keeps the query's output
    non-trivial while the planted-duplicate unit test covers the
    high-threshold path."""
    return similarity.embedding_neardup_pairs(_embs(spark, sf_dir), threshold=0.4)


def embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped cluster-then-prune dedup over the embeddings
    table (operators/similarity.semantic_dedup). Threshold 0.4 for
    the same reason as embedding_neardup_pairs: the synthetic
    near-orthogonal vectors have no true dups at a production 0.95
    cutoff; the planted-duplicate unit test covers the high-threshold
    path, and the returned centroid column hash-verifies the full
    clustering either way."""
    return similarity.semantic_dedup(_embs(spark, sf_dir), threshold=0.4)


def knn_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-NN for every vector (correctness baseline; the LSH
    variant below is the scale path). Round 3: runs through the
    split gram-matrix path (similarity.knn_join_exact_gemm) — same
    oracle, value-hash identical, 34 s → ~2 s at sf0.1."""
    return similarity.knn_join_exact_gemm(_embs(spark, sf_dir), k=3)


def knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked self KNN via the per-bucket gram-matrix path
    (3.5x the expression-based `knn_join(exact=False)` at sf0.1 —
    one Arrow crossing per bucket + BLAS instead of an interpreted
    HOF dot per pair); same oracle, value-hash identical."""
    return similarity.knn_join_lsh_gemm(_embs(spark, sf_dir), k=3)


def knn_join_lsh_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME join forced down the hot-bucket path
    (max_bucket_size=16 < every bucket at the test SFs): salted
    corpus sub-buckets, replicated queries, global top-k merge.
    Shares knn_join_lsh's oracle — the driver hash-match proves the
    split path is value-identical to the unsplit one."""
    return similarity.knn_join_lsh_gemm(
        _embs(spark, sf_dir), k=3, max_bucket_size=16
    )


# --- text analysis ---

def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `text_analysis.doc_stats` for the operator's full
    semantics and scale notes."""
    return text_analysis.doc_stats(_docs(spark, sf_dir))


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `text_analysis.quality_score` for the operator's full
    semantics and scale notes."""
    return text_analysis.quality_score(_docs(spark, sf_dir))


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `text_analysis.lang_id` for the operator's full
    semantics and scale notes."""
    return text_analysis.lang_id(_docs(spark, sf_dir))


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `text_analysis.fingerprint` for the operator's full
    semantics and scale notes."""
    return text_analysis.fingerprint(_docs(spark, sf_dir))


def doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `text_analysis.winnow_fingerprints` for the operator's full
    semantics and scale notes."""
    return text_analysis.winnow_fingerprints(_docs(spark, sf_dir), k=3, window=4)


def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `text_analysis.token_counts` for the operator's full
    semantics and scale notes."""
    return text_analysis.token_counts(_docs(spark, sf_dir))


def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `text_analysis.top_terms_tfidf` for the operator's full
    semantics and scale notes."""
    return text_analysis.top_terms_tfidf(_docs(spark, sf_dir), k=2)


def rp_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `similarity.rp_topk` for the operator's full
    semantics and scale notes."""
    return similarity.rp_topk(
        _embs(spark, sf_dir), _query_vec(spark, sf_dir), k=10
    )


def doc_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `text_analysis.hash_embeddings` for the operator's full
    semantics and scale notes."""
    return text_analysis.hash_embeddings(_docs(spark, sf_dir))


# --- quality filters / corpus hygiene ---

def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `quality_filters.repetition_stats` for the operator's full
    semantics and scale notes."""
    return quality_filters.repetition_stats(_docs(spark, sf_dir))


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub + count; the contract row carries md5(text_scrubbed) so
    the whole rewritten text is value-hash checked without shipping
    300-char strings through the compare."""
    scrubbed = quality_filters.pii_scrub(_docs(spark, sf_dir))
    return scrubbed.select(
        "doc_id",
        F.md5("text_scrubbed").alias("scrub_md5"),
        "n_emails",
        "n_ips",
        "n_phones",
    )


def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token windows at stride 48 (16-token overlap):
    the retrieval-context splitter
    (operators/quality_filters.chunk_documents); one codegen'd map
    stage, chunk text leaves only as md5."""
    return quality_filters.chunk_documents(
        _docs(spark, sf_dir), window=64, stride=48
    )


def doc_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `cleaned.select` for the operator's full
    semantics and scale notes."""
    cleaned = quality_filters.passage_dedup(_docs(spark, sf_dir))
    return cleaned.select("doc_id", F.md5("text_clean").alias("clean_md5"))


def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """budget 1024 tokens, 200-id range chunks: at sf0.01 that's 3
    chunks, so the two-level prefix sum (not the degenerate single
    chunk) is what the oracle hash-checks."""
    return quality_filters.pack_sequences(
        _docs(spark, sf_dir), budget_tokens=1024, chunk_size=200
    )


# --- corpus curation (decontamination / splits / mixtures / search) ---

def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 11 == 0 stand in
    for the eval set; everything else is the training corpus. An
    8-gram hit is the standard contamination criterion."""
    docs = _docs(spark, sf_dir)
    eval_set = docs.where(F.col("doc_id") % 11 == 0)
    corpus = docs.where(F.col("doc_id") % 11 != 0)
    return curation.decontaminate(corpus, eval_set, "doc_id", "text", n=8)


def doc_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split, summarized per (split,
    lang): doc and char counts prove the md5-bucket assignment
    end-to-end without shipping every row through the compare."""
    assigned = curation.split_assign(_docs(spark, sf_dir))
    return (
        assigned.groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("split", "lang")
    )


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-threshold stratified sample — downsample dominant 'en'
    to 20%, keep 60% of the rest — summarized per lang."""
    sampled = curation.hash_sample(
        _docs(spark, sf_dir), fracs={"en": 0.2}, default_frac=0.6
    )
    return (
        sampled.groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("lang")
    )


def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `curation.mixture_weights` for the operator's full
    semantics and scale notes."""
    return curation.mixture_weights(_docs(spark, sf_dir))


def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `curation.bm25_search` for the operator's full
    semantics and scale notes."""
    return curation.bm25_search(
        _docs(spark, sf_dir), query_terms=["spark", "hash", "join"], limit=20
    )


# --- multimodal ---

def media_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal pipeline check: build the fake media
    table from documents, run the mapInPandas decode stage, aggregate
    byte stats per media type. n_bytes is payload truth (len of the
    utf-8 payload), so the whole Arrow round-trip is oracle-checkable
    in SQL via octet_length."""
    media = multimodal.fake_media_from_documents(spark, _docs(spark, sf_dir))
    decoded = multimodal.decode_media(media)
    return (
        decoded.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.min("n_bytes").cast("long").alias("min_bytes"),
            F.max("n_bytes").cast("long").alias("max_bytes"),
        )
        .orderBy("media_type")
    )


@fixture("zo")
def _zorder_events(spark: SparkSession, sf_dir: str, path: str) -> str:
    """One Z-order-clustered copy of events per sf_dir per process (a
    `fixture`): the layout write is the one-time OPTIMIZE pass, the
    pruned scan the repeated operation (the IVF index's split)."""
    from stream_processing_system_spark.sources.layout import (
        write_zorder_clustered,
    )

    events = load_table(spark, sf_dir, "events")
    write_zorder_clustered(events, path, ["user_id", "value"], num_files=8)
    return path


def zorder_events_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked round-trip for the storage-layout family: events
    are rewritten ONCE per process Z-order-clustered on
    (user_id, value) (`sources/layout.write_zorder_clustered` — the
    Delta/Iceberg OPTIMIZE ZORDER shape), then a box predicate over
    both clustered columns scans the copy and aggregates. Each output
    file covers a compact hyper-rectangle of the key space, so at
    scale the box predicate eliminates most files/row groups via
    parquet footer min/max stats (tests/test_layout.py asserts the
    file-level stats disjointness); the oracle hash-match here proves
    the layout rewrite changed BYTES, never values."""
    scanned = spark.read.parquet(_zorder_events(spark, sf_dir)).where(
        F.col("user_id").between(3, 12)
        & F.col("value").isNotNull()
        & F.col("value").between(50.0, 250.0)
    )
    return (
        scanned.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long")).alias("_s"),
        )
        .select(
            "event_type", "n", (F.col("_s") / F.lit(10000.0)).alias("sum_value")
        )
        .orderBy("event_type")
    )


@fixture()
def _pq_books(spark: SparkSession, sf_dir: str) -> list:
    """Trained PQ codebooks per sf_dir per process (a `fixture`):
    training (Lloyd's with two driver round-trips) is the one-time
    build half; the ADC scan + re-rank is the repeated query.
    Deterministic training means the kept books are identical to a
    fresh train, so correctness is unaffected — only the bench stops
    re-paying the build."""
    return similarity.train_pq_codebooks(_embs(spark, sf_dir), n_sub=8, n_codes=16)


def pq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k with exact re-ranking (trained
    sub-codebooks; see operators/similarity.py:train_pq_codebooks for
    the cross-engine determinism contract). 8 sub-codebooks × 16 codes
    = 8 bytes/vector; ADC shortlists 100, exact dot re-ranks
    (recall@10 ≈ 0.83 vs brute force on the random testdata —
    tests/test_similarity.py asserts the floor)."""
    return similarity.pq_topk(
        _embs(spark, sf_dir),
        _query_vec(spark, sf_dir),
        k=10,
        n_sub=8,
        n_codes=16,
        rerank=100,
        books=_pq_books(spark, sf_dir),
    )


def doc_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE candidate table: adjacent char-pair counts weighted by word
    frequency (operators/bpe.py), top 50."""
    from stream_processing_system_spark.operators.bpe import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir), top_n=50)


def doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE training, 20 merges. Round 3: the oracle is the
    training loop UNROLLED into 20 SQL rounds (pair count → argmax →
    list_reduce whole-symbol rewrite, fuzz-proven equivalent to the
    engine's lookaround regex), so even the iterative trainer is
    value-hash checked; tests/test_bpe.py additionally proves the
    merge table against a pure-Python BPE reference."""
    from stream_processing_system_spark.operators.bpe import bpe_train

    return bpe_train(_docs(spark, sf_dir), n_merges=20)


def doc_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 20 BPE merges on the corpus, then encode it: per-doc BPE
    token counts (operators/bpe.py:bpe_apply). Round 3: value-hash
    checked end to end — the oracle unrolls training AND applies the
    final symbolization to the corpus join; tests/test_bpe.py also
    checks the counts against the pure-Python reference."""
    from stream_processing_system_spark.operators.bpe import bpe_apply, bpe_train

    docs = _docs(spark, sf_dir)
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=20).orderBy("merge_rank").collect()
    ]
    return bpe_apply(docs, merges)


def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition — the \"whole engine in one
    plan\" query: quality-filter (score >= 0.5) -> exact dedup among
    survivors -> token-budget sequence packing -> per-shard stats.
    Each stage is the SAME operator the standalone queries use
    (text_analysis.quality_score, dedup.dedup_exact,
    quality_filters.pack_sequences), so the value-hash oracle also
    proves the stages compose without interference."""
    from stream_processing_system_spark.operators import dedup as dedup_ops

    docs = _docs(spark, sf_dir)
    good_ids = (
        text_analysis.quality_score(docs)
        .where(F.col("quality") >= 0.5)
        .select("doc_id")
    )
    good = docs.join(good_ids, "doc_id", "left_semi")
    keepers = dedup_ops.dedup_exact(good, "doc_id", "text").select("doc_id")
    surviving = good.join(keepers, "doc_id", "left_semi")
    packed = quality_filters.pack_sequences(surviving, budget_tokens=1024)
    return (
        packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
        .orderBy("shard")
    )


def doc_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language model with add-1 smoothing: P(w2 | w1) for the
    50 most frequent bigrams. Two corpus aggregates (bigram counts,
    unigram counts) + a vocabulary-size scalar — the n-gram-LM
    counting shape (KenLM's hot loop) as two shuffles with map-side
    combine. Probabilities live on the det_round 1e-6 grid."""
    from stream_processing_system_spark.functions.scalar import det_round, tokenize

    docs = _docs(spark, sf_dir)
    # bigrams map-side: zip_with of the token array against its own
    # 1-shifted slice — one Generate, no token self-join (same shape
    # as operators/curation.bigram_lm_score)
    toks_arr = tokenize(F.col("text"))
    n = F.size(toks_arr)
    pair_arr = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks_arr, 1, n - 1),
            F.slice(toks_arr, 2, n - 1),
            lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bigrams = (
        docs.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n_bigram"))
    )
    toks = docs.select(F.explode(toks_arr).alias("w"))
    unigrams = toks.groupBy(F.col("w").alias("w1")).agg(
        F.count(F.lit(1)).alias("n_unigram")
    )
    vocab = unigrams.agg(F.count(F.lit(1)).alias("_v"))
    return (
        bigrams.join(unigrams, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            "n_bigram",
            det_round(
                (F.col("n_bigram") + 1)
                / (F.col("n_unigram") + F.col("_v")).cast("double")
            ).alias("p_smoothed"),
        )
        .orderBy(F.col("n_bigram").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(50)
    )


def doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality filter: every document scored by its
    mean log2 bigram probability under an add-1-smoothed LM trained on
    the corpus itself (`operators/curation.bigram_lm_score`)."""
    return curation.bigram_lm_score(_docs(spark, sf_dir), "doc_id", "text")


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `similarity.quantize_int8` for the operator's full
    semantics and scale notes."""
    return similarity.quantize_int8(_embs(spark, sf_dir))


def dedup_sorted_neighborhood_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `dedup.dedup_sorted_neighborhood` for the operator's full
    semantics and scale notes."""
    return dedup.dedup_sorted_neighborhood(
        _docs(spark, sf_dir), "doc_id", "text", window=3, threshold=0.1, shingle_n=3
    )


def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `dedup.containment_pairs` for the operator's full
    semantics and scale notes."""
    return dedup.containment_pairs(_docs(spark, sf_dir), "doc_id", "text")


def doc_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `curation.shingle_novelty` for the operator's full
    semantics and scale notes."""
    return curation.shingle_novelty(_docs(spark, sf_dir), "doc_id", "text")


def media_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing end-to-end: fake media table →
    mapInPandas frame sampler (1 frame/sec, capped at 16) → one row
    per sampled frame. The decode is the documented deterministic
    stub (operators/multimodal.py:_fake_decode derives duration from
    the payload md5), which makes this Arrow-batched Python stage
    value-hash checkable in SQL — the plumbing is verified even
    though the codec is a stand-in."""
    media = multimodal.fake_media_from_documents(spark, _docs(spark, sf_dir))
    frames = multimodal.sample_frames(media, every_ms=1000)
    return frames.select(
        F.col("media_id"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("ts_ms").cast("long").alias("ts_ms"),
    ).orderBy("media_id", "frame_idx")


def doc_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations over the documents corpus by PMI ratio
    (`operators/curation.pmi_collocations`)."""
    return curation.pmi_collocations(_docs(spark, sf_dir), "doc_id", "text")


def doc_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted sample (priority sampling, weight =
    n_chars) of the documents corpus
    (`operators/curation.priority_sample`)."""
    return curation.priority_sample(
        _docs(spark, sf_dir), k=3, weight_col="n_chars", group_col="source",
        id_col="doc_id",
    )


def doc_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered token-budget selection over documents: score
    with `text_analysis.quality_score`, then fill a 10k-token budget
    best-first via the two-phase distributed prefix sum
    (`operators/curation.budget_select`)."""
    docs = _docs(spark, sf_dir)
    q = text_analysis.quality_score(docs, "doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
        .cast("long")
        .alias("n_tokens"),
    )
    return curation.budget_select(q.join(toks, "doc_id"), budget_tokens=10_000)


def doc_token_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-discriminative vocabulary by chi-square keyness
    (`operators/text_analysis.token_chi2`)."""
    return text_analysis.token_chi2(_docs(spark, sf_dir), "lang", "doc_id", "text")


@fixture("bk")
def _bucketed_tables(spark: SparkSession, sf_dir: str, base: str) -> tuple[str, str]:
    """orders and lineitem written once per sf_dir per process (a
    `fixture`) as tables bucketed by order key. They are external
    tables under the fixture dir, so the warehouse keeps no copy and
    the data goes with the dir at exit. The table names depend on
    sf_dir alone, so a rebuild after `remove_scratch_caches`
    overwrites the two catalog entries instead of adding two more."""
    import hashlib

    from stream_processing_system_spark.sources.bucketing import write_bucketed

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tables = (f"orders_bk_{tag}", f"lineitem_bk_{tag}")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_extendedprice",
        "l_discount",
    )
    for df, table in zip((orders, li), tables):
        path = os.path.join(base, table)
        write_bucketed(df, table, "o_orderkey", n_buckets=8, path=path)
    return tables


def bucketed_revenue_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked round-trip for the bucketed-layout family
    (`sources/bucketing.write_bucketed`): orders and lineitem are
    written ONCE per process as tables bucketed by order key, then
    the fact⋈fact join runs on the bucketed copies and aggregates
    revenue per order priority.

    Because both scans report the same bucketing as their output
    partitioning, the join plans WITHOUT an Exchange on either side
    (asserted in tests/test_bucketing.py) — the one-time layout
    decision that deletes the recurring O(data) orderkey shuffle at
    100 TB. The oracle hash-match proves bucketing changed the
    LAYOUT, never the values.
    """
    from stream_processing_system_spark.sources.bucketing import bucketed_join

    joined = bucketed_join(spark, *_bucketed_tables(spark, sf_dir), "o_orderkey")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(revenue).cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@fixture("pt")
def _partitioned_events(spark: SparkSession, sf_dir: str, path: str) -> str:
    """events written once per sf_dir per process (a `fixture`),
    partitioned by event_type."""
    from stream_processing_system_spark.sources.bucketing import write_partitioned

    write_partitioned(load_table(spark, sf_dir, "events"), path, ["event_type"])
    return path


def partitioned_events_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked round-trip for the Hive-partitioned-layout
    family (`sources/bucketing.write_partitioned`): events are
    rewritten ONCE per process partitioned by event_type, then a
    two-type scan aggregates per (type, hour).

    The event-type predicate prunes whole DIRECTORIES before any
    I/O — it shows up as PartitionFilters on the scan (asserted in
    tests/test_bucketing.py), distinct from PushedFilters which
    still open row groups. At 100 TB with a time/type-partitioned
    fact table this is the difference between scanning 2/5 of the
    data and scanning all of it. The oracle hash-match proves the
    layout rewrite changed the directory structure, never values.
    """
    scanned = spark.read.parquet(_partitioned_events(spark, sf_dir)).where(
        F.col("event_type").isin("click", "purchase")
    )
    return (
        scanned.groupBy(
            "event_type", F.hour("ts").cast("long").alias("hour_of_day")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long")).alias("_s"),
        )
        .select(
            "event_type",
            "hour_of_day",
            "n",
            (F.col("_s") / F.lit(10000.0)).alias("sum_value"),
        )
        .orderBy("event_type", "hour_of_day")
    )


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(label, dimension) embedding moments in exact micro-units
    (`operators/similarity.embedding_dim_stats`)."""
    return similarity.embedding_dim_stats(_embs(spark, sf_dir))


def doc_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-3 skip-gram co-occurrence counts over documents
    (`operators/curation.skipgram_pairs`)."""
    return curation.skipgram_pairs(_docs(spark, sf_dir), "doc_id", "text")


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shared-5-gram contamination matrix
    (`operators/curation.source_overlap_matrix`)."""
    return curation.source_overlap_matrix(_docs(spark, sf_dir))


@fixture("cp")
def _compacted_events(spark: SparkSession, sf_dir: str, base: str) -> str:
    """events written once per sf_dir per process (a `fixture`) as 64
    fragments, then compacted; returns the compacted copy's path."""
    from stream_processing_system_spark.sources.layout import compact_parquet

    frag, path = os.path.join(base, "frag"), os.path.join(base, "compact")
    events = load_table(spark, sf_dir, "events")
    events.repartition(64).write.mode("overwrite").parquet(frag)
    compact_parquet(spark, frag, path, target_file_bytes=8 * 1024 * 1024)
    return path


def compacted_events_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked round-trip for small-files compaction
    (`sources/layout.compact_parquet`): events are first written as a
    deliberately over-fragmented copy (64 files), compacted into
    size-targeted files (a no-shuffle coalesce rewrite), and the
    registered aggregate scans the COMPACTED copy.

    Small files are the classic silent killer of 100 TB scans (one
    task + one open/footer-parse per file); compaction restores
    ~target-sized row groups. tests/test_layout.py asserts the file
    count actually drops; the oracle hash-match proves the rewrite
    changed file boundaries, never values.
    """
    scanned = spark.read.parquet(_compacted_events(spark, sf_dir))
    return (
        scanned.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long")).alias("_s"),
        )
        .select(
            "event_type",
            "n",
            "n_users",
            (F.col("_s") / F.lit(10000.0)).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def doc_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain capping over the corpus: at most 30 docs per source,
    longest-first (`operators/curation.domain_cap` — two-phase rank,
    hot-domain-safe)."""
    return curation.domain_cap(
        _docs(spark, sf_dir).select("doc_id", "source", "n_chars"),
        group_col="source",
        cap=30,
        order_cols=[F.col("n_chars").desc()],
        id_col="doc_id",
    ).orderBy("source", "rk")


def doc_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build over the corpus
    (`operators/text_analysis.inverted_index`), posting lists
    serialized to comma-joined strings for the cross-engine
    value-hash (the q3 sorted-set device)."""
    idx = text_analysis.inverted_index(_docs(spark, sf_dir), min_df=3)
    return idx.select(
        "term",
        "df",
        "tf",
        F.array_join(
            F.transform(F.col("postings"), lambda d: d.cast("string")), ","
        ).alias("postings"),
    ).orderBy("term")


def doc_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) datasheet slice report
    (`operators/text_analysis.corpus_card`)."""
    return text_analysis.corpus_card(_docs(spark, sf_dir))


def doc_skipgram_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative sampling for the top-20 skip-gram pairs: 3 draws per
    pair from the unigram^0.75 distribution via the exact integer
    inverse-CDF interval join (`operators/curation.negative_sample`)."""
    docs = _docs(spark, sf_dir)
    pairs = curation.skipgram_pairs(docs, "doc_id", "text", window=3, min_count=5, top=20)
    return curation.negative_sample(docs, pairs, k_neg=3)


def doc_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source type/token diversity ratios
    (`operators/text_analysis.ngram_diversity`)."""
    return text_analysis.ngram_diversity(_docs(spark, sf_dir))


def dedup_banding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `dedup.banding_recall_report` (banding
    recall + candidate precision vs exact all-pairs ground truth on
    the deterministic id%2 sample)."""
    from stream_processing_system_spark.operators import dedup

    return dedup.banding_recall_report(_docs(spark, sf_dir))


def dedup_banding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `dedup.banding_sweep_report`
    (recall/precision across bands ∈ {2,4,8} of the same 8-hash
    signatures on the fixed-budget sample)."""
    from stream_processing_system_spark.operators import dedup

    return dedup.banding_sweep_report(_docs(spark, sf_dir))


def media_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `multimodal.audio_energy` (windowed
    energy profile over the stub waveform; the Arrow stage is
    value-hash mirrored byte-for-byte in SQL like the aHash/video
    fingerprint stages)."""
    media = multimodal.fake_media_from_documents(spark, _docs(spark, sf_dir))
    return multimodal.audio_energy(media)


def embedding_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `similarity.mmr_rerank` (diversity-aware
    MMR greedy over the cosine top-20 pool, λ=0.7, k=5)."""
    return similarity.mmr_rerank(_embs(spark, sf_dir), _query_vec(spark, sf_dir))


def doc_greedy_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `curation.greedy_coverage_select`
    (submodular greedy max-coverage pick of 10 docs by new-5-gram
    gain; one driver scalar per round)."""
    from stream_processing_system_spark.operators import curation

    return curation.greedy_coverage_select(_docs(spark, sf_dir), n=5, k=10)


def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the token distribution
    (`operators/text_analysis.token_entropy` — nano-bit integer-grid
    terms, order-independent sums)."""
    return text_analysis.token_entropy(_docs(spark, sf_dir))


@fixture("fmt")
def _format_copies(spark: SparkSession, sf_dir: str, base: str) -> tuple[str, str]:
    """events written once per sf_dir per process (a `fixture`) as
    JSON-lines and as ORC; returns both paths."""
    jpath, opath = os.path.join(base, "jsonl"), os.path.join(base, "orc")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    events.write.mode("overwrite").json(jpath)
    events.write.mode("overwrite").orc(opath)
    return jpath, opath


def format_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interchange-format round-trip: events written once to
    JSON-lines and ORC (both Spark-native writers), read back with an
    EXPLICIT schema (never inference — at 100 TB schema inference is
    a full extra scan, and a schema drifting under inference is how
    silent corruption ships), and aggregated per format. The oracle
    computes the same aggregate straight from the parquet source
    twice, so the hash-match proves BOTH formats round-trip values
    exactly.

    Value fidelity note: doubles survive JSON because Spark writes
    shortest-round-trip representations; the aggregate still floors
    to integer 1e-4 units before summing, per the money-sum policy.
    """
    jpath, opath = _format_copies(spark, sf_dir)
    schema = (
        "event_id bigint, user_id bigint, event_type string, value double"
    )
    jdf = spark.read.schema(schema).json(jpath)
    odf = spark.read.schema(schema).orc(opath)

    def agg(df: DataFrame, fmt: str) -> DataFrame:
        return (
            df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct("user_id").alias("n_users"),
                F.sum(
                    F.floor(F.col("value") * 10000 + 0.5).cast("long")
                ).alias("_s"),
            )
            .select(
                F.lit(fmt).alias("fmt"),
                "event_type",
                "n",
                "n_users",
                (F.col("_s") / F.lit(10000.0)).alias("sum_value"),
            )
        )

    return (
        agg(jdf, "jsonl")
        .unionByName(agg(odf, "orc"))
        .orderBy("fmt", "event_type")
    )


@fixture("evo")
def _evolved_events(spark: SparkSession, sf_dir: str, path: str) -> str:
    """events written once per sf_dir per process (a `fixture`): even
    ids with the original schema under `batch=old`, odd ids with the
    added `priority` column under `batch=new`."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    old = events.where(F.col("event_id") % 2 == 0)
    new = events.where(F.col("event_id") % 2 == 1).withColumn(
        "priority", (F.col("event_id") % 3).cast("int")
    )
    old.write.mode("overwrite").parquet(os.path.join(path, "batch=old"))
    new.write.mode("overwrite").parquet(os.path.join(path, "batch=new"))
    return path


def schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: half the events are written with the
    original 4-column schema, half with an ADDED `priority` column
    (derived, not invented: event_id % 3). One `mergeSchema` read
    unifies them — old files surface NULL priority — and the
    aggregate proves both populations keep exact values. This is the
    append-a-column-without-rewriting-history operation every
    long-lived 100 TB table eventually needs; the mergeSchema
    footer-union is a planning-time cost, paid once per scan.
    """
    merged = spark.read.option("mergeSchema", "true").parquet(
        _evolved_events(spark, sf_dir)
    )
    return (
        merged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("priority").isNull(), 1).otherwise(0)).alias(
                "n_legacy"
            ),
            F.sum(F.coalesce(F.col("priority"), F.lit(0)).cast("long")).alias(
                "sum_priority"
            ),
            F.sum(
                F.floor(F.col("value") * 10000 + 0.5).cast("long")
            ).alias("_s"),
        )
        .select(
            "event_type",
            "n",
            "n_legacy",
            "sum_priority",
            (F.col("_s") / F.lit(10000.0)).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def doc_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-blocklist policy pass over the corpus
    (`operators/quality_filters.blocklist_filter`); summarized per
    verdict so the output is constant-size."""
    flagged = quality_filters.blocklist_filter(
        _docs(spark, sf_dir), blocklist=["slow", "drop", "noise"]
    )
    return (
        flagged.groupBy("keep")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_blocked_terms").alias("total_hits"),
        )
        .orderBy("keep")
    )


def doc_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `curation.hybrid_rrf_search` (BM25 +
    hash-embedding cosine fused by reciprocal-rank fusion)."""
    return curation.hybrid_rrf_search(
        _docs(spark, sf_dir), query_terms=["spark", "hash", "join"]
    )


def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `dedup.dedup_canonical` (keep the
    highest-quality member of each near-dup cluster; quality from
    `text_analysis.quality_score`)."""
    docs = _docs(spark, sf_dir)
    return dedup.dedup_canonical(
        docs,
        text_analysis.quality_score(docs),
        "doc_id",
        "text",
        num_hashes=8,
        bands=4,
        threshold=0.7,
    )


def doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `text_analysis.zipf_fit` (log-log OLS
    over the top-500 token frequencies)."""
    return text_analysis.zipf_fit(_docs(spark, sf_dir), top=500)


def media_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup detection on the media table
    (operators/multimodal.ahash_signatures + quarter-blocked pair
    join). The deterministic stub decode is mirrored in the SQL
    oracle (chunk byte sums over the utf-8 payload), so the whole
    Arrow-batched Python stage is VALUE-hash verified — the same
    standard as the JVM-side operators — and the oracle's brute-force
    all-pairs form also proves the blocking lossless."""
    media = multimodal.fake_media_from_documents(spark, _docs(spark, sf_dir))
    sigs = multimodal.ahash_signatures(media)
    return multimodal.ahash_neardup_pairs(sigs, max_hamming=3)


def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `similarity.hard_negative_pairs`
    (same-LSH-bucket, cross-label, high-cosine pairs — contrastive
    training's hard negatives)."""
    return similarity.hard_negative_pairs(
        _embs(spark, sf_dir), min_sim=0.4, limit=100
    )


def embedding_pca_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `linalg.pca_top_component` (deterministic
    integer-grid power iteration; hash-matched against an unrolled
    SQL mirror of all 8 iterations)."""
    from stream_processing_system_spark.operators import linalg

    return linalg.pca_top_component(_embs(spark, sf_dir))


def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `similarity.kmeans_cluster_stats` (the
    IVF codebook surfaced as a clustering result: per-cluster size +
    mean member-to-centroid cosine)."""
    return similarity.kmeans_cluster_stats(_embs(spark, sf_dir))


def embedding_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `linalg.pca_components` with
    n_components=2 (integer-grid deflation between components; both
    8-iteration chains hash-matched in the unrolled SQL mirror)."""
    from stream_processing_system_spark.operators import linalg

    return linalg.pca_components(_embs(spark, sf_dir), n_components=2)


def doc_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `text_analysis.rake_keyphrases`."""
    return text_analysis.rake_keyphrases(_docs(spark, sf_dir))


def media_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level video near-dup (operators/multimodal.py:
    frame_fingerprints + video_frame_neardup): videos sharing >= 3
    frame fingerprints. The Arrow-batched fingerprint stage mirrors
    byte-for-byte in the SQL oracle (same stub decode arithmetic), so
    the whole multimodal pipeline is value-hash verified."""
    media = multimodal.fake_media_from_documents(spark, _docs(spark, sf_dir))
    sigs = multimodal.frame_fingerprints(media, every_ms=1000)
    return multimodal.video_frame_neardup(sigs, min_shared=3)


def doc_pad_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit for training batch assembly: batches of 8
    docs padded to the batch max length, comparing NAIVE batching
    (ingest/id order) against LENGTH-BUCKETED batching (sort by token
    count first) — the measurement behind the standard "bucket by
    length before batching" loader optimization. All integer
    arithmetic: per-batch max via a window over the batch key
    ((row_number−1) div 8 over the chosen order), waste =
    Σ(batch_max − len). Output one row per strategy with the waste
    ratio over the padded total."""
    docs = _docs(spark, sf_dir)
    lens = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).cast("long").alias(
            "len"
        ),
    )

    def waste(order_cols, name: str) -> DataFrame:
        from pyspark.sql import Window

        w = Window.orderBy(*order_cols)
        batched = lens.withColumn(
            "_b", ((F.row_number().over(w) - 1) / 8).cast("long")
        )
        wb = Window.partitionBy("_b")
        per = batched.withColumn("_mx", F.max("len").over(wb))
        return per.agg(
            F.lit(name).alias("strategy"),
            F.sum("len").alias("total_tokens"),
            F.sum(F.col("_mx") - F.col("len")).alias("pad_tokens"),
            F.sum("_mx").alias("padded_total"),
        )

    naive = waste([F.col("doc_id").asc()], "naive")
    bucketed = waste([F.col("len").asc(), F.col("doc_id").asc()], "length_bucketed")
    out = naive.unionByName(bucketed)
    from stream_processing_system_spark.functions.scalar import det_round

    return out.select(
        "strategy",
        "total_tokens",
        "pad_tokens",
        det_round(
            F.col("pad_tokens").cast("double") / F.col("padded_total").cast("double")
        ).alias("waste_ratio"),
    ).orderBy("strategy")


def doc_lang_source_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength between document language and
    source — "are sources language-skewed" as one effect-size number
    (plus the chi² it derives from), completing the contingency
    family next to the drift/keyness chi² queries. Margins and N are
    exact ints via windows over the tiny (lang × source) cell table;
    per-cell (o−e)²/e terms are quantized to the 1e-6 grid before the
    exact integer sum (the chi2-drift device); V =
    sqrt(chi²/(N·(min(r,c)−1)))."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    w_all = Window.partitionBy()
    w_lang = Window.partitionBy("lang")
    w_src = Window.partitionBy("source")
    with_m = cells.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(w_lang).alias("rl"),
        F.sum("o").over(w_src).alias("cs"),
        F.sum("o").over(w_all).alias("n"),
        F.size(F.collect_set("lang").over(w_all)).alias("r"),
        F.size(F.collect_set("source").over(w_all)).alias("c"),
    )
    e = F.col("rl").cast("double") * F.col("cs").cast("double") / F.col("n").cast(
        "double"
    )
    term = F.floor(
        (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    agg = with_m.select(
        term.alias("t"), "n", "r", "c"
    ).groupBy("n", "r", "c").agg(
        F.count(F.lit(1)).alias("n_cells"), F.sum("t").alias("ts")
    )
    chi2 = F.col("ts").cast("double") / F.lit(1e6)
    denom = F.col("n").cast("double") * (
        F.least(F.col("r"), F.col("c")).cast("double") - F.lit(1.0)
    )
    from stream_processing_system_spark.functions.scalar import det_round

    return agg.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("n_cells").cast("long").alias("n_cells"),
        det_round(chi2).alias("chi2"),
        det_round(F.sqrt(chi2 / denom)).alias("cramers_v"),
    )


@fixture("corrupt")
def _corrupt_jsonl(spark: SparkSession, sf_dir: str, base: str) -> str:
    """The JSONL drop written once per sf_dir per process (a
    `fixture`): the non-NULL-value events, every 7th record truncated
    mid-object."""
    path = os.path.join(base, "jsonl")
    events = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    line = F.to_json(F.struct("event_id", "user_id", "value"))
    maimed = F.when(
        F.col("event_id") % 7 == 0,
        F.substring(line, 1, F.length(line) - 2),
    ).otherwise(line)
    events.select(maimed.alias("value")).write.mode("overwrite").text(path)
    return path


def jsonl_corrupt_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input accounting — the S? surface the reference
    handles by silently skipping bad rows (F4's malformed-row drop),
    done the lakehouse way: a JSONL drop where every 7th record is
    DETERMINISTICALLY truncated mid-object, read back with an
    explicit schema in PERMISSIVE mode and a _corrupt_record column,
    then audited (valid count, corrupt count, exact value sum over
    the valid rows). The oracle recomputes all three from the
    parquet source and the same id%7 rule, so the hash-match proves
    the parser kept every well-formed row, dropped every truncated
    one, and round-tripped the doubles exactly."""
    parsed = (
        spark.read.schema(
            "event_id long, user_id long, value double, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(_corrupt_jsonl(spark, sf_dir))
    )
    return parsed.agg(
        F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_valid"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_corrupt"),
        (
            F.sum(
                F.when(
                    F.col("_corrupt").isNull(),
                    F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long"),
                ).otherwise(F.lit(0))
            ).cast("double")
            / F.lit(10000.0)
        ).alias("valid_value_sum"),
    )


def filtered_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — top-10 by cosine among vectors whose
    label differs from the query's (the metadata-constrained search
    every retrieval service ends up needing: 'nearest, but not from
    this source'). The constraint is PRE-filtered into the scan
    (label predicate reaches the parquet reader) before scoring —
    post-filtering a top-k would under-fill k whenever the
    constraint is selective. Exact scoring here; the same pre-filter
    composes in front of lsh_topk/ivf_topk unchanged."""
    embs = _embs(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    qlabel = _embs(spark, sf_dir).where(F.col("vec_id") == 0).select("label")
    filtered = embs.crossJoin(F.broadcast(qlabel.withColumnRenamed("label", "_ql"))).where(
        F.col("label") != F.col("_ql")
    ).drop("_ql")
    return similarity.cosine_topk(filtered, q, k=10)


def weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-WEIGHTED Jaccard over LSH candidate pairs: rare shingles
    count more than boilerplate ones — J_w = Σ min(wₐ,w_b) / Σ
    max(wₐ,w_b) over per-shingle weights, the soft-dedup measure
    that stops template-heavy docs from looking like near-dups of
    every other template instance. Weights are integer MICRO-IDF
    units (floor(ln((N+1)/(df+1))·1e6) — the zipf milli-floor device;
    a shared shingle contributes min=max=w, one-sided shingles
    contribute only to the denominator), so both sums are exact
    BIGINTs. Candidates come from the standard banding join — the
    weighting changes the VERIFY arithmetic, not the sub-quadratic
    candidate path. Top-25 pairs by weighted Jaccard (exact ratio
    ordering via cross-multiplied BIGINTs is overkill here: the
    double ratios are correctly rounded from exact ints and tie-break
    on ids)."""
    from stream_processing_system_spark.operators import dedup as dd

    docs = _docs(spark, sf_dir)
    sh = dd.shingles_per_doc(docs, "doc_id", "text", n=3)
    n_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .select(
            "shingle",
            F.floor(
                F.log((F.col("nd") + 1).cast("double") / (F.col("df") + 1).cast("double"))
                * F.lit(1e6)
            )
            .cast("long")
            .alias("w"),
        )
    )
    sigs = dd.minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    cands = dd.lsh_candidate_pairs(sigs, "doc_id", num_hashes=8, bands=4)
    swa = sh.join(w, "shingle").select(
        F.col("doc_id").alias("id_a"), "shingle", F.col("w").alias("wa")
    )
    swb = sh.join(w, "shingle").select(
        F.col("doc_id").alias("id_b"), "shingle", F.col("w").alias("wb")
    )
    # per candidate pair: shared-shingle weight sum and each side's total
    shared = (
        cands.join(swa, "id_a")
        .join(swb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.sum("wa").alias("inter_w"))
    )
    tot = sh.join(w, "shingle").groupBy("doc_id").agg(F.sum("w").alias("tw"))
    scored = (
        shared.join(tot.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumnRenamed("tw", "tw_a")
        .join(tot.withColumnRenamed("doc_id", "id_b"), "id_b")
        .withColumnRenamed("tw", "tw_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter_w").cast("double")
                / (F.col("tw_a") + F.col("tw_b") - F.col("inter_w")).cast("double")
            ).alias("_jw"),
        )
    )
    from stream_processing_system_spark.functions.scalar import det_round

    return (
        scored.select("id_a", "id_b", det_round(F.col("_jw")).alias("weighted_jaccard"), F.col("_jw"))
        .orderBy(F.col("_jw").desc(), "id_a", "id_b")
        .limit(25)
        .drop("_jw")
    )


@fixture()
def _ivf_codebook(spark: SparkSession, sf_dir: str) -> list:
    """The 16-centroid k-means codebook (`train_ivf_centroids`, two
    Lloyd's rounds) trained once per sf_dir per process (a `fixture`):
    `ivfpq_topk_embeddings`' coarse quantizer and
    `embedding_silhouette`'s clusters."""
    return similarity.train_ivf_centroids(_embs(spark, sf_dir), n_centroids=16, iters=2)


@fixture()
def _ivfpq_books(spark: SparkSession, sf_dir: str) -> list:
    """The residual PQ sub-codebooks over `_ivf_codebook`, trained once
    per sf_dir per process (a `fixture`)."""
    embs = _embs(spark, sf_dir)
    cents = _ivf_codebook(spark, sf_dir)
    centroids = similarity._centroid_frame(spark, cents)
    # argmax assignment as the bit-exact Arrow fold
    # (similarity.assign_centroids): no K× fan-out, no exchange
    assigned = similarity.assign_centroids(embs, cents)
    resid = assigned.join(
        F.broadcast(centroids.select(F.col("_cid").alias("_centroid"), "_cvec")),
        "_centroid",
    ).select(
        "vec_id",
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("_cvec"),
            lambda a, b: a - b,
        ).alias("_rvec"),
    )
    return similarity.train_pq_codebooks(
        resid, "vec_id", "_rvec", n_sub=8, n_codes=16, iters=1
    )


def ivfpq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composite ANN (FAISS IndexIVFPQ layout; see
    operators/similarity.py:ivfpq_topk for the inner-product
    decomposition and determinism contract). Both codebooks — the
    IVF coarse quantizer and the residual PQ sub-codebooks — are
    `fixture`s, trained once per (process, sf_dir): the vector-DB-load
    split used by `ivf_index_topk` and `pq_topk`, so repeated calls
    measure query latency."""
    return similarity.ivfpq_topk(
        _embs(spark, sf_dir),
        _query_vec(spark, sf_dir),
        k=10,
        n_probe=4,
        n_sub=8,
        n_codes=16,
        rerank=50,
        cents=_ivf_codebook(spark, sf_dir),
        books=_ivfpq_books(spark, sf_dir),
    )


def ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality curve for the LSH ANN path: recall@k of
    `lsh_topk` against the brute-force `cosine_topk` truth at
    k ∈ {1, 5, 10, 20} — the ANN twin of `dedup_banding_recall`,
    turning "is the index any good" into a driver-checked number per
    operating point instead of a one-off test assertion.

    Both sides are deterministic (round-6 sims, id tie-breaks), so
    rank lists — and therefore the curve itself — are value-hash
    comparable; the oracle recomputes both retrievals in SQL. Shape:
    two top-20 retrievals (each a scan + TakeOrderedAndProject, the
    LSH side bucket-pruned), then arithmetic on ≤20-row frames."""
    embs = _embs(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    w = Window.orderBy(F.desc("sim"), F.asc("vec_id"))
    b = similarity.cosine_topk(embs, q, k=20).select(
        "vec_id", F.row_number().over(w).alias("br")
    )
    l = similarity.lsh_topk(embs, q, k=20).select(
        "vec_id", F.row_number().over(w).alias("lr")
    )
    ks = spark.createDataFrame([(1,), (5,), (10,), (20,)], "k int")
    hits = (
        b.join(l, "vec_id")
        .crossJoin(F.broadcast(ks))
        .where((F.col("br") <= F.col("k")) & (F.col("lr") <= F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        ks.join(hits, "k", "left")
        .select(
            "k",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.col("k").cast("double")
            ).alias("recall"),
        )
        .orderBy("k")
    )


def embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette over the trained k-means
    codebook (centroid-distance form, cosine metric): for each
    vector, a = distance to its own centroid, b = distance to the
    best OTHER centroid, s = (b−a)/max(a,b); reported as the
    per-cluster mean — the cluster-quality companion to
    `embedding_kmeans_clusters`' cohesion (silhouette sees
    BETWEEN-cluster separation, cohesion only within).

    Determinism: the codebook is the cross-engine-reproducible
    Lloyd's (`train_ivf_centroids`); per-point best/second-best use
    the (sim, −cid) total order both engines rank identically; each
    s is floored onto the 1e-6 grid before the exact-integer
    per-cluster mean (the `kmeans_cluster_stats` cohesion device).
    Shape: one broadcast crossJoin against 16 centroids + one
    groupBy — no data-sized window. The codebook is `ivfpq_topk`'s
    `_ivf_codebook` fixture, trained once per (process, sf_dir)."""
    embs = _embs(spark, sf_dir)
    centroids = similarity._centroid_frame(spark, _ivf_codebook(spark, sf_dir))
    sims = embs.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "_cid",
        similarity.cosine_similarity(F.col("embedding"), F.col("_cvec")).alias(
            "_csim"
        ),
    )
    arr = F.reverse(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("_csim").alias("s"), (-F.col("_cid")).alias("nc")
                )
            )
        )
    )
    per_point = sims.groupBy("vec_id").agg(arr.alias("_a"))
    a = F.lit(1.0) - F.element_at(F.col("_a"), 1)["s"]
    bb = F.lit(1.0) - F.element_at(F.col("_a"), 2)["s"]
    s = F.when(
        F.greatest(a, bb) > 0, (bb - a) / F.greatest(a, bb)
    ).otherwise(F.lit(0.0))
    pts = per_point.select(
        (-F.element_at(F.col("_a"), 1)["nc"]).alias("cluster"),
        F.floor(s * F.lit(1e6) + F.lit(0.5)).cast("long").alias("_t"),
    )
    return (
        pts.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"), F.sum("_t").alias("_s"))
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            "n_members",
            (
                F.col("_s").cast("double")
                / F.lit(1e6)
                / F.col("n_members").cast("double")
            ).alias("silhouette"),
        )
        .orderBy("cluster")
    )


def media_audio_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `multimodal.audio_silence_runs`
    (gaps-and-islands over the stub waveform's silent frames)."""
    media = multimodal.fake_media_from_documents(spark, _docs(spark, sf_dir))
    return multimodal.audio_silence_runs(media)


def doc_substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper for operators/dedup.substring_dedup_spans —
    the character-range exact-substring dedup (Lee et al. 2022 shape);
    see the operator docstring for the full semantics and scale
    notes."""
    from stream_processing_system_spark.operators.dedup import (
        substring_dedup_spans,
    )

    return substring_dedup_spans(_docs(spark, sf_dir))


def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation evaluation (Kusupati et al. 2022): how
    much of the full-dimension cosine top-10 survives when vectors
    are truncated to their first d dims (d in 8/16/32/64)? For each
    of the 10 fixed probe queries (vec_id < 10), rank all other
    vectors by truncated cosine (round-6 + id tie-break, the same
    device as `cosine_topk`), and report recall@10 against the
    64-dim ranking per truncation - the curve that tells you how
    aggressively an index can truncate before retrieval degrades.
    This is the measurement harness: brute force by design (the
    serving path at 100 TB is the IVF/PQ family); the scan is one
    codegen'd map stage, 4 dims x 10 queries x N rows, ranked by a
    10-row-per-group window."""
    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    cands = embs.select("vec_id", "embedding")
    dims = [8, 16, 32, 64]
    from stream_processing_system_spark.functions.scalar import (
        cosine_similarity,
        det_round,
    )

    per_dim = None
    base = cands.crossJoin(F.broadcast(queries)).where(
        F.col("vec_id") != F.col("qid")
    )
    for d in dims:
        sims = base.select(
            F.lit(d).alias("trunc_dim"),
            "qid",
            "vec_id",
            F.round(
                cosine_similarity(
                    F.slice(F.col("embedding"), 1, d), F.slice(F.col("qv"), 1, d)
                ),
                6,
            ).alias("sim"),
        )
        per_dim = sims if per_dim is None else per_dim.unionAll(sims)
    w = Window.partitionBy("trunc_dim", "qid").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    topd = (
        per_dim.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("trunc_dim", "qid", "vec_id")
    )
    full = topd.where(F.col("trunc_dim") == 64).select("qid", "vec_id")
    hits = (
        topd.join(full, ["qid", "vec_id"])
        .groupBy("trunc_dim")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return hits.select(
        "trunc_dim",
        "hits",
        det_round(
            F.col("hits").cast("double") / F.lit(100.0), 6
        ).alias("mean_recall_at10"),
    ).orderBy("trunc_dim")


def embedding_bq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization retrieval evaluation - the 1-bit
    counterpart of `embedding_matryoshka_recall` (the two devices
    modern vector stores combine): quantize every vector to its
    per-dimension sign bits, rank by Hamming distance (exact integer
    XOR-count, ascending, id tie-break - ties are COMMON at 64 bits
    so the deterministic tie-break is load-bearing), and report
    recall@10 of the Hamming ranking against the full-precision
    cosine top-10 (round-6 device) over the 10 fixed probe queries.
    32x memory compression, integer-only scan - the candidate-
    generation arm of a BQ + rescore pipeline at 100 TB; this query
    is its measurement harness (brute force by design)."""
    from stream_processing_system_spark.functions.scalar import (
        cosine_similarity,
        det_round,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    bits = F.transform(
        F.col("embedding"),
        lambda x: F.when(x >= 0, F.lit(1)).otherwise(F.lit(0)),
    )
    withbits = embs.select("vec_id", "embedding", bits.alias("bv"))
    queries = withbits.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("bv").alias("qb"),
    )
    pairs = withbits.crossJoin(F.broadcast(queries)).where(
        F.col("vec_id") != F.col("qid")
    )
    hamming = F.aggregate(
        F.zip_with(F.col("qb"), F.col("bv"), lambda x, y: F.abs(x - y)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    sims = pairs.select(
        "qid",
        "vec_id",
        hamming.alias("ham"),
        F.round(cosine_similarity(F.col("embedding"), F.col("qv")), 6).alias(
            "sim"
        ),
    )
    wh = Window.partitionBy("qid").orderBy(F.asc("ham"), F.asc("vec_id"))
    wc = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    ranked = sims.select(
        "qid",
        "vec_id",
        F.row_number().over(wh).alias("rh"),
        F.row_number().over(wc).alias("rc"),
    )
    hits = (
        ranked.where(F.col("rh") <= 10)
        .join(
            ranked.where(F.col("rc") <= 10).select("qid", "vec_id"),
            ["qid", "vec_id"],
        )
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return hits.select(
        "hits",
        det_round(F.col("hits").cast("double") / F.lit(100.0), 6).alias(
            "recall_at10"
        ),
    )


def doc_kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (absolute
    discount D=0.75) - the classic LM smoothing that backs off to
    CONTINUATION counts (in how many distinct contexts does w2
    appear?) rather than raw frequency, which is what makes it the
    standard n-gram smoother: P_KN(w2|w1) = (c(w1 w2) - D)/c(w1.) +
    D * N1+(w1 .)/c(w1 .) * N1+(. w2)/B. Denominator convention:
    c(w1 .) = sum of bigram counts starting w1 (so every quantity
    derives from ONE corpus bigram aggregate). Every input is an
    exact integer count and D is a binary fraction, so the
    probability expression tree (mirrored textually in the oracle)
    is bit-identical cross-engine; the top-50 ranking orders on the
    det_round-6 value with a (w1, w2) tie-break. Emits the 50 most
    probable bigrams.
    Scale: one token pass builds the bigram table (map-side
    combinable); the context/continuation statistics are aggregates
    OVER that table, never a second corpus scan; top-k is
    TakeOrderedAndProject."""
    from stream_processing_system_spark.functions.scalar import det_round

    docs = load_table(spark, sf_dir, "documents")
    toks_arr = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    n = F.size(toks_arr)
    bigr = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks_arr, 1, n - 1),
            F.slice(toks_arr, 2, n - 1),
            lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = (
        docs.select(F.explode(bigr).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=True)
    )
    ctx = big.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("nfw")
    )
    cont = big.groupBy("w2").agg(F.count(F.lit(1)).alias("nbw"))
    tot = big.agg(F.count(F.lit(1)).alias("b"))
    joined = (
        big.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
    )
    pkn = (F.col("c12").cast("double") - F.lit(0.75)) / F.col("c1").cast(
        "double"
    ) + F.lit(0.75) * (
        F.col("nfw").cast("double") / F.col("c1").cast("double")
    ) * (
        F.col("nbw").cast("double") / F.col("b").cast("double")
    )
    scored = joined.select(
        "w1", "w2", "c12", det_round(pkn, 6).alias("pkn")
    )
    return scored.orderBy(
        F.desc("pkn"), F.asc("w1"), F.asc("w2")
    ).limit(50)


def embedding_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection, k=8,
    seeded at vec_id 0 - the classic 2-approximation diversity
    sampler (Gonzalez 1985) used to pick a small representative
    subset of a huge embedding corpus for curation or eval. Each
    round selects the point FARTHEST from the chosen set (squared
    Euclidean on the exact 1e-4 integer grid -> exact longs; ties
    break to the smallest vec_id) and the running min-distance map
    is updated incrementally - never recomputed against the whole
    set. Emits (sel_rank, vec_id, d2_at_selection): d2 is each
    pick's distance to the set when chosen, i.e. the shrinking
    coverage radius.
    Scale: per round ONE broadcast of a single 64-dim center + one
    codegen'd map over the corpus + one 1-row argmax reduce - 8
    rounds of linear scans, the textbook distributed k-center; the
    min-distance map rides localCheckpoint so round r never replays
    rounds 1..r-1."""
    embs = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 10000 + F.lit(0.5)).cast("long"),
    )
    pts = embs.select("vec_id", q.alias("qv")).localCheckpoint(eager=True)

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    seed = pts.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("c_id"), F.col("qv").alias("c_qv")
    )
    picks = [(1, 0, 0)]  # (rank, vec_id=0 seed, d2 at selection)
    mind = (
        pts.crossJoin(F.broadcast(seed))
        .select("vec_id", "qv", d2(F.col("qv"), F.col("c_qv")).alias("mind"))
        .localCheckpoint(eager=True)
    )
    for r in range(2, 9):
        top = mind.orderBy(F.desc("mind"), F.asc("vec_id")).limit(1)
        sel = top.collect()[0]
        picks.append((r, sel["vec_id"], sel["mind"]))
        center = pts.where(F.col("vec_id") == sel["vec_id"]).select(
            F.col("qv").alias("c_qv")
        )
        if r < 8:
            mind = (
                mind.crossJoin(F.broadcast(center))
                .select(
                    "vec_id",
                    "qv",
                    F.least(
                        F.col("mind"), d2(F.col("qv"), F.col("c_qv"))
                    ).alias("mind"),
                )
                .localCheckpoint(eager=True)
            )
    return spark.createDataFrame(
        picks, "sel_rank int, vec_id long, d2_at_selection long"
    ).orderBy("sel_rank")


def media_phash_dct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: see `multimodal.phash_signatures` (integer
    2-D DCT perceptual hash over the stub-decoded grid; the whole
    Arrow-batched stage value-hashes against the SQL mirror, which
    embeds the same pre-floored DCT basis literals)."""
    media = multimodal.fake_media_from_documents(spark, _docs(spark, sf_dir))
    return multimodal.phash_signatures(media).orderBy("media_id")


def doc_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): every
    scored document is assigned to head/middle/tail terciles of its
    LANGUAGE's LM-score distribution — the standard device for
    quality-stratifying pretraining data without an absolute
    threshold (each language gets its own cutoffs). Scores come from
    doc_lm_score (add-1 bigram LM, grid-exact); the tercile is
    ntile(3) over a TOTAL order (score desc, doc_id asc), so bucket
    membership is deterministic; per-bucket means re-aggregate the
    1e-6 grid integers exactly with one final division. Scale: one
    window over (lang) — partitioned by a low-cardinality key whose
    per-partition size is bounded by the language's doc count; for
    100 TB corpora swap ntile for percentile thresholds computed per
    lang (constant frame) joined back — same semantics, no global
    sort within giant languages."""
    scores = doc_lm_score(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    j = scores.join(docs, "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logp").desc(), F.col("doc_id").asc()
    )
    b = j.withColumn("bucket", F.ntile(3).over(w))
    q = F.floor(F.col("avg_logp") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    return (
        b.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(q).cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1000000.0))
            ).alias("mean_logp"),
        )
        .orderBy("lang", "bucket")
    )


def embedding_mmd_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise linear-kernel MMD² + mean-vector cosine between every
    label pair (`operators/similarity.embedding_mmd_shift`) — the
    domain-shift screen run before mixing embedding corpora."""
    return similarity.embedding_mmd_shift(_embs(spark, sf_dir))


def doc_charclass_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class / mojibake encoding-health audit per
    (lang, source) cell (`operators/text_analysis.charclass_audit`)."""
    return text_analysis.charclass_audit(_docs(spark, sf_dir))


def doc_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source OOV rates against the corpus top-1000 vocabulary
    (`operators/text_analysis.vocab_coverage`)."""
    return text_analysis.vocab_coverage(_docs(spark, sf_dir))


def doc_stylometry_burrows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta style distance between every source pair
    (`operators/text_analysis.stylometry_burrows_delta`)."""
    return text_analysis.stylometry_burrows_delta(_docs(spark, sf_dir))


def doc_gopher_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gopher-rule failure counts and pass rate
    (`operators/text_analysis.gopher_filter_report`)."""
    return text_analysis.gopher_filter_report(_docs(spark, sf_dir))


def doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the heuristic `lang_id`
    prediction crossed with the labeled `lang` column, with per-true-
    language row shares — the evaluation view that tells you WHICH
    languages the classifier confuses before you trust its routing
    (the eval twin of `doc_lang_id`, which only emits predictions).

    Scale: one lang_id map stage, one broadcast-sized join back to
    the labels, one |langs|² aggregate."""
    docs = _docs(spark, sf_dir)
    pred = text_analysis.lang_id(docs)
    j = docs.select("doc_id", "lang").join(pred, "doc_id")
    per = j.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("lang")
    from stream_processing_system_spark.functions.scalar import det_round

    return per.select(
        "lang",
        "lang_pred",
        F.col("n_docs").cast("long").alias("n_docs"),
        det_round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w).cast("double"),
            6,
        ).alias("row_share"),
    ).orderBy("lang", "lang_pred")


def dedup_family_histogram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-family size distribution over the documents corpus
    (`operators/dedup.dedup_family_histogram`)."""
    return dedup.dedup_family_histogram(_docs(spark, sf_dir), "doc_id", "text")


def embedding_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN label accuracy on a deterministic 1/10
    sample (`operators/similarity.knn_label_eval`)."""
    return similarity.knn_label_eval(_embs(spark, sf_dir))


def doc_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Simpson token concentration + effective vocabulary
    (`operators/text_analysis.simpson_diversity` — exact integer
    c(c−1) sums, no transcendentals)."""
    return text_analysis.simpson_diversity(_docs(spark, sf_dir))


def doc_length_lognormal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lognormal fit of document token lengths
    (`operators/text_analysis.length_lognormal_fit` — 1e-9-grid
    ln moments, division-free centering, fitted median exp(μ))."""
    return text_analysis.length_lognormal_fit(_docs(spark, sf_dir))


def media_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-video scene-cut profile from sampled frame fingerprints:
    a cut is a CHANGE between consecutive sampled frames' content
    fingerprints (`operators/multimodal.frame_fingerprints` — the
    documented deterministic stub decode; a real pipeline swaps in
    luma-histogram distances, the Spark shape is identical). The
    standard pre-feature for video curation: cut density separates
    static slideware from edited footage, and the sampler keys
    frame-extraction budgets off it.

    Exactness: fingerprints and frame indices are exact integers;
    the cut flag is an integer lag-compare; cut_rate is one double
    division. Shape: the Arrow-batched fingerprint stage, then a
    per-video lag window over ≤16 sampled frames (bounded frames
    per video by construction, so the window partition is tiny at
    any scale) and a per-video aggregate."""
    media = multimodal.fake_media_from_documents(spark, _docs(spark, sf_dir))
    sigs = multimodal.frame_fingerprints(media, every_ms=1000)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    flagged = sigs.select(
        "media_id",
        F.when(
            F.lag("fp").over(w).isNotNull()
            & (F.col("fp") != F.lag("fp").over(w)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("cut"),
    )
    agg = flagged.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("cut").alias("n_cuts"),
    )
    return agg.select(
        "media_id",
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("n_cuts").cast("long").alias("n_cuts"),
        F.when(
            F.col("n_frames") > 1,
            F.col("n_cuts").cast("double")
            / (F.col("n_frames").cast("double") - F.lit(1.0)),
        ).alias("cut_rate"),
    ).orderBy("media_id")


def doc_flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch reading-ease profile
    (`operators/text_analysis.flesch_reading_ease` — integer
    word/sentence/syllable-run counts, per-doc score floored onto
    the 1e-6 grid before the source mean)."""
    return text_analysis.flesch_reading_ease(_docs(spark, sf_dir))


def embedding_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate of the embedding corpus
    (`operators/similarity.twonn_intrinsic_dim` — probe-capped exact
    integer-grid squared distances, 1e-9-grid ln(d2/d1)). 100 probes
    keep the O(probes·N) brute pass at half the kNN-eval budget —
    the TwoNN estimator's spread at 100 probes is already well under
    the ±1 dimension a consumer of this number cares about."""
    return similarity.twonn_intrinsic_dim(
        _embs(spark, sf_dir), max_probes=100
    )


def media_frame_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-video entropy of the sampled-frame fingerprint
    distribution: 0 nats = a static slideshow (every sampled frame
    identical), ln(n_frames) = maximally diverse footage — the
    companion number to `media_scene_cuts` (cut density says how
    OFTEN content changes; entropy says how many distinct looks the
    video has). Same documented stub decode; a real pipeline swaps
    luma-histogram signatures into the identical Spark shape.

    Exactness: per-(video, fingerprint) counts are exact integers
    over ≤16 frames; each fingerprint's −p·ln p term is floored
    once onto the 1e-9 grid before the per-video sum (the chi2
    device); entropy is one final division."""
    from stream_processing_system_spark.functions.scalar import det_round

    media = multimodal.fake_media_from_documents(spark, _docs(spark, sf_dir))
    sigs = multimodal.frame_fingerprints(media, every_ms=1000)
    d38 = "decimal(38,0)"
    cells = sigs.groupBy("media_id", "fp").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("media_id")
    staged = cells.select(
        "media_id",
        "c",
        F.sum("c").over(w).alias("n"),
    )
    cd = F.col("c").cast("double")
    nd = F.col("n").cast("double")
    micro = F.floor(
        -((cd / nd) * F.log(cd / nd)) * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    agg = staged.select("media_id", "n", micro.alias("m")).groupBy(
        "media_id"
    ).agg(
        F.max("n").alias("n_frames"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("m").cast(d38)).alias("s"),
    )
    return agg.select(
        "media_id",
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        det_round(F.col("s").cast("double") / F.lit(1e9), 6).alias(
            "frame_entropy_nats"
        ),
    ).orderBy("media_id")


def dedup_source_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report per source: how exact dedup (the
    `dedup_exact` md5 keeper rule — min doc_id per normalized-text
    digest) SHIFTS the source mixture. A curation pipeline watches
    exactly this table: a source whose share drops after dedup was
    padding the corpus with copies, and mixture weights tuned
    BEFORE dedup are silently wrong AFTER it.

    Exactness: keeper selection is the proven md5 min-id rule; all
    counts are exact integers; the three shares are single double
    divisions against broadcast 1-row totals."""
    from stream_processing_system_spark.functions.scalar import det_round
    from stream_processing_system_spark.operators.dedup import (
        normalized_text,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    digests = docs.select(
        "doc_id",
        "source",
        F.md5(normalized_text(F.col("text"))).alias("_digest"),
    ).localCheckpoint(eager=True)
    keepers = digests.groupBy("_digest").agg(
        F.min("doc_id").alias("doc_id")
    )
    before = digests.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    after = (
        digests.join(keepers, ["_digest", "doc_id"])
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_keepers"))
    )
    joined = before.join(after, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce(F.col("n_keepers"), F.lit(0)).alias("n_keepers"),
    )
    tot = joined.agg(
        F.sum("n_docs").alias("tb"),
        F.sum("n_keepers").alias("ta"),
    )
    j = joined.crossJoin(F.broadcast(tot))
    share_b = F.col("n_docs").cast("double") / F.col("tb").cast("double")
    share_a = F.col("n_keepers").cast("double") / F.col("ta").cast(
        "double"
    )
    return j.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_keepers").cast("long").alias("n_keepers"),
        det_round(share_b, 6).alias("share_before"),
        det_round(share_a, 6).alias("share_after"),
        det_round(share_a - share_b, 6).alias("share_drift"),
    ).orderBy("source")


def doc_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Chao1 vocabulary estimate + Good-Turing unseen
    mass (`operators/text_analysis.vocab_richness` — exact
    frequency-of-frequencies off one token aggregate)."""
    return text_analysis.vocab_richness(_docs(spark, sf_dir))


def doc_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence vs the corpus distribution
    (`operators/text_analysis.source_unigram_kl` — 1e-9-grid ln
    terms, exact DECIMAL sums, one division per source)."""
    return text_analysis.source_unigram_kl(_docs(spark, sf_dir))


def ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the trained-IVF retrieval as a function of
    `n_probe` ∈ {1, 2, 4, 8} against the brute-force cosine truth —
    the tuning curve an ANN deployment actually reads (FAISS's
    nprobe knob): it prices the recall/scan-fraction trade before
    committing a partition layout. Completes the retrieval-quality
    report family (`ann_recall_curve` sweeps k for the LSH path;
    `dedup_banding_recall` does the analogue for MinHash banding;
    this sweeps the probe budget for the IVF path).

    Determinism: the same trained codebook as `ivf_topk` (Lloyd's
    with det-rounded centroids, cross-engine reproducible), argmax
    assignment and probe pick with (sim, −cid) tie-breaks, both
    retrieval lists 6dp-rounded with id tie-breaks — the recall is
    arithmetic on two deterministic ≤10-id sets, one double
    division per row.

    Shape: ONE centroid train and ONE argmax assignment scan —
    localCheckpointed, then shared by all four probe budgets (each
    budget is a broadcast semi-join on the centroid id over the
    cached assigned frame + a top-10) — plus one brute top-10 scan.
    The first cut of this plan called `ivf_topk` per budget and
    paid 4 trains + 4 assignment scans (12.3 s at sf0.1); sharing
    the assignment is the whole point of an IVF index, so the
    report now builds it exactly once. Output is 4 rows."""
    embs = _embs(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    cents = similarity.train_ivf_centroids(embs)
    centroids = similarity._centroid_frame(spark, cents)
    # round-10: argmax assignment as the bit-exact Arrow fold
    # (similarity.assign_centroids) — no K× fan-out, no exchange
    assigned = similarity.assign_centroids(embs, cents).localCheckpoint(
        eager=True
    )
    qv = q.select(F.col("embedding").alias("_qvec"))
    probe_order = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "_cid",
            similarity.cosine_similarity(
                F.col("embedding"), F.col("_cvec")
            ).alias("_csim"),
        )
        .orderBy(F.col("_csim").desc(), F.col("_cid").asc())
    )
    brute = similarity.cosine_topk(embs, q, k=10).select("vec_id")
    sim = F.round(
        similarity.cosine_similarity(F.col("embedding"), F.col("_qvec")),
        6,
    )
    parts = []
    for p in (1, 2, 4, 8):
        probe_ids = F.broadcast(
            probe_order.limit(p).select(
                F.col("_cid").alias("_centroid")
            )
        )
        ids = (
            assigned.join(probe_ids, "_centroid")
            .crossJoin(F.broadcast(qv))
            .select("vec_id", sim.alias("sim"))
            .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
            .limit(10)
            .select("vec_id")
        )
        parts.append(
            brute.join(ids, "vec_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(
                F.lit(p).cast("long").alias("n_probe"),
                F.col("n_hits").cast("long").alias("n_hits"),
                (
                    F.col("n_hits").cast("double") / F.lit(10.0)
                ).alias("recall"),
            )
        )
    out = parts[0]
    for frame in parts[1:]:
        out = out.unionByName(frame)
    return out.orderBy("n_probe")
