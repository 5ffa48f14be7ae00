"""LLM-data-pipeline EXT: dedup families (exact/MinHash/SimHash/ngram/embedding), similarity / ANN, text quality + curation, training-set assembly, and their DuckDB oracles."""

from __future__ import annotations

from .shared import *  # noqa: F401,F403


# --------------------------------------------------------------------------
# LLM-pipeline EXT: dedup / similarity / text
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(load(spark, sf_dir, "documents"))


def q_dedup_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(load(spark, sf_dir, "documents"))


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS, not pairs: connected components over the
    MinHash-LSH candidate graph (min-label propagation; oracle = recursive
    CTE over the identical pair SQL). Every doc gets a cluster_id = min
    doc_id reachable; singletons are their own cluster."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs)
    return dedup.connected_components(pairs, docs.select("doc_id"))


def q_dedup_canonical_docs(spark, sf_dir):
    """The deduplicated corpus: one representative per near-dup cluster
    (the min-id member IS the canonical doc, so the filter is a plan-local
    predicate on the clusters output — no extra join)."""
    clusters = q_dedup_clusters(spark, sf_dir)
    return clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact shingle-Jaccard verify over the MinHash-LSH candidate set —
    the classic two-stage near-dup pipeline (candidates O(collisions), not
    O(n²): no crossJoin anywhere in the plan). The candidate set is
    materialized once (localCheckpoint): the verify stage references it
    twice (id pruning + the pair join), and without materialization each
    reference re-runs the whole MinHash pipeline — at 100 TB the two
    phases would be separate jobs with the candidates persisted between
    them, which this mirrors in-session."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs).localCheckpoint()
    return dedup.ngram_jaccard(docs, pairs).filter(F.col("jaccard") > 0.2)


def q_dedup_containment(spark, sf_dir):
    """Asymmetric containment verify over the MinHash-LSH candidate set:
    |A∩B|/|A| and |A∩B|/|B| — flags excerpt/quote containment that
    symmetric Jaccard misses. Same two-stage shape as the Jaccard verify
    (candidates O(collisions), docs pruned before shingling)."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs).localCheckpoint()
    return dedup.ngram_containment(docs, pairs)


def q_source_overlap(spark, sf_dir):
    """Cross-source contamination matrix: distinct contents shared by each
    source pair — the dataset-card number that tells you two crawl
    sources overlap before you mix them. Uses the order-insensitive
    bag-of-words fingerprint (doc_fingerprints' bag_fp): re-ordered copies
    across crawls are exactly the near-dup class this report exists to
    catch (exact-fingerprint overlap is the stricter subset).
    Fingerprints-only shuffle (32-byte digests), self equi-join."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    docs = load(spark, sf_dir, "documents")
    fps = docs.select(
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))
        ).alias("fingerprint"),
        "source",
    ).distinct()
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.countDistinct("a.fingerprint").alias("n_shared"))
    )


def q_dedup_simhash(spark, sf_dir):
    return dedup.simhash(load(spark, sf_dir, "documents"))


def q_dedup_simhash_pairs(spark, sf_dir):
    """Pigeonhole-blocked simhash near-dup pairs. Oracle-exact: the result
    (all pairs at hamming <= 3) is blocking-independent, so the SQL twin
    verifies it with a plain all-pairs filter over the same simhash
    values."""
    return dedup.simhash_near_dups(load(spark, sf_dir, "documents"), max_hamming=3)


def q_sim_cosine_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, _query_vector(spark, sf_dir), k=10)


def q_sim_cosine_topk_lsh(spark, sf_dir):
    """Oracle-verified ANN: the DuckDB twin replicates the md5-derived
    hyperplanes and the query's sign bucket, so the hash check covers the
    bucket-restricted top-k semantics exactly (recall < 1 included)."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_lsh(emb, _query_vector(spark, sf_dir), k=10)


def q_dedup_embedding_lsh(spark, sf_dir):
    """Oracle-verified: the DuckDB twin replicates the deterministic
    md5-derived hyperplanes and sign buckets, so the hash check covers the
    bucketed candidate semantics themselves (including sub-1.0 recall),
    not just a superset."""
    emb = load(spark, sf_dir, "embeddings")
    # n_planes pinned so the DuckDB twin's replicated hyperplanes match;
    # production callers omit it and get the auto_planes corpus-size dial
    return similarity.embedding_near_dups_lsh(emb, threshold=0.4, n_planes=4)


def q_dedup_embedding_clusters(spark, sf_dir):
    """Embedding-level duplicate CLUSTERS: connected components over the
    block-partitioned exact near-dup pair graph (cosine >= 0.4). Same
    min-label propagation operator as the MinHash document clusters —
    every vector gets cluster_id = min vec_id reachable; oracle is a
    recursive CTE over the identical pair SQL."""
    emb = load(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dups(emb, threshold=0.4)
    return dedup.connected_components(
        pairs, emb.select("vec_id"), node_col="vec_id"
    )


def q_sim_cosine_topk_ivf(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, _query_vector(spark, sf_dir), k=10, nprobe=4)


def q_text_decontaminate(spark, sf_dir):
    """Pre-training decontamination against a held-out benchmark split
    (every 50th doc is the deterministic eval set): per training doc, the
    count of distinct shared 5-grams + the drop flag. Broadcast of the tiny
    benchmark gram set — the corpus side never shuffles bodies."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return text.decontaminate(train, bench, n=5)


def q_text_tfidf_top_terms(spark, sf_dir):
    """Per-doc top-3 TF-IDF terms (smoothed idf, rounded-before-rank so
    tie order is engine-exact)."""
    return text.tf_idf_top_terms(load(spark, sf_dir, "documents"), k=3)


def q_text_stats(spark, sf_dir):
    return text.text_stats(load(spark, sf_dir, "documents"))


def q_text_quality(spark, sf_dir):
    return text.quality_score(load(spark, sf_dir, "documents"))


def q_lang_id(spark, sf_dir):
    return text.lang_id(load(spark, sf_dir, "documents"))


def q_token_count(spark, sf_dir):
    return text.token_counts(load(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark, sf_dir):
    return text.doc_fingerprints(load(spark, sf_dir, "documents"))


def q_text_chunking(spark, sf_dir):
    return text.chunk_documents(load(spark, sf_dir, "documents"))


def q_text_redact_pii(spark, sf_dir):
    return text.redact_pii(load(spark, sf_dir, "documents"))


def q_text_top_terms(spark, sf_dir):
    return text.corpus_term_frequencies(load(spark, sf_dir, "documents"))


def q_lang_id_trigram(spark, sf_dir):
    return text.lang_id_trigram(load(spark, sf_dir, "documents"))


def q_text_gopher_quality(spark, sf_dir):
    return text.gopher_quality_flags(load(spark, sf_dir, "documents"))


def q_text_repetition(spark, sf_dir):
    return text.repetition_stats(load(spark, sf_dir, "documents"), n=2)


def q_train_val_split(spark, sf_dir):
    """Stable train/val/test assignment: membership is a pure function of
    doc_id (multiplicative hash), so growing the corpus never moves an
    existing doc between splits. Scan-local — no shuffle, no state."""
    return training.train_val_test_split(
        load(spark, sf_dir, "documents"), "doc_id"
    ).select("doc_id", "split")


def q_pack_sequences(spark, sf_dir):
    """Segment packing of docs into fixed 8192-char budget bins per source
    (n_chars as the token proxy; token_counts feeds the real pipeline).
    One window cumsum per source partition — fully data-parallel."""
    return training.pack_sequences(
        load(spark, sf_dir, "documents"),
        budget=8192,
        tokens_col="n_chars",
        id_col="doc_id",
        group_col="source",
    )


def q_corpus_mix(spark, sf_dir):
    """Deterministic per-source corpus rebalance: the oracle-exact twin of
    `sample_stratified` (hash-gated membership instead of Bernoulli draws —
    same rates, reproducible across engines and runs)."""
    return training.mix_corpora(
        load(spark, sf_dir, "documents"),
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
    ).select("doc_id", "source")


def q_corpus_mix_upsampled(spark, sf_dir):
    """Mixing with upsampling: src0 at 2.5x (2 copies + hash-gated 50%),
    src1 kept, src2 quarter-sampled — expected copies == weight,
    deterministic, scan-local explode."""
    return training.mix_corpora_upsampled(
        load(spark, sf_dir, "documents"),
        {"src0": 2.5, "src1": 1.0, "src2": 0.25},
    ).select("doc_id", "source", "copy_id")


def q_sample_stratified(spark, sf_dir):
    """Per-source corpus rebalance via the SEEDED id-hash gate —
    oracle-exact (the gate is plain integer arithmetic, reproduced
    term-for-term in the DuckDB twin), deterministic across runs, and a
    different seed draws a different sample."""
    docs = load(spark, sf_dir, "documents")
    fractions = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
    return rel.sample_stratified(docs, "source", fractions, seed=42).select(
        "doc_id", "source"
    )


def q_corpus_curation_pipeline(spark, sf_dir):
    """The curation-side flagship, composing this round's operators as ONE
    declarative plan: line-level boilerplate removal (in-order rebuild) ->
    drop emptied docs -> per-source top-50% quality gate (exact
    percent_rank over the CLEANED text) -> exact dedup on cleaned content
    (keep lowest doc_id) -> per-source token-budget fill. Every stage is
    an independently-oracled operator; this verifies the composition.
    Scale shape: one line-hash agg + broadcast anti-join, two per-source
    window exchanges (rank + cumsum), one fingerprint groupBy, two
    semi-joins on doc_id — no collect, no crossJoin, no Python."""
    docs = load(spark, sf_dir, "documents")
    cleaned = dedup.remove_boilerplate_lines(docs, max_doc_freq=2)
    # `alive` is no longer checkpointed (round 17): with quality attached
    # scan-locally below it has exactly ONE downstream reference (the
    # gate chain), so the r16 materialization — justified then by three
    # references — would now be a pure extra job barrier; `gated`'s
    # checkpoint right after covers the multi-reference stage.
    alive = (
        cleaned.filter(F.col("text_clean") != "")
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            "text_clean",
            F.length("text_clean").alias("n_chars_clean"),
        )
    )
    # quality attaches as ONE scan-local column on `alive` (round 17,
    # guide §2.4): the old shape ran quality_score as a separate relation
    # and joined it back on doc_id — an exchange plus a second pass over
    # the checkpointed text that carried nothing but this expression.
    #
    # materialize the gate output once (same policy as `alive` above):
    # the fingerprint-keep derivation AND the survivor semi-join both
    # reference `gated`, and each reference re-ran the quality features
    # + the per-source percent_rank window over the cleaned corpus
    # (round 16, guide §2.4)
    gated = training.select_top_quality_percent(
        alive.withColumn("quality", text.quality_expr(F.col("text_clean"))),
        frac=0.5,
    ).localCheckpoint()
    keep = (
        dedup.exact_dedup(
            gated.select("doc_id", F.col("text_clean").alias("text"))
        )
        .select(F.col("keep_id").alias("doc_id"))
    )
    survivors = gated.join(keep, "doc_id", "left_semi")
    return training.token_budget_fill(
        survivors.select("doc_id", "source", "n_chars_clean"),
        budget=5_000,
        tokens_col="n_chars_clean",
    ).select("doc_id", "source", "n_chars_clean", "cum_before")


def q_training_set_pipeline(spark, sf_dir):
    """The LLM-side flagship: full training-set assembly as ONE declarative
    plan — Gopher quality gate -> exact dedup (keep lowest doc_id) ->
    whitespace token counts -> stable train/val/test split (hash of
    doc_id) -> per-split sequence packing (window cumsum, budget 8192).
    Every stage is an independently-oracled operator; this verifies the
    composition end-to-end. Scale shape: two semi-joins on doc_id + one
    fingerprint groupBy + windows partitioned by (split, id-range shard)
    — `shard_docs` bounds every window partition to 200 docs, so packing
    parallelism scales with the corpus instead of collapsing to the 3
    split values; no collect, no crossJoin, no Python."""
    docs = load(spark, sf_dir, "documents")
    # materialize the PASSED ID SET once (ids only — 8 bytes/doc at any
    # scale): `passed` is referenced by both the fingerprint-keep
    # derivation and the kept corpus, and each reference re-ran the full
    # scan-local Gopher rule block (array lambdas + rlike per token —
    # the most expensive per-row expressions in the plan) (round 16,
    # guide §2.4/§5)
    passed_ids = (
        text.gopher_quality_flags(docs)
        .filter(F.col("passes_gopher"))
        .select("doc_id")
        .localCheckpoint()
    )
    passed = docs.join(passed_ids, "doc_id", "left_semi")
    keep = (
        text.doc_fingerprints(passed)
        .groupBy("content_fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = passed.join(keep, "doc_id", "left_semi")
    toks = text.token_counts(kept).select("doc_id", "ws_tokens")
    split = training.train_val_test_split(toks, "doc_id").select(
        "doc_id", "ws_tokens", "split"
    )
    return training.pack_sequences(
        split,
        budget=8192,
        tokens_col="ws_tokens",
        id_col="doc_id",
        group_col="split",
        shard_docs=200,
    ).select("doc_id", "split", "ws_tokens", "bin_id", "bin_offset")


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (cluster-then-compare): deterministic k-means quantizer ->
    intra-cluster cosine pairs -> flag the higher id of every pair >= 0.35.
    The O(n²) pair stage is confined to per-cluster equi-join partitions —
    the published recipe for semantic dedup at corpus scale."""
    return similarity.semantic_dedup(
        load(spark, sf_dir, "embeddings"), threshold=0.35, k_centroids=8
    )


def q_knn_graph_lsh(spark, sf_dir):
    """Approximate k-NN graph (top-3 cosine neighbors per vector) with
    candidates restricted to sign-LSH buckets — the input artifact for
    graph-based clustering/label-propagation over a corpus. The oracle
    replicates the deterministic hyperplanes, so recall behavior itself is
    value-verified, not just the exact-scoring stage."""
    return similarity.knn_graph(
        load(spark, sf_dir, "embeddings"), k=3, n_planes=4
    )


def q_hard_negative_mining(spark, sf_dir):
    """Hard-negative mining for contrastive training (round 12): per
    vector, the top-2 most-similar vectors with a DIFFERENT label —
    similarity.hard_negatives' bucketed LSH join with the cross-label
    filter inside the join. Deterministic hyperplanes (pinned
    n_planes=4) so the oracle replicates bucketing, the label filter,
    and the rounded cosine ranking value-for-value."""
    return similarity.hard_negatives(
        load(spark, sf_dir, "embeddings"), k=2, n_planes=4
    )


def q_contrastive_triplets(spark, sf_dir):
    """Contrastive batch assembly (round 12): one row per anchor with
    its mined positive (nearest same-label vector) and its hard
    negatives (nearest 2 cross-label, rank-ordered comma lists; scores
    serialized as engine-stable micro-integers). One LSH candidate join
    feeds both mines. Pinned n_planes=4 so the oracle replicates the
    bucketing, both windows, and the list assembly value-for-value."""
    return similarity.contrastive_triplets(
        load(spark, sf_dir, "embeddings"), n_negatives=2, n_planes=4
    )


def q_pq_encode(spark, sf_dir):
    """Product quantization encode (round 13): every embedding compressed
    to m=4 code ids against the deterministic 8-entry-per-subspace
    codebook (seed = lowest-id vectors, the IVF determinism rule), plus
    the total quantization error in micro units — the dial a production
    deployment watches to size n_codes. Linear in the corpus; the
    codebook equi-join broadcasts at constant size. The oracle replays
    codebook construction, subvector slicing, the micro-int distance
    ranking, and the code assembly value-for-value."""
    return similarity.pq_encode(
        load(spark, sf_dir, "embeddings"), m=4, n_codes=8
    )


def q_sim_topk_pq(spark, sf_dir):
    """Asymmetric-distance top-k over PQ codes (round 13): the IVF-PQ
    search kernel — encoded corpus scored by summing query-to-centroid
    table lookups, never touching raw vectors per candidate. Completes
    the ANN family: brute-force (exact) / LSH (bucketed) / IVF
    (partitioned) / PQ (compressed)."""
    from .shared import _query_vector

    return similarity.pq_topk(
        load(spark, sf_dir, "embeddings"),
        _query_vector(spark, sf_dir, 0), k=5, m=4, n_codes=8,
    )


def q_ivfpq_encode(spark, sf_dir):
    """IVF-PQ encode (round 13): the complete IVFADC layout — coarse
    quantizer routes each vector to an inverted list (k_centroids=8
    deterministic seeds, micro-int argmin), PQ codes quantize the
    RESIDUAL to the list centroid (m=4 subspaces x 8 codes seeded from
    the lowest-id residuals). Output is the production index row:
    (vec_id, centroid_id, codes, err_micro). The oracle replays coarse
    assignment, residual arithmetic, codebook seeding, and the micro-int
    code ranking value-for-value."""
    return similarity.ivfpq_encode(
        load(spark, sf_dir, "embeddings"), k_centroids=8, m=4, n_codes=8
    )


def q_sim_topk_ivfpq(spark, sf_dir):
    """IVFADC search (round 13): nprobe=2 coarse lists probed, one
    asymmetric distance table per probed list built from the query's
    PER-LIST residual, candidates scored by code lookup — the billion-
    vector FAISS recipe as a Spark plan where the probe is an equi-join
    key (partition pruning on a centroid-partitioned table). Finishes
    the ANN ladder: brute-force / LSH / IVF / PQ / IVF-PQ."""
    from .shared import _query_vector

    return similarity.ivfpq_topk(
        load(spark, sf_dir, "embeddings"),
        _query_vector(spark, sf_dir, 0),
        k=5, k_centroids=8, nprobe=2, m=4, n_codes=8,
    )


def q_dedup_incremental(spark, sf_dir):
    """Incremental dedup: a 'new crawl' batch (doc_id % 10 < 2) collapsed
    within-batch then anti-joined against the existing corpus fingerprint
    index — the production shape where the corpus is never re-read."""
    docs = load(spark, sf_dir, "documents")
    return dedup.incremental_dedup(
        docs.filter(F.col("doc_id") % 10 < 2),
        docs.filter(F.col("doc_id") % 10 >= 2),
    )


def q_quality_classifier(spark, sf_dir):
    """Classifier-style quality gate: fixed linear model over the
    text_stats feature block, softsign squash (transcendental-free, so
    bit-identical across engines), keep = score >= 0.5."""
    return text.quality_classifier(load(spark, sf_dir, "documents"))


def q_corpus_report(spark, sf_dir):
    """Dataset-card rollup per (source, lang): docs/tokens/chars, distinct
    contents, exact-duplicate rate. Integer sums + one division only."""
    return training.corpus_report(load(spark, sf_dir, "documents"))


def q_events_zscore(spark, sf_dir):
    """Per-type z-score outlier flags from exact decimal moments — the
    distributional validation gate over the events stream."""
    return rel.zscore_outliers(load(spark, sf_dir, "events"))


def q_win_cume_ntile(spark, sf_dir):
    """Distribution-rank window suite: ntile/cume_dist/percent_rank over a
    tie-free (value, event_id) order within each event type."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


def q_dedup_ngram_spans(spark, sf_dir):
    """Cross-document repeated 13-gram detection — the n-gram-granular
    approximation of exact substring dedup (Lee et al. 2022 / RefinedWeb).
    Exploded window hashes + two fingerprint-keyed aggregations; the
    irreducible shuffle is md5-per-window, never document bodies."""
    return dedup.duplicated_ngram_spans(load(spark, sf_dir, "documents"), n=13)


def q_dedup_ngram_spans_sampled(spark, sf_dir):
    """The 100-TB fallback for dedup_ngram_spans as code, not a docstring:
    gram-hash-gated 25% sample of the window space. Gating on the gram's
    own hash keeps all occurrences of a kept gram together, so the
    cross-document test stays exact within the sample and the md5-window
    shuffle shrinks to `rate` of the token volume. Deterministic ->
    oracle-exact."""
    return dedup.duplicated_ngram_spans_sampled(
        load(spark, sf_dir, "documents"), n=13, rate=0.25
    )


#: shared >=60-char boilerplate sentences for the ExactSubstr fixture —
#: three families so spans dedup within a family but never across
_BOILER = (
    "common legal disclaimer all rights reserved unauthorized copying"
    " of this document is strictly prohibited",
    "subscribe to our newsletter for the latest updates and exclusive"
    " offers delivered straight to your inbox",
    "this page was generated automatically please do not reply"
    " directly to this message thank you kindly",
)


def q_dedup_exact_substrings(spark, sf_dir):
    """Character-EXACT substring dedup (round 12, Lee et al. 2022
    ExactSubstr — upgrades dedup_ngram_spans' 13-gram approximation):
    each document is truncated to 300 chars and decorated with one of
    three >=60-char boilerplate sentences (family = doc_id % 3), and
    every doc_id % 5 == 0 doc repeats its sentence — so cross-document
    AND within-document duplicate spans both exist by construction.
    exact_substring_spans enumerates every 50-char window at stride 1,
    keeps corpus-frequency > 1 windows, and merges consecutive
    duplicated positions into maximal spans. The oracle mirrors window
    enumeration, md5 grouping, and the islands merge token-for-token;
    coincidental natural duplicates in the synthetic text are found by
    BOTH engines identically, so the construction doesn't have to
    prevent them."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    boiler = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(_BOILER[0]))
        .when(F.col("doc_id") % 3 == 1, F.lit(_BOILER[1]))
        .otherwise(F.lit(_BOILER[2]))
    )
    t = F.concat(
        F.substring(F.col("text"), 1, 300), F.lit(" "), boiler,
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit(" "), boiler))
        .otherwise(F.lit("")),
    )
    payload = docs.select("doc_id", t.alias("text"))
    return dedup.exact_substring_spans(payload, min_len=50)


def _staged_payload(spark, sf_dir):
    """Decorated corpus for the two-stage ExactSubstr key: docs with
    doc_id % 4 == 3 stay raw (the prefilter should prune most of them),
    the rest get their % 3 family boilerplate appended."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    boiler = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(_BOILER[0]))
        .when(F.col("doc_id") % 3 == 1, F.lit(_BOILER[1]))
        .otherwise(F.lit(_BOILER[2]))
    )
    t = F.concat(
        F.substring(F.col("text"), 1, 300),
        F.when(F.col("doc_id") % 4 != 3, F.concat(F.lit(" "), boiler))
        .otherwise(F.lit("")),
    )
    return docs.select("doc_id", t.alias("text"))


def q_dedup_exact_substr_staged(spark, sf_dir):
    """The 100-TB ExactSubstr deployment shape AS CODE (round 12): stage
    1 runs the cheap 13-gram cross-document prefilter
    (duplicated_ngram_spans — md5-per-token shuffle) and keeps only
    flagged documents (n_dup_windows > 0); stage 2 runs the
    character-exact stride-1 pass (exact_substring_spans — md5-per-CHAR
    shuffle) over that subset alone. On real corpora the flagged set is
    a small fraction, so the expensive exact shuffle touches a sliver of
    the corpus — the standard two-stage recipe the exact operator's
    docstring prescribes, here verified as a composition: the oracle
    mirrors BOTH stages token-for-token (window frequencies in stage 2
    are computed within the flagged subset, exactly as the code does).
    Three-quarters of the fixture docs carry family boilerplate (always
    flagged); the raw quarter is flagged only when natural cross-doc
    13-grams exist — both engines agree either way."""
    payload = _staged_payload(spark, sf_dir)
    flagged = (
        dedup.duplicated_ngram_spans(payload, n=13)
        .filter(F.col("n_dup_windows") > 0)
        .select("doc_id")
    )
    subset = payload.join(flagged, "doc_id", "left_semi")
    return dedup.exact_substring_spans(subset, min_len=50)


def q_dedup_substr_removal(spark, sf_dir):
    """The ExactSubstr ACTION step in the gate (round 12): the same
    decorated corpus as dedup_exact_substrings, with every maximal
    duplicated span CUT OUT of the text — dedup.remove_duplicate_spans'
    JVM-side F.aggregate fold walks the sorted span array carrying
    (cursor, acc). The oracle rebuilds each doc character-by-character
    (keep positions not covered by any span) and both engines emit
    md5(text_clean) — a value-level proof the reconstruction is
    byte-identical, not just the same length."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    boiler = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(_BOILER[0]))
        .when(F.col("doc_id") % 3 == 1, F.lit(_BOILER[1]))
        .otherwise(F.lit(_BOILER[2]))
    )
    t = F.concat(
        F.substring(F.col("text"), 1, 300), F.lit(" "), boiler,
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit(" "), boiler))
        .otherwise(F.lit("")),
    )
    payload = docs.select("doc_id", t.alias("text"))
    return dedup.remove_duplicate_spans(payload, min_len=50)


def q_gzip_corpus_roundtrip(spark, sf_dir):
    """Read-side GZIP ingestion edge in the gate (round 12): each
    document is deflated into a real per-record gzip member (fixed
    mtime) and inflated back by sources.gzip_blobs.decode_gzip_text —
    stdlib gzip with trailer CRC verification, executor-side, the READ
    twin of the reference's gzip write path (CompressionHandler.java:
    43-46). gzip round-trips losslessly, so the oracle mirrors
    md5(text) and the UTF-8 byte length straight off the original
    column; the compressed size is deliberately NOT emitted (deflate
    output is library-version-dependent — only the round-trip is
    contract)."""
    from ..sources.gzip_blobs import decode_gzip_text, encode_gzip_text

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    ).select("doc_id", "text")
    decoded = decode_gzip_text(encode_gzip_text(docs))
    return decoded.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.col("n_bytes"),
        "decode_ok",
    )


def q_dedup_boilerplate_lines(spark, sf_dir):
    """Line-level boilerplate removal (CCNet/RefinedWeb recipe): lines in
    more than 2 distinct documents are dropped everywhere and documents
    are rebuilt in line order — on the single-line fixture corpus this
    empties exact-duplicate cliques of size > 2, leaving unique and
    lightly-duplicated docs intact."""
    return dedup.remove_boilerplate_lines(
        load(spark, sf_dir, "documents"), max_doc_freq=2
    )


def q_media_resize_jpeg(spark, sf_dir):
    """JPEG resize ROUND-TRIP in the gate (round 13): the 16x8
    constant-block JPEGs resized to 1x1 by resize_images' real JPEG path
    (full decode -> nearest-neighbor -> re-encode, a second lossy
    generation) and decoded AGAIN. Nearest at 1x1 keeps pixel (0,0) —
    the decoded block-0 color — and the 1x1 re-encode edge-pads to one
    CONSTANT MCU, so BOTH lossy generations stay inside the closed-form
    quantization chain: the oracle applies the fixed-point
    decode-reconstruct chain twice."""
    from ..operators.multimodal import (
        decode_image_stats, encode_jpeg_images, resize_images,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    jpegs = encode_jpeg_images(
        _jpeg_const_media(docs), width=16, height=8
    ).select("media_id", F.lit("image").alias("kind"), "payload")
    small = resize_images(jpegs, width=1, height=1).select(
        "media_id", "payload"
    )
    return decode_image_stats(small)


def q_dedup_intra_doc_lines(spark, sf_dir):
    """WITHIN-document repeated-line removal (round 13): the fixture
    assembles multi-line documents from text chunks with deliberate
    repeats (line 1 reappears at position 3; even ids also repeat
    line 2 at the tail), and dedup.dedup_intra_doc_lines keeps first
    occurrences and rebuilds — a map-only zero-shuffle fold whose
    reconstruction the oracle value-checks by md5. Complement of
    dedup_boilerplate_lines (corpus-wide)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)

    def c(i):
        return F.substring("text", 1 + 30 * i, 30)

    nl = F.lit("\n")
    t = F.concat(c(0), nl, c(1), nl, c(0), nl, c(2))
    t = F.when(
        F.col("doc_id") % 2 == 0, F.concat(t, nl, c(1))
    ).otherwise(t)
    payload = docs.select("doc_id", t.alias("text"))
    return dedup.dedup_intra_doc_lines(payload)


def q_udtf_charge_legs(spark, sf_dir):
    """Python UDTF in a LATERAL join (the §2B UDF/UDAF/UDTF surface's
    table-function leg): each lineitem expands to its three charge
    components. Rounding happens in engine SQL (HALF_UP both sides);
    the UDTF emits raw IEEE doubles mirroring the oracle's op order."""
    from ..functions.scalars import ChargeLegsUDTF

    spark.udtf.register("charge_legs", ChargeLegsUDTF)
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_udtf")
    return spark.sql("""
        SELECT l.l_orderkey, l.l_linenumber, legs.component,
               round(legs.amount, 6) AS amount
        FROM _li_udtf AS l,
        LATERAL charge_legs(l.l_extendedprice, l.l_discount, l.l_tax) AS legs
    """)


def q_quality_percentile_gate(spark, sf_dir):
    """Per-source top-50% quality selection via exact percent_rank — the
    drift-free version of an absolute score threshold. Composes the
    quality scorer with the training-side gate."""
    docs = load(spark, sf_dir, "documents")
    # one scan-local projection (round 17, guide §2.4): the old
    # quality_score(docs) ⋈ docs join-back re-read the corpus and
    # exchanged it just to re-attach `source`
    scored = docs.select(
        "doc_id", "source", text.quality_expr(F.col("text")).alias("quality")
    )
    return training.select_top_quality_percent(scored, frac=0.5).select(
        "doc_id", "source", "quality", "pct_rank"
    )


def q_corpus_token_budget(spark, sf_dir):
    """Per-source 'fill until full' token-budget selection: window cumsum
    in deterministic id order, keep while the running total before the doc
    is under budget."""
    return training.token_budget_fill(
        load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars"),
        budget=5_000,
    )


def q_docs_prep_pipeline(spark, sf_dir):
    """End-to-end pretraining data prep as ONE composed plan: Gopher
    quality gate -> exact dedup on content fingerprint (keep lowest doc_id)
    -> chunk -> per-doc rollup (chunk + token counts). Each stage is an
    independently-oracled operator; this query verifies they compose."""
    docs = load(spark, sf_dir, "documents")
    # materialized PASSED/KEPT ID SETS (ids only): `passed` is referenced
    # by the fingerprint derivation + the kept corpus, and `kept` by BOTH
    # rollup branches — each reference re-ran the scan-local Gopher rule
    # block (round 16, guide §2.4/§5)
    passed_ids = (
        text.gopher_quality_flags(docs)
        .filter(F.col("passes_gopher"))
        .select("doc_id")
        .localCheckpoint()
    )
    passed = docs.join(passed_ids, "doc_id", "left_semi")
    # materialized KEPT ID SET: it has one reference, but pinning it keeps
    # the dedup aggregate's shuffle and its inner semi-join out of the
    # final plan — two broadcast semi-joins and no exchange, where the
    # unpinned shape plans three joins and an exchange
    keep = (
        text.doc_fingerprints(passed)
        .groupBy("content_fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .localCheckpoint()
    )
    kept = passed.join(keep, "doc_id", "left_semi")
    # per-doc rollup as ONE scan-local projection (round 17, guide §2.4):
    # the old shape exploded every chunk just to count it back down
    # (explode -> groupBy exchange) and then JOINED that count to a
    # second token_counts pass over the same rows — two exchanges and a
    # join whose both sides were projections of `kept`. chunk_count_expr
    # IS the chunker's row count by construction (see its contract), so
    # the rollup is exchange-free at any scale.
    norm = F.lower(F.trim(F.col("text")))
    return kept.select(
        "doc_id",
        text.chunk_count_expr(F.col("text"), chunk_tokens=64, overlap=16)
        .alias("n_chunks"),
        F.size(F.split(norm, r"\s+")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(norm, F.lit(text.TOKEN_PATTERN), 0))
        .alias("bpe_tokens"),
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing end-to-end: binary payloads derived
    deterministically from documents, decoded via the mapInPandas stub,
    features fed to the similarity operators' schema. Codecs are fakes
    (none installed); the Spark path — schema, Arrow batches, partitioning
    — is the real thing. ORACLE-EXACT: the payload is the UTF-8 bytes of
    md5(text), so the fake's md5(payload)-derived features are
    md5(md5(text)) — expressible in DuckDB byte-for-byte (its md5() takes
    VARCHAR only, which is why the payload is hex TEXT bytes, not raw
    digest bytes)."""
    from ..operators.multimodal import decode_and_featurize

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.md5("text"), "UTF-8").alias("payload"),
        F.lit("image/png").alias("mime"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    return decode_and_featurize(media, fake=True).select(
        "media_id",
        "kind",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "feature_sum"
        ),
        "decode_ok",
    )




def _minhash_sql(num_hashes: int = 8, bands: int = 4) -> tuple[str, str, str]:
    """Returns (full pair query, CTE body, final select) so the clusters
    oracle can splice the pair pipeline into a recursive-closure query."""
    rows = num_hashes // bands
    # mirror of dedup._shingle_base_hash/_mh_params: one md5 per shingle
    # folded to 32 bits mod p, then k linear permutations — the '0x'||hex
    # cast is DuckDB's portable hex->int
    p = dedup._MH_P
    base = f"(('0x'||substr(md5(s),1,8))::BIGINT % {p})"
    sig_exprs = ", ".join(
        "list_min(list_transform(sh, s -> ({a} * {base} + {b}) % {p})) AS h{i}".format(
            a=dedup._mh_params(i)[0], b=dedup._mh_params(i)[1],
            base=base, p=p, i=i,
        )
        for i in range(num_hashes)
    )
    band_exprs = ", ".join(
        "md5(concat_ws('|', '{b}', {hs})) AS band_{b}".format(
            b=b, hs=", ".join(f"h{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc, '{b}' AS band, band_{b} AS band_hash FROM banded"
        for b in range(bands)
    )
    ctes = f"""sh AS (SELECT doc_id AS doc, {_SHINGLES} AS sh FROM documents
                    WHERE len({_SHINGLES}) > 0),
        sig AS (SELECT doc, {sig_exprs} FROM sh),
        banded AS (SELECT doc, {band_exprs} FROM sig),
        buckets AS ({band_union})"""
    select = """
        SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc < b.doc"""
    return f"WITH {ctes} {select}", ctes, select


#: DuckDB CASE mirroring the _BOILER family pick — generated from the
#: same constant as the Spark keys so the fixture can't drift
_BOILER_CASE = (
    f"CASE WHEN doc_id % 3 = 0 THEN '{_BOILER[0]}' "
    f"WHEN doc_id % 3 = 1 THEN '{_BOILER[1]}' "
    f"ELSE '{_BOILER[2]}' END"
)

_LLM_ORACLES = {
    # two-stage ExactSubstr: stage-1 13-gram cross-doc prefilter flags
    # docs, stage-2 stride-1 exact windows run over the flagged subset
    # ONLY (frequencies within the subset) — both stages mirrored
    "dedup_exact_substr_staged": f"""
        WITH d AS (
            SELECT doc_id,
                   substr(text, 1, 300) ||
                   CASE WHEN doc_id % 4 != 3
                        THEN ' ' || {_BOILER_CASE} ELSE '' END AS text
            FROM documents WHERE doc_id < 200),
        t AS (SELECT doc_id, {_SHINGLES13} AS sh FROM d),
        g0 AS (SELECT doc_id, unnest(sh) AS gram FROM t),
        g AS (SELECT doc_id, md5(gram) AS gh FROM g0),
        crossdoc AS (
            SELECT gh FROM g GROUP BY gh
            HAVING count(DISTINCT doc_id) > 1),
        flagged AS (
            SELECT DISTINCT doc_id FROM g JOIN crossdoc USING (gh)),
        w AS (
            SELECT d.doc_id, i.i AS i,
                   md5(substr(d.text, CAST(i.i AS INTEGER), 50)) AS wh
            FROM d JOIN flagged USING (doc_id),
                 LATERAL unnest(generate_series(1, len(d.text) - 49)) AS i(i)
            WHERE len(d.text) >= 50),
        dup AS (SELECT wh FROM w GROUP BY wh HAVING count(*) > 1),
        lagged AS (
            SELECT doc_id, i,
                   lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
            FROM w WHERE wh IN (SELECT wh FROM dup)),
        p AS (
            SELECT doc_id, i,
                   SUM(CASE WHEN prev IS NULL OR i - prev >= 50
                       THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY i) AS grp
            FROM lagged)
        SELECT doc_id, CAST(min(i) AS INTEGER) AS span_start,
               CAST(max(i) - min(i) + 50 AS INTEGER) AS span_len,
               CAST(count(*) AS BIGINT) AS n_windows
        FROM p GROUP BY doc_id, grp""",
    "dedup_exact": f"""
        SELECT md5(array_to_string({_TOKS}, ' ')) AS fingerprint,
               MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
        FROM documents GROUP BY 1""",
    "dedup_ngram_spans": f"""
        WITH t AS (SELECT doc_id, {_SHINGLES13} AS sh FROM documents),
        g0 AS (SELECT doc_id, unnest(sh) AS gram FROM t),
        g AS (SELECT doc_id, md5(gram) AS gh FROM g0),
        crossdoc AS (
            SELECT gh FROM g GROUP BY gh
            HAVING count(DISTINCT doc_id) > 1),
        perdoc AS (
            SELECT doc_id, count(*) AS ndw
            FROM g JOIN crossdoc USING (gh) GROUP BY doc_id),
        tot AS (SELECT doc_id, CAST(len(sh) AS INTEGER) AS n_windows FROM t)
        SELECT tot.doc_id, n_windows,
               CAST(coalesce(ndw, 0) AS INTEGER) AS n_dup_windows,
               CASE WHEN n_windows > 0
                    THEN CAST(coalesce(ndw, 0) AS DOUBLE) / n_windows
                    ELSE 0.0 END AS dup_window_ratio
        FROM tot LEFT JOIN perdoc USING (doc_id)""",
    # The curation flagship: every stage's CTE is lifted verbatim from its
    # standalone oracle (boilerplate lines -> quality formula over
    # text_clean -> percent_rank gate -> min-id dedup -> budget cumsum).
    "corpus_curation_pipeline": f"""
        WITH t AS (
            SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
        l AS (
            SELECT doc_id, i AS pos, ls[i] AS ln
            FROM t, unnest(range(1, len(ls) + 1)) AS u(i)),
        boiler AS (
            SELECT md5(ln) AS lh FROM l GROUP BY 1
            HAVING count(DISTINCT doc_id) > 2),
        kept_l AS (
            SELECT doc_id, pos, ln FROM l
            WHERE md5(ln) NOT IN (SELECT lh FROM boiler)),
        rebuilt AS (
            SELECT doc_id,
                   string_agg(ln, chr(10) ORDER BY pos) AS text_clean
            FROM kept_l GROUP BY doc_id),
        alive AS (
            SELECT r.doc_id, d.source, r.text_clean,
                   CAST(length(r.text_clean) AS INTEGER) AS n_chars_clean
            FROM rebuilt r JOIN documents d USING (doc_id)
            WHERE r.text_clean <> ''),
        s AS (
            SELECT doc_id,
                   len({_TOKS_CLEAN}) AS n_tokens,
                   len(list_distinct({_TOKS_CLEAN})) AS n_distinct_tokens,
                   CAST(len(list_filter({_TOKS_CLEAN},
                        t -> list_contains(['the','a','of','and','to','in'], t))) AS DOUBLE)
                       / len({_TOKS_CLEAN}) AS stopword_ratio
            FROM alive),
        q AS (
            SELECT doc_id,
                   round(CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.4 ELSE 0.0 END
                         + (CAST(n_distinct_tokens AS DOUBLE) / n_tokens) * 0.3
                         + least(stopword_ratio * 3.0, 1.0) * 0.3, 6) AS quality
            FROM s),
        r AS (
            SELECT a.doc_id, a.source, a.text_clean, a.n_chars_clean,
                   round(percent_rank() OVER (
                       PARTITION BY a.source
                       ORDER BY q.quality DESC, q.doc_id ASC), 6) AS pr
            FROM q JOIN alive a USING (doc_id)),
        g AS (SELECT * FROM r WHERE pr <= 0.5),
        grp AS (
            SELECT MIN(doc_id) AS keep_id
            FROM (SELECT doc_id,
                         md5(array_to_string({_TOKS_CLEAN}, ' ')) AS fp
                  FROM g)
            GROUP BY fp),
        surv AS (
            SELECT doc_id, source, n_chars_clean FROM g
            WHERE doc_id IN (SELECT keep_id FROM grp))
        SELECT doc_id, source, n_chars_clean, cum_before
        FROM (
            SELECT doc_id, source, n_chars_clean,
                   CAST(coalesce(SUM(n_chars_clean) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS cum_before
            FROM surv)
        WHERE cum_before < 5000""",
    # Line-level boilerplate removal; chr(10) split mirrors Spark's
    # split(text, '\\n'), string_agg(... ORDER BY pos) mirrors the
    # array_sort(collect_list(struct(pos, line))) rebuild.
    "dedup_boilerplate_lines": """
        WITH t AS (
            SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
        l AS (
            SELECT doc_id, i AS pos, ls[i] AS ln
            FROM t, unnest(range(1, len(ls) + 1)) AS u(i)),
        boiler AS (
            SELECT md5(ln) AS lh FROM l GROUP BY 1
            HAVING count(DISTINCT doc_id) > 2),
        kept AS (
            SELECT doc_id, pos, ln FROM l
            WHERE md5(ln) NOT IN (SELECT lh FROM boiler)),
        rebuilt AS (
            SELECT doc_id,
                   string_agg(ln, chr(10) ORDER BY pos) AS text_clean,
                   CAST(count(*) AS INTEGER) AS n_kept
            FROM kept GROUP BY doc_id),
        tot AS (
            SELECT doc_id, CAST(count(*) AS INTEGER) AS n_lines
            FROM l GROUP BY doc_id)
        SELECT tot.doc_id,
               coalesce(text_clean, '') AS text_clean,
               n_lines,
               CAST(n_lines - coalesce(n_kept, 0) AS INTEGER) AS n_removed
        FROM tot LEFT JOIN rebuilt USING (doc_id)""",
    "dedup_ngram_spans_sampled": f"""
        WITH t AS (SELECT doc_id, {_SHINGLES13} AS sh FROM documents),
        g0 AS (SELECT doc_id, unnest(sh) AS gram FROM t),
        g1 AS (SELECT doc_id, md5(gram) AS gh FROM g0),
        g AS (SELECT doc_id, gh FROM g1
              WHERE CAST(('0x' || substr(gh, 1, 8)) AS BIGINT) % 1000 < 250),
        crossdoc AS (
            SELECT gh FROM g GROUP BY gh
            HAVING count(DISTINCT doc_id) > 1),
        perdoc AS (
            SELECT doc_id, count(*) AS ndw
            FROM g JOIN crossdoc USING (gh) GROUP BY doc_id),
        tot AS (
            SELECT d.doc_id,
                   CAST(coalesce(s.nw, 0) AS INTEGER) AS n_windows_sampled
            FROM documents d
            LEFT JOIN (SELECT doc_id, count(*) AS nw FROM g GROUP BY doc_id)
                s USING (doc_id))
        SELECT tot.doc_id, n_windows_sampled,
               CAST(coalesce(ndw, 0) AS INTEGER) AS n_dup_windows_sampled,
               CASE WHEN n_windows_sampled > 0
                    THEN CAST(coalesce(ndw, 0) AS DOUBLE) / n_windows_sampled
                    ELSE 0.0 END AS dup_window_ratio_est
        FROM tot LEFT JOIN perdoc USING (doc_id)""",
    "dedup_incremental": f"""
        WITH fresh AS (
            SELECT md5(array_to_string({_TOKS}, ' ')) AS fingerprint,
                   MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
            FROM documents WHERE doc_id % 10 < 2 GROUP BY 1),
        idx AS (
            SELECT DISTINCT md5(array_to_string({_TOKS}, ' ')) AS fingerprint
            FROM documents WHERE doc_id % 10 >= 2)
        SELECT f.fingerprint, f.keep_id, f.n_docs
        FROM fresh f ANTI JOIN idx i ON f.fingerprint = i.fingerprint""",
    # Mirrors text.quality_classifier: same feature block as text_stats,
    # same term order in z (float addition is order-sensitive), softsign
    # squash — only +,*,/,abs,sqrt, all IEEE-identical across engines.
    "quality_classifier": f"""
        WITH s AS (
            SELECT doc_id,
                   len({_TOKS}) AS n_tokens,
                   len(list_distinct({_TOKS})) AS n_distinct_tokens,
                   CAST(length(regexp_replace(lower(trim(text, ' ')), '\\s+', '', 'g')) AS DOUBLE)
                       / len({_TOKS}) AS avg_token_len,
                   CAST(len(list_filter({_TOKS},
                        t -> list_contains(['the','a','of','and','to','in'], t))) AS DOUBLE)
                       / len({_TOKS}) AS stopword_ratio
            FROM documents),
        z AS (
            SELECT doc_id,
                   -1.0 + 0.12 * sqrt(CAST(n_tokens AS DOUBLE))
                        + 6.0 * stopword_ratio
                        + 1.5 * (CAST(n_distinct_tokens AS DOUBLE) / n_tokens)
                        + -0.35 * avg_token_len AS z
            FROM s)
        SELECT doc_id,
               round(0.5 * (1.0 + z / (1.0 + abs(z))), 6) AS lm_quality,
               z >= 0 AS keep
        FROM z""",
    "corpus_report": f"""
        WITH base AS (
            SELECT source, lang,
                   len({_TOKS}) AS n_tok,
                   length(text) AS n_chars,
                   md5(array_to_string({_TOKS}, ' ')) AS fingerprint
            FROM documents)
        SELECT source, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               COUNT(DISTINCT fingerprint) AS n_unique_docs,
               round(1.0 - CAST(COUNT(DISTINCT fingerprint) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
        FROM base GROUP BY source, lang""",
    # Exact-decimal group moments (the agg_stats trick) broadcast back onto
    # the scan; z/flag formulas identical term-for-term to rel.zscore_outliers.
    "events_zscore": """
        WITH st AS (
            SELECT event_type,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sv,
                   CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS ssq,
                   COUNT(value) AS n
            FROM events GROUP BY event_type),
        m AS (
            SELECT event_type, sv / n AS mean,
                   CASE WHEN n > 1
                        THEN sqrt((ssq - sv * sv / n) / (n - 1)) END AS std
            FROM st)
        SELECT e.event_id, e.event_type, e.value,
               CASE WHEN std > 0
                    THEN round((e.value - mean) / std, 6) END AS z,
               coalesce(CASE WHEN std > 0
                             THEN abs(round((e.value - mean) / std, 6)) >= 2.5
                        END, false) AS is_outlier
        FROM events e JOIN m USING (event_type)""",
    "win_cume_ntile": """
        SELECT event_id, event_type,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               round(cume_dist() OVER w, 6) AS cume,
               round(percent_rank() OVER w, 6) AS pct_rank
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""",
    "dedup_minhash_lsh": _minhash_sql()[0],
    "dedup_clusters": f"""
        WITH RECURSIVE {_minhash_sql()[1]},
        pairs AS ({_minhash_sql()[2]}),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL SELECT id_b, id_a FROM pairs),
        reach(node, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT reach.node, edges.dst FROM reach JOIN edges
              ON reach.r = edges.src)
        SELECT node AS doc_id, MIN(r) AS cluster_id
        FROM reach GROUP BY node""",
    "dedup_canonical_docs": f"""
        WITH RECURSIVE {_minhash_sql()[1]},
        pairs AS ({_minhash_sql()[2]}),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL SELECT id_b, id_a FROM pairs),
        reach(node, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT reach.node, edges.dst FROM reach JOIN edges
              ON reach.r = edges.src)
        SELECT node AS doc_id
        FROM reach GROUP BY node HAVING node = MIN(r)""",
    "dedup_ngram_jaccard": f"""
        WITH {_minhash_sql()[1]},
        pairs AS ({_minhash_sql()[2]}),
        sets AS (
            SELECT doc_id, list_distinct({_SHINGLES}) AS sh
            FROM documents)
        SELECT p.id_a, p.id_b,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        FROM pairs p
        JOIN sets a ON p.id_a = a.doc_id
        JOIN sets b ON p.id_b = b.doc_id
        WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.sh, b.sh))), 6) > 0.2""",
    "dedup_embedding_clusters": """
        WITH RECURSIVE normed AS (
            SELECT vec_id,
                   embedding AS v,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
            FROM embeddings),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM normed a JOIN normed b ON a.vec_id < b.vec_id
            WHERE round(CASE WHEN a.n * b.n > 0
                        THEN list_sum(list_transform(range(1, len(a.v) + 1),
                             i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)))
                             / (a.n * b.n)
                        ELSE 0.0 END, 6) >= 0.4),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL SELECT id_b, id_a FROM pairs),
        reach(node, r) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT reach.node, edges.dst FROM reach JOIN edges
              ON reach.r = edges.src)
        SELECT node AS vec_id, MIN(r) AS cluster_id
        FROM reach GROUP BY node""",
    "text_decontaminate": f"""
        WITH g AS (
            SELECT doc_id,
                   list_distinct(
                       CASE WHEN len({_TOKS}) < 5 THEN []
                            ELSE list_transform(range(1, len({_TOKS}) - 3),
                                 i -> array_to_string(
                                     list_slice({_TOKS}, i, i + 4), ' '))
                       END) AS gs
            FROM documents),
        bench AS (SELECT DISTINCT unnest(gs) AS gram FROM g
                  WHERE doc_id % 50 = 0),
        train_g AS (SELECT doc_id, unnest(gs) AS gram FROM g
                    WHERE doc_id % 50 <> 0),
        hits AS (SELECT doc_id, count(*) AS n
                 FROM train_g JOIN bench USING (gram) GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(coalesce(h.n, 0) AS INTEGER) AS n_overlap,
               coalesce(h.n, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
        WHERE d.doc_id % 50 <> 0""",
    "text_tfidf_top_terms": f"""
        WITH t AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   round(tf * (ln((nd + 1.0) / (df + 1.0)) + 1), 6) AS tfidf
            FROM tf JOIN df USING (term) CROSS JOIN n),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                          ORDER BY tfidf DESC, term ASC) AS term_rank
            FROM scored)
        SELECT doc_id, term, tfidf, CAST(term_rank AS INTEGER) AS term_rank
        FROM ranked WHERE term_rank <= 3""",
    "text_stats": f"""
        SELECT doc_id,
               CAST(length(text) AS INTEGER) AS n_chars,
               CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct({_TOKS})) AS INTEGER) AS n_distinct_tokens,
               CAST(length(regexp_replace(lower(trim(text, ' ')), '\\s+', '', 'g')) AS DOUBLE)
                   / len({_TOKS}) AS avg_token_len,
               CAST(len(list_filter({_TOKS},
                    t -> list_contains(['the','a','of','and','to','in'], t))) AS DOUBLE)
                   / len({_TOKS}) AS stopword_ratio
        FROM documents""",
    "token_count": """
        SELECT doc_id,
               CAST(len(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')) AS INTEGER) AS ws_tokens,
               CAST(len(regexp_extract_all(lower(trim(text, ' ')), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_tokens
        FROM documents""",
    "doc_fingerprint": f"""
        SELECT doc_id,
               md5(array_to_string({_TOKS}, ' ')) AS content_fp,
               md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS bag_fp
        FROM documents""",
    "text_chunking": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        meta AS (SELECT doc_id, toks,
                        greatest(CAST(ceil((len(toks) - 16) / 48.0) AS BIGINT), 1)
                        AS n_chunks
                 FROM t)
        SELECT doc_id,
               CAST(i AS INTEGER) AS chunk_idx,
               array_to_string(list_slice(toks, i * 48 + 1, i * 48 + 64), ' ')
                   AS chunk_text
        FROM meta, unnest(range(0, n_chunks)) AS u(i)""",
    "text_redact_pii": """
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(text,
                       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}',
                       '<EMAIL>', 'g'),
                   '\\+?[0-9][0-9()\\-\\s]{7,}[0-9]', '<PHONE>', 'g')
               AS redacted_text,
               CAST(len(regexp_extract_all(text,
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS INTEGER)
               AS n_emails
        FROM documents""",
    "text_top_terms": f"""
        WITH terms AS (
            SELECT doc_id AS doc, unnest({_TOKS}) AS term FROM documents),
        per_doc AS (
            SELECT term, doc, COUNT(*) AS tf FROM terms GROUP BY term, doc)
        SELECT term,
               CAST(SUM(tf) AS BIGINT) AS total_count,
               COUNT(*) AS doc_freq
        FROM per_doc GROUP BY term
        ORDER BY total_count DESC, term ASC LIMIT 50""",
    # cosine: DuckDB list_sum folds in list order, exactly like Spark's
    # F.aggregate — verified bit-identical at 12 dp (tools/diffcheck.py)
    "sim_cosine_topk": """
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        qn AS (SELECT sqrt(list_sum(list_transform(qe,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qnorm FROM q),
        scored AS (
            SELECT e.vec_id,
                   list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
                       AS dt,
                   sqrt(list_sum(list_transform(e.embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * qn.qnorm
                       AS dn
            FROM embeddings e, q, qn)
        -- zero-norm convention: score 0.0 (the Spark _cosine guard's twin)
        SELECT vec_id,
               CASE WHEN dn > 0 THEN round(dt / dn, 6) ELSE 0.0 END AS score
        FROM scored
        ORDER BY score DESC, vec_id ASC LIMIT 10""",
    # LSH top-k twin, oracle-exact: the SQL reproduces the deterministic
    # md5-derived hyperplanes (8 planes) and restricts the scan to the
    # query vector's sign bucket — same recall semantics as the Spark path
    "sim_cosine_topk_lsh": """
        WITH planes AS (
            SELECT p.p, i.i,
                   CASE WHEN substr(md5(CAST(p.p AS VARCHAR) || ':' ||
                                        CAST(i.i AS VARCHAR)), 8, 1)
                             IN ('0','2','4','6','8','a','c','e')
                        THEN 1.0 ELSE -1.0 END AS w
            FROM (SELECT unnest(range(8)) AS p) p,
                 (SELECT unnest(range((SELECT max(len(embedding))
                                       FROM embeddings))) AS i) i),
        normed AS (
            SELECT vec_id, embedding AS v,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
            FROM embeddings),
        dots AS (
            SELECT nv.vec_id, pl.p,
                   sum(CAST(nv.v[pl.i + 1] AS DOUBLE) * pl.w) AS d
            FROM normed nv JOIN planes pl ON TRUE
            GROUP BY nv.vec_id, pl.p),
        buckets AS (
            SELECT vec_id,
                   CAST(sum(CASE WHEN d >= 0
                            THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM dots GROUP BY vec_id),
        q AS (
            SELECT nv.v AS qv, nv.n AS qn, bk.bucket AS qb
            FROM normed nv JOIN buckets bk USING (vec_id)
            WHERE nv.vec_id = 0)
        SELECT nv.vec_id,
               round(CASE WHEN nv.n * q.qn > 0
                     THEN list_sum(list_transform(range(1, len(nv.v) + 1),
                          i -> CAST(nv.v[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                          / (nv.n * q.qn)
                     ELSE 0.0 END, 6) AS score
        FROM normed nv JOIN buckets bk USING (vec_id) CROSS JOIN q
        WHERE bk.bucket = q.qb
        ORDER BY score DESC, nv.vec_id ASC LIMIT 10""",
    "dedup_containment": f"""
        WITH {_minhash_sql()[1]},
        pairs AS ({_minhash_sql()[2]}),
        sets AS (
            SELECT doc_id, list_distinct({_SHINGLES}) AS sh
            FROM documents)
        SELECT p.id_a, p.id_b,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(a.sh), 6) AS containment_a,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(b.sh), 6) AS containment_b
        FROM pairs p
        JOIN sets a ON p.id_a = a.doc_id
        JOIN sets b ON p.id_b = b.doc_id""",
    "asof_nearest_tolerance": """
        WITH c AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'click'),
        v AS (SELECT user_id, ts, value FROM events
              WHERE event_type = 'view'),
        ranked AS (
            SELECT c.event_id, c.user_id, c.ts, v.value,
                   abs(epoch_us(c.ts) - epoch_us(v.ts)) AS adiff,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.event_id
                       ORDER BY abs(epoch_us(c.ts) - epoch_us(v.ts)),
                                (v.ts > c.ts), v.ts) AS rn
            FROM c LEFT JOIN v ON c.user_id = v.user_id)
        SELECT event_id, user_id, ts,
               CASE WHEN adiff <= 600 * 1000000 THEN value END AS value_asof
        FROM ranked WHERE rn = 1""",
    "source_overlap": f"""
        WITH fps AS (
            SELECT DISTINCT
                   md5(array_to_string(list_sort(list_distinct({_TOKS})), ' '))
                       AS fingerprint,
                   source
            FROM documents)
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(DISTINCT a.fingerprint) AS n_shared
        FROM fps a JOIN fps b
          ON a.fingerprint = b.fingerprint AND a.source < b.source
        GROUP BY 1, 2""",
    "dedup_simhash": f"""
        WITH tok AS (
            SELECT doc_id AS doc, unnest({_TOKS}) AS tok FROM documents),
        h AS (
            SELECT doc, CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER) AS h
            FROM tok),
        bits AS (
            SELECT doc,
                   {', '.join(f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(16))}
            FROM h GROUP BY doc)
        SELECT doc AS doc_id,
               CAST({' + '.join(f"CASE WHEN b{i} > 0 THEN {2**i} ELSE 0 END" for i in range(16))} AS BIGINT) AS simhash
        FROM bits""",
    # pair output is blocking-independent (the pigeonhole blocks are pure
    # candidate generation; the exact bit_count verify defines the result),
    # so the oracle is simply all pairs with hamming <= 3 over the same
    # simhash values — n² is fine for DuckDB at oracle scale
    "dedup_simhash_pairs": f"""
        WITH tok AS (
            SELECT doc_id AS doc, unnest({_TOKS}) AS tok FROM documents),
        h AS (
            SELECT doc, CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER) AS h
            FROM tok),
        bits AS (
            SELECT doc,
                   {', '.join(f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(16))}
            FROM h GROUP BY doc),
        sh AS (
            SELECT doc AS doc_id,
                   CAST({' + '.join(f"CASE WHEN b{i} > 0 THEN {2**i} ELSE 0 END" for i in range(16))} AS BIGINT) AS simhash
            FROM bits)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
    "text_quality": f"""
        WITH s AS (
            SELECT doc_id,
                   len({_TOKS}) AS n_tokens,
                   len(list_distinct({_TOKS})) AS n_distinct_tokens,
                   CAST(len(list_filter({_TOKS},
                        t -> list_contains(['the','a','of','and','to','in'], t))) AS DOUBLE)
                       / len({_TOKS}) AS stopword_ratio
            FROM documents)
        SELECT doc_id,
               round(CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.4 ELSE 0.0 END
                     + (CAST(n_distinct_tokens AS DOUBLE) / n_tokens) * 0.3
                     + least(stopword_ratio * 3.0, 1.0) * 0.3, 6) AS quality
        FROM s""",
    # Same quality formula as text_quality, gated by exact per-source
    # percent_rank (score desc, doc_id asc) <= 0.5.
    "quality_percentile_gate": f"""
        WITH s AS (
            SELECT doc_id,
                   len({_TOKS}) AS n_tokens,
                   len(list_distinct({_TOKS})) AS n_distinct_tokens,
                   CAST(len(list_filter({_TOKS},
                        t -> list_contains(['the','a','of','and','to','in'], t))) AS DOUBLE)
                       / len({_TOKS}) AS stopword_ratio
            FROM documents),
        q AS (
            SELECT doc_id,
                   round(CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.4 ELSE 0.0 END
                         + (CAST(n_distinct_tokens AS DOUBLE) / n_tokens) * 0.3
                         + least(stopword_ratio * 3.0, 1.0) * 0.3, 6) AS quality
            FROM s),
        r AS (
            SELECT q.doc_id, d.source, q.quality,
                   round(percent_rank() OVER (
                       PARTITION BY d.source
                       ORDER BY q.quality DESC, q.doc_id ASC), 6) AS pct_rank
            FROM q JOIN documents d USING (doc_id))
        SELECT doc_id, source, quality, pct_rank
        FROM r WHERE pct_rank <= 0.5""",
    # Declarative twin of the Python UDTF: UNION ALL with identical
    # IEEE-double op order; round applied engine-side on both paths.
    "udtf_charge_legs": """
        SELECT l_orderkey, l_linenumber, 'base' AS component,
               round(l_extendedprice, 6) AS amount FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount',
               round(l_extendedprice * l_discount, 6) FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'tax',
               round((l_extendedprice * (1.0 - l_discount)) * l_tax, 6)
        FROM lineitem""",
    "corpus_token_budget": """
        SELECT doc_id, source, n_chars, cum_before
        FROM (
            SELECT doc_id, source, n_chars,
                   CAST(coalesce(SUM(n_chars) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS cum_before
            FROM documents)
        WHERE cum_before < 5000""",
    "text_gopher_quality": f"""
        WITH m AS (
            SELECT doc_id,
                   CAST(len({_TOKS}) AS INTEGER) AS n_words,
                   CAST(list_sum(list_transform({_TOKS}, x -> len(x))) AS DOUBLE)
                       / len({_TOKS}) AS mean_word_len,
                   CAST(len(list_filter({_TOKS},
                        x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                       / len({_TOKS}) AS alpha_word_ratio,
                   CAST(len(list_filter({_TOKS},
                        x -> regexp_matches(x, '^[^a-z0-9]+$'))) AS DOUBLE)
                       / len({_TOKS}) AS symbol_word_ratio,
                   CAST(len(list_filter({_TOKS},
                        x -> list_contains(['the','a','of','and','to','in'], x)))
                        AS INTEGER) AS stop_hits
            FROM documents)
        SELECT doc_id, n_words,
               round(mean_word_len, 6) AS mean_word_len,
               round(alpha_word_ratio, 6) AS alpha_word_ratio,
               round(symbol_word_ratio, 6) AS symbol_word_ratio,
               stop_hits,
               (n_words >= 10 AND n_words <= 100000) AS ok_word_count,
               (mean_word_len >= 2.0 AND mean_word_len <= 12.0) AS ok_mean_word_len,
               (alpha_word_ratio >= 0.7) AS ok_alpha_ratio,
               (symbol_word_ratio <= 0.1) AS ok_symbol_ratio,
               (stop_hits >= 1) AS ok_stopwords,
               ((n_words >= 10 AND n_words <= 100000)
                AND (mean_word_len >= 2.0 AND mean_word_len <= 12.0)
                AND alpha_word_ratio >= 0.7
                AND symbol_word_ratio <= 0.1
                AND stop_hits >= 1) AS passes_gopher
        FROM m""",
    "text_repetition": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        grams AS (
            SELECT doc_id, unnest(list_transform(range(1, len(t)),
                   i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS g
            FROM toks),
        per_gram AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_grams,
               CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_gram_frac,
               CAST(CAST(SUM(c) AS BIGINT) - COUNT(*) AS DOUBLE)
                   / CAST(SUM(c) AS BIGINT) AS dup_gram_frac
        FROM per_gram GROUP BY doc_id""",
    "docs_prep_pipeline": f"""
        WITH m AS (
            SELECT doc_id,
                   len({_TOKS}) AS n_words,
                   CAST(list_sum(list_transform({_TOKS}, x -> len(x))) AS DOUBLE)
                       / len({_TOKS}) AS mean_word_len,
                   CAST(len(list_filter({_TOKS},
                        x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                       / len({_TOKS}) AS alpha_word_ratio,
                   CAST(len(list_filter({_TOKS},
                        x -> regexp_matches(x, '^[^a-z0-9]+$'))) AS DOUBLE)
                       / len({_TOKS}) AS symbol_word_ratio,
                   len(list_filter({_TOKS},
                        x -> list_contains(['the','a','of','and','to','in'], x)))
                       AS stop_hits
            FROM documents),
        passed AS (
            SELECT d.* FROM documents d JOIN m USING (doc_id)
            WHERE n_words >= 10 AND n_words <= 100000
              AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
              AND alpha_word_ratio >= 0.7 AND symbol_word_ratio <= 0.1
              AND stop_hits >= 1),
        keep AS (
            SELECT MIN(doc_id) AS doc_id
            FROM (SELECT doc_id, md5(array_to_string({_TOKS}, ' ')) AS fp
                  FROM passed)
            GROUP BY fp)
        SELECT doc_id,
               CAST(GREATEST(CEIL((len({_TOKS}) - 16) / 48.0), 1) AS BIGINT)
                   AS n_chunks,
               CAST(len({_TOKS}) AS INTEGER) AS ws_tokens,
               CAST(len(regexp_extract_all(lower(trim(text, ' ')),
                    '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_tokens
        FROM passed WHERE doc_id IN (SELECT doc_id FROM keep)""",
    "training_set_pipeline": f"""
        WITH m AS (
            SELECT doc_id,
                   len({_TOKS}) AS n_words,
                   CAST(list_sum(list_transform({_TOKS}, x -> len(x))) AS DOUBLE)
                       / len({_TOKS}) AS mean_word_len,
                   CAST(len(list_filter({_TOKS},
                        x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                       / len({_TOKS}) AS alpha_word_ratio,
                   CAST(len(list_filter({_TOKS},
                        x -> regexp_matches(x, '^[^a-z0-9]+$'))) AS DOUBLE)
                       / len({_TOKS}) AS symbol_word_ratio,
                   len(list_filter({_TOKS},
                        x -> list_contains(['the','a','of','and','to','in'], x)))
                       AS stop_hits
            FROM documents),
        passed AS (
            SELECT d.* FROM documents d JOIN m USING (doc_id)
            WHERE n_words >= 10 AND n_words <= 100000
              AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
              AND alpha_word_ratio >= 0.7 AND symbol_word_ratio <= 0.1
              AND stop_hits >= 1),
        keep AS (
            SELECT MIN(doc_id) AS doc_id
            FROM (SELECT doc_id, md5(array_to_string({_TOKS}, ' ')) AS fp
                  FROM passed)
            GROUP BY fp),
        t AS (
            SELECT doc_id, CAST(len({_TOKS}) AS INTEGER) AS ws_tokens
            FROM passed WHERE doc_id IN (SELECT doc_id FROM keep)),
        s AS (
            SELECT doc_id, ws_tokens,
                   CASE WHEN (doc_id * 2654435761) % 4294967296 % 1000 < 900
                            THEN 'train'
                        WHEN (doc_id * 2654435761) % 4294967296 % 1000 < 950
                            THEN 'val'
                        ELSE 'test' END AS split
            FROM t),
        c AS (
            SELECT doc_id, split, ws_tokens,
                   CAST(FLOOR(doc_id / 200) AS BIGINT) AS shard,
                   CAST(COALESCE(SUM(ws_tokens) OVER (
                       PARTITION BY split, CAST(FLOOR(doc_id / 200) AS BIGINT)
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS cum
            FROM s)
        SELECT doc_id, split, ws_tokens,
               shard * 4294967296
                   + CAST(FLOOR(CAST(cum AS DOUBLE) / 8192) AS BIGINT)
                   AS bin_id,
               cum % 8192 AS bin_offset
        FROM c""",
    "lang_id": f"""
        WITH s AS (
            SELECT doc_id,
                   len(list_filter({_TOKS}, t -> list_contains(['the','a','of','and','to','in'], t))) AS s_en,
                   len(list_filter({_TOKS}, t -> list_contains(['der','die','das','und','ist','nicht'], t))) AS s_de,
                   len(list_filter({_TOKS}, t -> list_contains(['le','la','les','et','est','une'], t))) AS s_fr,
                   len(list_filter({_TOKS}, t -> list_contains(['el','la','los','y','es','una'], t))) AS s_es
            FROM documents)
        SELECT doc_id,
               CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                    WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                    WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                    WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                    ELSE 'es' END AS lang_pred
        FROM s""",
    "lang_id_trigram": """
        WITH g AS (
            SELECT doc_id,
                   CASE WHEN len(lower(trim(text, ' '))) >= 3 THEN
                       list_transform(range(1, len(lower(trim(text, ' '))) - 1),
                           i -> substr(lower(trim(text, ' ')), CAST(i AS INTEGER), 3))
                   ELSE [] END AS grams
            FROM documents),
        s AS (
            SELECT doc_id,
                   CAST(len(list_filter(grams, x -> list_contains(
                       ['the','and','ing','ion','tio','ent','ati','for','her',
                        'ter','hat','tha','ere','ate','his','con','res','ver'],
                       x))) AS INTEGER) AS t_en,
                   CAST(len(list_filter(grams, x -> list_contains(
                       ['der','ein','sch','ich','nde','die','che','den','ten',
                        'und','ine','gen','end','ers','ste','cht','ung','das'],
                       x))) AS INTEGER) AS t_de,
                   CAST(len(list_filter(grams, x -> list_contains(
                       ['les','ent','que','ion','ant','eur','our','ait','dan',
                        'pou','est','par','men','tre','com','ons','ous','ett'],
                       x))) AS INTEGER) AS t_fr,
                   CAST(len(list_filter(grams, x -> list_contains(
                       ['que','ent','ion','con','ado','est','par','los','ien',
                        'nte','ara','cio','dad','las','del','por','una','era'],
                       x))) AS INTEGER) AS t_es
            FROM g)
        SELECT doc_id,
               CASE WHEN greatest(t_en, t_de, t_fr, t_es) = 0 THEN 'und'
                    WHEN t_en = greatest(t_en, t_de, t_fr, t_es) THEN 'en'
                    WHEN t_de = greatest(t_en, t_de, t_fr, t_es) THEN 'de'
                    WHEN t_fr = greatest(t_en, t_de, t_fr, t_es) THEN 'fr'
                    ELSE 'es' END AS lang_pred,
               t_en, t_de, t_fr, t_es
        FROM s""",
}


def q_dedup_jaccard_prefix(spark, sf_dir):
    """EXACT token-Jaccard near-dup pairs (>= 7/10) by prefix filtering
    (dedup.jaccard_prefix_join) — 100% recall beside the MinHash-LSH
    approximation; the threshold logic is pure integer arithmetic so
    the key is oracle-exact by construction — over the full corpus
    (the synthetic docs repeat phrases, so the pair volume is a real
    workout: ~51k qualifying pairs at sf0.01)."""
    return dedup.jaccard_prefix_join(
        load(spark, sf_dir, "documents"), 7, 10
    )


# --------------------------------------------------------------------------
# Round 9: codec-free media keys — byte-grid fingerprint, banded media
# near-dup, magic-number audit (operators/multimodal.py). Payloads are
# deterministic md5-hex bytes (the multimodal_features trick), so every
# key is oracle-exact end-to-end with NO stubbed seam in the path.
# --------------------------------------------------------------------------


def _media_payloads(spark, sf_dir, limit=200):
    """Deterministic media table: payload = UTF-8 bytes of md5(text) —
    the established codec-free stand-in (see q_multimodal_features)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < limit)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.md5("text"), "UTF-8").alias("payload"),
    )


def q_media_fingerprint(spark, sf_dir):
    """Perceptual-style byte-grid fingerprint (aHash mean rule, 32 cells)
    over deterministic payloads — codec-free and oracle-exact: every step
    is integer arithmetic over the hex encoding, mirrored char-for-char
    in DuckDB."""
    from ..operators.multimodal import byte_grid_fingerprint

    return byte_grid_fingerprint(
        _media_payloads(spark, sf_dir), n_cells=32
    ).select("media_id", "fp", "n_hex")


def q_dedup_media_near(spark, sf_dir):
    """Media near-dup end-to-end: base payloads plus tail-perturbed
    re-export twins (last 2 payload bytes changed — 'same image,
    different trailing metadata'), fingerprinted with the FIXED
    blockhash-style threshold (locality: only the touched cells can
    flip, so every constructed twin lands within Hamming <= 2), then the
    banded pigeonhole join with exact bit_count verify. All constructed
    pairs are guaranteed found (hamming < bands); accidental collisions
    must survive the same Hamming <= 3 verify. The production path is
    multimodal.media_near_dup_pairs with the auto_grid_cells width dial;
    the key PINS n_cells=32 so the oracle stays fixed (the dial resolves
    to exactly 32 below ~2^16 media anyway — SCALE_NOTES round 11 probes
    the dial's 10x behavior)."""
    from ..operators.multimodal import media_near_dup_pairs

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    base = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.md5("text"), "UTF-8").alias("payload"),
    )
    variant = docs.select(
        (F.col("doc_id") + 100000).alias("media_id"),
        F.encode(
            F.concat(
                F.substring(F.md5("text"), 1, 30),
                F.substring(F.md5(F.concat(F.col("text"), F.lit("v2"))), 31, 2),
            ),
            "UTF-8",
        ).alias("payload"),
    )
    # media_near_dup_pairs materializes the (tiny) fingerprint table once
    # (the banded self-join references it three times) — at 100 TB the
    # fps side would be a persisted table anyway (sources/media_index.py)
    return media_near_dup_pairs(
        base.unionByName(variant), bands=4, n_cells=32, max_hamming=3
    )


def q_media_format_audit(spark, sf_dir):
    """Magic-number audit over a mixed media table: PNG-ok, JPEG smuggled
    under an image/png label, magic-less payload, RIFF/WAV-ok, and an
    MP4 (ftyp at byte offset 4) — the data_contract_check idea applied to
    binary columns, pure hex-prefix logic both engines."""
    from ..operators.multimodal import sniff_media_format

    base = _media_payloads(spark, sf_dir, limit=200)
    k = F.col("media_id") % 5
    media = base.select(
        "media_id",
        F.when(k == 0, F.concat(F.unhex(F.lit("89504E47")), F.col("payload")))
        .when(k == 1, F.concat(F.unhex(F.lit("FFD8FF")), F.col("payload")))
        .when(k == 2, F.col("payload"))
        .when(k == 3, F.concat(F.unhex(F.lit("52494646")), F.col("payload")))
        .otherwise(
            F.concat(
                F.unhex(F.lit("00000018")),
                F.encode(F.lit("ftypisom"), "UTF-8"),
                F.col("payload"),
            )
        )
        .alias("payload"),
        F.when(k == 3, F.lit("audio/wav"))
        .when(k == 4, F.lit("video/mp4"))
        .otherwise(F.lit("image/png"))
        .alias("mime"),
    )
    return sniff_media_format(media)


def _grid_fp_sql(n_chars: int = 64, n_cells: int = 32,
                 threshold: int | None = None) -> tuple[str, str]:
    """DuckDB mirror of multimodal.byte_grid_fingerprint over a column
    ``h`` holding the hex encoding (returns (total_expr, fp_expr); the
    fp expr references ``tot`` for the mean rule, so wrap total in a
    prior CTE). Char-for-char the same integer arithmetic as the Spark
    expression tree."""
    w = n_chars // n_cells

    def v(p):
        return f"CAST(('0x' || substr(h, {p}, 1)) AS BIGINT)"

    cells = []
    for i in range(n_cells):
        terms = " + ".join(v(i * w + j + 1) for j in range(w))
        cells.append(f"({terms})")
    total = " + ".join(cells)
    bits = []
    for i in range(n_cells):
        if threshold is None:
            cond = f"{cells[i]} * {n_cells} >= tot"
        else:
            cond = f"{cells[i]} * 2 >= {threshold * w}"
        bits.append(
            f"(CASE WHEN {cond} THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << {i})"
        )
    return total, " + ".join(bits)


def q_media_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing in the gate (round 9): deterministic
    per-doc durations fan out through multimodal.sample_frames'
    vectorized mapInPandas explode (one row per sampled frame at the
    1000 ms cadence), frame payloads are the documented md5(media:idx)
    stub — so cadence, clipping, AND payload bytes are all mirrored in
    SQL (upper(md5(...)) == hex of the raw digest)."""
    from ..operators.multimodal import sample_frames

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        ((F.col("doc_id") % 5 + 1) * 2000).cast("long").alias("duration_ms"),
    )
    frames = sample_frames(media, every_ms=1000, fake=True)
    return frames.select(
        "media_id",
        "frame_idx",
        F.substring(F.hex("payload"), 1, 8).alias("payload_hex8"),
    )


def _bmp24_header_hex(width: int, height: int) -> str:
    """Hex of a minimal BITMAPFILEHEADER + BITMAPINFOHEADER (54 bytes) for
    an uncompressed 24-bpp BI_RGB image — the public BMP byte layout."""
    import struct

    row_size = (width * 3 + 3) // 4 * 4
    img_size = row_size * abs(height)
    hdr = struct.pack(
        "<2sIHHI", b"BM", 54 + img_size, 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 0, 0, 0, 0
    )
    return hdr.hex().upper()


def q_media_decode_stats(spark, sf_dir):
    """REAL media decode in the gate (round 11): each document becomes a
    genuine uncompressed 4x4 24-bpp BMP — the 54-byte header is the
    public BMP byte layout, the 48 pixel bytes are the deterministic
    md5-chain md5(t)||md5(md5(t))||md5(md5(md5(t))) — and
    multimodal.decode_bmp_stats PARSES the file for real (header fields,
    row stride, BGR channel split) inside mapInPandas. No stub in the
    path: this is the decode seam (multimodal.py decode_and_featurize)
    made real for one format. All-integer outputs (channel byte sums,
    BT.601 luma x1000 via integer division) so DuckDB mirrors the pixel
    arithmetic exactly from the same hex chain.

    Reference parity: byte-level schema-blind payload handling at the
    ingestion edge (CompressionHandler.java:43-46), extended to media
    decode per the charter."""
    from ..operators.multimodal import decode_bmp_stats

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    px_hex = F.concat(
        F.md5("text"), F.md5(F.md5("text")), F.md5(F.md5(F.md5("text")))
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.unhex(F.lit(_bmp24_header_hex(4, 4))), F.unhex(px_hex)
        ).alias("payload"),
    )
    return decode_bmp_stats(media)


def q_media_resize_stats(spark, sf_dir):
    """REAL image resize in the gate (round 11): the same genuine 4x4 BMPs
    as media_decode_stats, resized 4x4 -> 2x2 by multimodal.resize_images'
    real nearest-neighbor BMP path (decode -> sample pixel (r*H0//H,
    c*W0//W) -> re-encode a genuine bottom-up padded BMP), then decoded
    AGAIN by decode_bmp_stats — so the key round-trips decode -> resize ->
    encode -> decode with no stub anywhere. The oracle mirrors the
    nearest-neighbor SELECTION arithmetic: logical rows {0,2} are stored
    rows {3,1} (bottom-up), cols {0,2}, so exactly pixel-byte indices
    {12..14, 18..20, 36..38, 42..44} of the md5 chain survive."""
    from ..operators.multimodal import decode_bmp_stats, resize_images

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    px_hex = F.concat(
        F.md5("text"), F.md5(F.md5("text")), F.md5(F.md5(F.md5("text")))
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.concat(
            F.unhex(F.lit(_bmp24_header_hex(4, 4))), F.unhex(px_hex)
        ).alias("payload"),
    )
    small = resize_images(media, width=2, height=2).select(
        "media_id", "payload"
    )
    return decode_bmp_stats(small)


def q_media_decode_mixed(spark, sf_dir):
    """Mixed-format REAL decode (round 11): even doc_ids become genuine
    uncompressed BMPs, odd ones genuine binary PPMs (P6 header + raw RGB),
    both over the same md5-chain pixel bytes — decode_image_stats'
    magic dispatch parses each for real and reports which format it saw.
    The formats disagree on channel ORDER (BMP stores BGR bottom-up, PPM
    RGB top-down), so the oracle's per-channel sums swap B<->R on odd
    ids — a value-level check that the dispatch really routed each
    payload through the right parser."""
    from ..operators.multimodal import decode_image_stats

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    px_hex = F.concat(
        F.md5("text"), F.md5(F.md5("text")), F.md5(F.md5(F.md5("text")))
    )
    ppm_header = "P6\n4 4\n255\n".encode().hex().upper()
    header = F.when(
        F.col("doc_id") % 2 == 0, F.unhex(F.lit(_bmp24_header_hex(4, 4)))
    ).otherwise(F.unhex(F.lit(ppm_header)))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(header, F.unhex(px_hex)).alias("payload"),
    )
    return decode_image_stats(media)


def q_media_decode_png(spark, sf_dir):
    """REAL decode of a genuinely COMPRESSED format in the gate (round
    12): each document's md5-chain bytes become a real 4x5 8-bit RGB PNG
    — multimodal.encode_png_images deflates the scanlines with stdlib
    zlib, applying filter type r % 5 per row so all FIVE PNG filters
    (None/Sub/Up/Average/Paeth) are present in every payload — and
    decode_image_stats' registry dispatch routes it through _decode_png,
    which walks the chunk stream (CRC-verified), INFLATES the IDAT, and
    reverses each filter. The oracle mirrors only the pixel arithmetic
    from the same hex chain: deflate round-trips losslessly, so the
    decoded stats equal the pre-compression byte sums (PNG stores RGB,
    so the channel mapping is the reverse of BMP's BGR).

    Reference parity: byte-level schema-blind payload handling including
    COMPRESSED streams at the ingestion edge (the reference gunzips
    payloads schema-blind — CompressionHandler.java:43-46), extended to
    media decode per the charter; closes VERDICT r11 #2."""
    from ..operators.multimodal import decode_image_stats, encode_png_images

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    m1 = F.md5("text")
    m2 = F.md5(m1)
    m3 = F.md5(m2)
    m4 = F.md5(m3)
    px_hex = F.substring(F.concat(m1, m2, m3, m4), 1, 120)  # 60 bytes
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(px_hex).alias("rgb"),
    )
    pngs = encode_png_images(media, width=4, height=5)
    return decode_image_stats(pngs)


def q_media_decode_png_adam7(spark, sf_dir):
    """Adam7-interlaced PNG decode (round 14): the SAME 4x5 fixture as
    media_decode_png, encoded interlaced — every pass filtered as its
    own sub-image (all five filter types restart per pass) and the
    decoder un-filters per pass then scatters to display positions.
    Interlacing is a lossless pixel permutation, so the oracle is
    byte-identical to the plain PNG key's."""
    from ..operators.multimodal import decode_image_stats, encode_png_images

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    m1 = F.md5("text")
    chain = F.concat(m1, F.md5(m1), F.md5(F.md5(m1)),
                     F.md5(F.md5(F.md5(m1))))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.substring(chain, 1, 120)).alias("rgb"),
    )
    return decode_image_stats(
        encode_png_images(media, width=4, height=5, interlace=True)
    )


def q_media_decode_gif_interlaced(spark, sf_dir):
    """4-pass interlaced GIF decode (round 14): the SAME 6x10 fixture
    as media_decode_gif with rows stored in the GIF89a interlace order
    and the flag set — a pure row permutation, so the oracle is the
    plain GIF key's palette arithmetic unchanged."""
    from ..operators.multimodal import decode_image_stats, encode_gif_images

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    m1 = F.md5("text")
    chain = F.concat(m1, F.md5(m1), F.md5(F.md5(m1)),
                     F.md5(F.md5(F.md5(m1))))
    palette = [(v, 255 - v, (v * 3) % 256) for v in range(256)]
    gifs = encode_gif_images(
        docs.select(
            F.col("doc_id").alias("media_id"),
            F.unhex(F.substring(chain, 1, 120)).alias("idx"),
        ),
        width=6, height=10, palette=palette, interlace=True,
    )
    return decode_image_stats(gifs)


def q_k_anonymity_audit(spark, sf_dir):
    """k-anonymity + distinct-l-diversity audit (round 13) over the
    customer table: QI class = (nation, market segment), sensitive =
    the account-balance band. One groupBy with map-side partials; the
    oracle is the same GROUP BY, so every class size, distinct count,
    and flag is value-verified."""
    from ..operators.contract import k_anonymity_audit

    cust = load(spark, sf_dir, "customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 2000)
    )
    return k_anonymity_audit(
        cust, ["c_nationkey", "c_mktsegment"], "bal_band", k=12, l=3
    )


def _blocklist_fixture(spark):
    return local_values_df(
        spark,
        [("spark",), ("merge",), ("window",), ("nosuchterm",)],
        "term string",
    )


def q_blocklist_audit(spark, sf_dir):
    """Blocklist audit (round 13; key renamed from 'blocklist_filter'
    per ADVICE r13 — the key now carries the operator's real name):
    banned-token hits where the blocklist is DATA (a DataFrame the join
    broadcasts), not N compiled literals — the shape that still works
    when the list is millions of terms and ships separately from the
    code. Per-doc (n_hits, sorted hit_terms, kept); the oracle replays
    the distinct-token explode and the IN-list as a join."""
    from ..operators.text import blocklist_audit

    docs = load(spark, sf_dir, "documents")
    return blocklist_audit(docs, _blocklist_fixture(spark))


def q_blocklist_filter(spark, sf_dir):
    """The real FILTER operator (round 14, ADVICE r13): kept docs only —
    explode distinct tokens, equi-join the blocklist DataFrame, anti-join
    the flagged id set. Same blocklist fixture as the audit key, so the
    two keys pin the audit/filter pair against each other."""
    from ..operators.text import blocklist_filter

    docs = load(spark, sf_dir, "documents")
    return blocklist_filter(docs, _blocklist_fixture(spark)).select(
        "doc_id", "lang", "source", "n_chars"
    )


def q_compressed_corpus_mixed(spark, sf_dir):
    """Mixed-codec corpus decode (round 13): per record, doc_id % 3
    picks gzip / bz2 / xz — the three compression formats real dumps
    actually mix (WARC gzip members, Wikipedia .bz2, archive .xz) —
    encode_compressed_text compresses each document FOR REAL with the
    stdlib codec and decode_compressed_text sniffs the magic per record
    and inflates (integrity verified: gzip trailer CRC, bz2 block CRCs,
    xz check field). Lossless round trip, so the oracle mirrors only
    codec selection and the text identity (md5 + utf-8 byte length)."""
    from ..sources.gzip_blobs import (
        decode_compressed_text, encode_compressed_text)

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tagged = docs.select(
        "doc_id", "text",
        F.element_at(
            F.array(F.lit("gzip"), F.lit("bz2"), F.lit("xz")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("codec"),
    )
    blobs = encode_compressed_text(tagged, codec_col="codec")
    out = decode_compressed_text(blobs)
    return out.select(
        "doc_id", "codec", "n_bytes",
        F.md5("text").alias("text_md5"), "decode_ok",
    )


def q_curriculum_order(spark, sf_dir):
    """Curriculum assembly (round 13): documents cut into 4 equal-count
    easy-to-hard phases by length (the canonical text difficulty proxy)
    with a reproducible seeded-hash shuffle WITHIN each phase — the
    training-schedule artifact a curriculum run streams phase by phase.
    The oracle replays ntile over the same total order and the same
    multiplicative-hash position rule."""
    from ..operators.training import curriculum_phases

    return curriculum_phases(
        load(spark, sf_dir, "documents"), n_phases=4,
        difficulty_col="n_chars", seed=42,
    )


def q_media_decode_multi_format(spark, sf_dir):
    """GRAND four-format dispatch (round 13; extended round 14): one
    DataFrame carries genuine BMP (uncompressed BGR), baseline JPEG
    (DCT+Huffman, lossy closed form — the mid==1 branch itself splits
    4:4:4 / 4:2:0 by doc_id % 8, so the dispatch must also pick the
    right MCU geometry), PNG (deflate, all five filters), and LZW GIF
    payloads by doc_id % 4, and decode_image_stats' registry must route
    every one to the right parser. The formats disagree on channel
    order, dimensions, AND reconstruction math, so a single mis-dispatch
    breaks the value hash — the end-to-end proof that the magic
    registry composes across every real codec the engine ships."""
    from ..operators.multimodal import (
        decode_image_stats, encode_gif_images, encode_jpeg_images,
        encode_png_images)

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    mid = F.col("doc_id") % 4
    m1 = F.md5("text")
    m2 = F.md5(m1)
    m3 = F.md5(m2)
    m4 = F.md5(m3)
    chain96 = F.concat(m1, m2, m3)                       # 48 bytes
    chain120 = F.substring(F.concat(m1, m2, m3, m4), 1, 120)  # 60 bytes
    bmp = docs.filter(mid == 0).select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.unhex(F.lit(_bmp24_header_hex(4, 4))), F.unhex(chain96)
        ).alias("payload"),
    )
    # round 16: the 4:4:4 branch now carries restart markers (DRI +
    # RST0 between its two MCUs, DC predictor reset) — entropy-layer
    # segmentation decodes to the SAME samples, so the oracle is
    # unchanged while the dispatch proves restart-bearing JPEGs route
    jpeg = encode_jpeg_images(
        _jpeg_const_media(docs.filter(F.col("doc_id") % 8 == 1)),
        width=16, height=8, restart_interval=1,
    ).unionByName(encode_jpeg_images(
        _jpeg_const_media(docs.filter(F.col("doc_id") % 8 == 5),
                          half=16, rows=16),
        width=32, height=16, subsample="420",
    ))
    # round 15: the PNG branch itself splits truecolor / PALETTED(+tRNS)
    # by doc_id % 8, like the JPEG branch's sampling split — a dispatch
    # that resolves palette entries as raw channels breaks the hash
    png = encode_png_images(
        docs.filter(F.col("doc_id") % 8 == 2).select(
            F.col("doc_id").alias("media_id"), F.unhex(chain120).alias("rgb")
        ),
        width=4, height=5,
    ).unionByName(encode_png_images(
        docs.filter(F.col("doc_id") % 8 == 6).select(
            F.col("doc_id").alias("media_id"),
            F.unhex(F.substring(chain120, 1, 40)).alias("rgb"),
        ),
        width=4, height=5, color=3,
        palette=[(v, (v * 5 + 11) % 256, 255 - v) for v in range(256)],
        trns=bytes([7, 129, 255]),
    ))
    palette = [(v, 255 - v, (v * 3) % 256) for v in range(256)]
    gif = encode_gif_images(
        docs.filter(mid == 3).select(
            F.col("doc_id").alias("media_id"), F.unhex(chain120).alias("idx")
        ),
        width=6, height=10, palette=palette,
    )
    media = (
        bmp.unionByName(jpeg).unionByName(png).unionByName(gif)
    )
    return decode_image_stats(media)


def q_tar_corpus_members(spark, sf_dir):
    """WebDataset-shard round trip (round 13): per doc, two ASCII
    members (meta.txt = md5(text), data.txt = 40 chain chars) pack into
    a REAL ustar archive via encode_tar_shards (applyInPandas per
    shard, members sorted, octal sizes + verified checksums — interop
    proven against stdlib tarfile in both directions) and
    explode_tar_members parses it back. Tar framing is lossless, so the
    oracle mirrors only the member-content arithmetic. Output:
    (shard_id, member_name, n_bytes, content_md5)."""
    from ..sources.tar_blobs import encode_tar_shards, explode_tar_members

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    m1 = F.md5("text")
    chain = F.concat(m1, F.md5(m1))
    members = docs.select(
        F.col("doc_id").alias("shard_id"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("meta.txt").alias("member_name"),
                    m1.cast("binary").alias("content"),
                ),
                F.struct(
                    F.lit("data.txt").alias("member_name"),
                    F.substring(chain, 1, 40).cast("binary").alias("content"),
                ),
            )
        ).alias("m"),
    ).select("shard_id", "m.*")
    shards = encode_tar_shards(members, id_col="shard_id")
    out = explode_tar_members(shards, id_col="shard_id")
    return out.select(
        "shard_id", "member_name", "n_bytes",
        F.md5("content").alias("content_md5"),
    )


def _wds_shard_store(spark, sf_dir):
    """Parquet-backed WebDataset shard store + persisted member-offset
    index (sources/tar_index.py), built once per (sf_dir, documents
    epoch): the SAME shards q_tar_corpus_members synthesizes (meta.txt
    + data.txt per doc < 200), written partitioned by shard bucket
    (shard_id % 8) so a static bucket predicate prunes whole files,
    then indexed with one header-walking pass."""
    import os

    from ..sources import tar_index
    from ..sources.tar_blobs import encode_tar_shards
    from .analytics import _index_path

    path = _index_path(sf_dir, "wds_tar", "documents")
    blobs_dir = os.path.join(path, "blobs")
    if not os.path.exists(os.path.join(path, tar_index._META)):
        docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
        m1 = F.md5("text")
        chain = F.concat(m1, F.md5(m1))
        members = docs.select(
            F.col("doc_id").alias("shard_id"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit("meta.txt").alias("member_name"),
                        m1.cast("binary").alias("content"),
                    ),
                    F.struct(
                        F.lit("data.txt").alias("member_name"),
                        F.substring(chain, 1, 40).cast("binary")
                            .alias("content"),
                    ),
                )
            ).alias("m"),
        ).select("shard_id", "m.*")
        shards = encode_tar_shards(members, id_col="shard_id")
        (
            shards.withColumn(
                "pbucket", (F.col("shard_id") % 8).cast("int")
            )
            .write.mode("overwrite").partitionBy("pbucket")
            .parquet(blobs_dir)
        )
        tar_index.write_tar_index(spark.read.parquet(blobs_dir), path)
    return path


def q_tar_corpus_members_indexed(spark, sf_dir):
    """Selective WebDataset member read via the persisted tar
    member-offset index (round 16, VERDICT r15 #3 — the "random access
    into tar shards" gap): predicate = shard bucket 3 AND member name
    'meta.txt'. The read touches the index parquet, then ONLY the
    matching bucket's blob files (static partition-column prune) and
    slices each member's byte range out of its shard — zero tar
    parsing at read time, where the full-scan path walks every shard
    whole. Pruning is a superset optimization, so the answer EQUALS
    the full-scan answer under the same predicate — which is the
    oracle. The file-level input-bytes drop is asserted by
    tests/test_tar_index.py via executed scan metrics."""
    import os

    from ..sources import tar_index

    path = _wds_shard_store(spark, sf_dir)
    blobs = spark.read.parquet(os.path.join(path, "blobs"))
    idx = tar_index.load_tar_index(spark, path)
    sel = idx.filter(
        (F.col("shard_id") % 8 == 3) & (F.col("member_name") == "meta.txt")
    )
    out = tar_index.fetch_members(
        blobs, sel, prune=(F.col("pbucket") == 3)
    )
    return out.select(
        "shard_id", "member_name", "n_bytes",
        F.md5("content").alias("content_md5"),
    )


def q_tar_corpus_samples(spark, sf_dir):
    """WebDataset SAMPLE grouping (round 14, VERDICT r13 #5): the
    member list is not the contract — samples are. Per doc the shard
    carries three members forming TWO samples: ``s0.txt`` +
    ``s0.meta.json`` (stem s0 — the multi-dot extension rule:
    everything after the FIRST dot of the basename) and ``s1.txt``
    (stem s1). The pipeline packs a real ustar shard, explodes it, and
    `group_tar_samples` rebuilds the samples with ext-sorted members.
    Output flattens the member array into oracle-checkable scalars:
    (shard, key, n_members, total_bytes, csv of exts, md5 over the
    member-content md5s in ext order)."""
    from ..sources.tar_blobs import (
        encode_tar_shards, explode_tar_members, group_tar_samples,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    m1 = F.md5("text")
    m2 = F.md5(m1)
    chain = F.concat(m1, m2)
    members = docs.select(
        F.col("doc_id").alias("shard_id"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("s0.txt").alias("member_name"),
                    m1.cast("binary").alias("content"),
                ),
                F.struct(
                    F.lit("s0.meta.json").alias("member_name"),
                    m2.cast("binary").alias("content"),
                ),
                F.struct(
                    F.lit("s1.txt").alias("member_name"),
                    F.substring(chain, 1, 40).cast("binary").alias("content"),
                ),
            )
        ).alias("m"),
    ).select("shard_id", "m.*")
    shards = encode_tar_shards(members, id_col="shard_id")
    samples = group_tar_samples(
        explode_tar_members(shards, id_col="shard_id"), id_col="shard_id"
    )
    exts = F.transform(F.col("members"), lambda m: m["ext"])
    hashes = F.transform(F.col("members"), lambda m: F.md5(m["content"]))
    return samples.select(
        "shard_id", "sample_key", "n_members", "total_bytes",
        F.array_join(exts, ",").alias("exts"),
        F.md5(F.array_join(hashes, "|")).alias("content_md5"),
    )


def q_media_decode_gif_frames(spark, sf_dir):
    """ANIMATED GIF decode (round 14, VERDICT r13 #7): each document's
    md5-chain bytes become THREE full-canvas 4x5 frames of a genuine
    GIF89a animation — one Graphic Control Extension (disposal 1,
    delays 10/20/30 cs) + real LZW stream per frame — and
    `decode_gif_frame_stats` composites and emits one stats row per
    frame. LZW round-trips losslessly and full-canvas disposal-1
    frames composite to themselves, so the oracle mirrors the palette
    arithmetic per 20-byte chain slice. The offset/transparency/
    disposal-2 compositing surface is pinned by property tests (the
    fixtures' hex chains can't express sub-rect frames)."""
    from ..operators.multimodal import (
        decode_gif_frame_stats, encode_gif_anim_images,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    m1 = F.md5("text")
    m2 = F.md5(m1)
    m3 = F.md5(m2)
    m4 = F.md5(m3)
    chain120 = F.substring(F.concat(m1, m2, m3, m4), 1, 120)  # 60 bytes
    palette = [(v, 255 - v, (v * 3) % 256) for v in range(256)]
    gifs = encode_gif_anim_images(
        docs.select(
            F.col("doc_id").alias("media_id"),
            F.unhex(chain120).alias("idx"),
        ),
        width=4, height=5, palette=palette, delays=[10, 20, 30],
    )
    return decode_gif_frame_stats(gifs)


def q_dedup_gif_frames(spark, sf_dir):
    """Video near-dup over a REAL container (round 14, VERDICT r13 #7's
    second half): each doc is a genuine 3-frame animated GIF; odd docs
    are 're-exports' of their even predecessor sharing frames 0 and 1
    byte-for-byte (frame 2 differs). The pipeline DECODES the GIFs —
    container walk, per-frame LZW, GCE compositing — fingerprints every
    composited frame by its channel-sum triple, and votes: pairs
    sharing >= 2 identical frames are duplicates. Replaces the
    synthetic digest-frame tables of dedup_video_frames with real
    decoded frames end-to-end. Scale shape: decode is scan-local; the
    only shuffles are the fingerprint equi-join and one pair vote
    aggregation."""
    from ..operators.multimodal import (
        decode_gif_frame_stats, encode_gif_anim_images,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    m1 = F.md5("text")
    chain120 = F.substring(
        F.concat(m1, F.md5(m1), F.md5(F.md5(m1)), F.md5(F.md5(F.md5(m1)))),
        1, 120,
    )
    own = docs.select("doc_id", chain120.alias("chain"))
    prev = own.select(
        (F.col("doc_id") + 1).alias("doc_id"), F.col("chain").alias("prev"),
    )
    mixed = own.join(prev, "doc_id", "left").select(
        F.col("doc_id").alias("media_id"),
        F.unhex(
            F.when(
                (F.col("doc_id") % 2 == 1) & F.col("prev").isNotNull(),
                F.concat(F.substring("prev", 1, 80),
                         F.substring("chain", 81, 40)),
            ).otherwise(F.col("chain"))
        ).alias("idx"),
    )
    palette = [(v, 255 - v, (v * 3) % 256) for v in range(256)]
    gifs = encode_gif_anim_images(
        mixed, width=4, height=5, palette=palette, delays=[10, 20, 30],
    )
    frames = decode_gif_frame_stats(gifs).select(
        "media_id", "sum_b", "sum_g", "sum_r",
    )
    a = frames.select(F.col("media_id").alias("video_a"),
                      "sum_b", "sum_g", "sum_r")
    b = frames.select(F.col("media_id").alias("video_b"),
                      "sum_b", "sum_g", "sum_r")
    return (
        a.join(b, ["sum_b", "sum_g", "sum_r"])
        .filter(F.col("video_a") < F.col("video_b"))
        .groupBy("video_a", "video_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


def q_media_decode_gif(spark, sf_dir):
    """REAL decode of the THIRD genuinely compressed format (round 13):
    each document's md5-chain bytes become palette indices in a real
    6x10 GIF89a — encode_gif_images LZW-compresses the index stream
    (variable-width codes, clear/EOI, LSB-first packing) against a
    256-entry color table with the closed-form palette
    (r=v, g=255-v, b=3v mod 256) — and decode_image_stats' registry
    dispatch routes it through _decode_gif: container walk, LZW
    decompress, palette lookup. LZW round-trips losslessly, so the
    oracle mirrors only the palette arithmetic over the same hex chain.

    Reference parity: schema-blind compressed-payload handling at the
    ingestion edge (CompressionHandler.java:43-46), extended to media
    per the charter — the PNG/JPEG precedent applied to LZW."""
    from ..operators.multimodal import decode_image_stats, encode_gif_images

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    m1 = F.md5("text")
    m2 = F.md5(m1)
    m3 = F.md5(m2)
    m4 = F.md5(m3)
    px_hex = F.substring(F.concat(m1, m2, m3, m4), 1, 120)  # 60 bytes
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(px_hex).alias("idx"),
    )
    palette = [(v, 255 - v, (v * 3) % 256) for v in range(256)]
    gifs = encode_gif_images(media, width=6, height=10, palette=palette)
    return decode_image_stats(gifs)


def q_media_resize_gif(spark, sf_dir):
    """GIF resize ROUND-TRIP in the gate (round 13): the same genuine
    LZW-compressed 6x10 GIFs as media_decode_gif, resized 6x10 -> 4x5 by
    resize_images' GIF path — which stays in INDEX space (parse to
    palette indices, nearest-neighbor sample, re-encode against the SAME
    color table), so unlike the JPEG path there is no second lossy
    generation and the oracle mirrors only the selection arithmetic:
    surviving index positions are ((i//4)*10//5)*6 + ((i%4)*6//4) of the
    60-byte md5 chain, palette (r=v, g=255-v, b=3v mod 256)."""
    from ..operators.multimodal import (
        decode_image_stats, encode_gif_images, resize_images)

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    m1 = F.md5("text")
    m2 = F.md5(m1)
    m3 = F.md5(m2)
    m4 = F.md5(m3)
    px_hex = F.substring(F.concat(m1, m2, m3, m4), 1, 120)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(px_hex).alias("idx"),
    )
    palette = [(v, 255 - v, (v * 3) % 256) for v in range(256)]
    gifs = encode_gif_images(media, width=6, height=10, palette=palette).select(
        "media_id", F.lit("image").alias("kind"), "payload"
    )
    small = resize_images(gifs, width=4, height=5).select(
        "media_id", "payload"
    )
    return decode_image_stats(small)


def q_media_decode_png_mixed(spark, sf_dir):
    """Mixed COLOR-TYPE PNG decode (round 12): doc_id % 3 picks the
    color type — grayscale (bpp 1), truecolor RGB (bpp 3), RGBA
    (bpp 4) — all genuinely deflated and inflated, each with all five
    filters. The three types disagree on channel math (gray expands to
    three EQUAL sums, RGBA drops every 4th byte), so the oracle's
    per-branch sums value-verify that the bpp-aware un-filter routed
    each payload correctly — the color-type analogue of
    media_decode_mixed's BMP/PPM BGR-vs-RGB check."""
    from ..operators.multimodal import decode_image_stats, encode_png_images

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    m1 = F.md5("text")
    m2 = F.md5(m1)
    m3 = F.md5(m2)
    m4 = F.md5(m3)
    m5 = F.md5(m4)
    chain = F.concat(m1, m2, m3, m4, m5)  # 160 hex chars = 80 bytes

    def branch(k, n_hex, color):
        sel = docs.filter(F.col("doc_id") % 3 == k).select(
            F.col("doc_id").alias("media_id"),
            F.unhex(F.substring(chain, 1, n_hex)).alias("rgb"),
        )
        return encode_png_images(sel, width=4, height=5, color=color)

    pngs = (
        branch(0, 40, 0)            # grayscale: 20 bytes
        .unionByName(branch(1, 120, 2))   # RGB: 60 bytes
        .unionByName(branch(2, 160, 6))   # RGBA: 80 bytes
    )
    return decode_image_stats(pngs)


def q_media_resize_png(spark, sf_dir):
    """PNG resize ROUND-TRIP in the gate (round 12): the same genuine
    4x5 PNGs as media_decode_png (all five filters), resized 4x5 -> 2x2
    by resize_images' real PNG path (inflate -> un-filter ->
    nearest-neighbor sample -> re-deflate via _encode_png), then decoded
    AGAIN — deflate/inflate round-trips losslessly, so the oracle
    mirrors only the nearest-neighbor SELECTION arithmetic: PNG stores
    top-down RGB, logical rows {0,2} and cols {0,2} survive, i.e. pixel
    byte indices {0..2, 6..8, 24..26, 30..32} of the md5 chain."""
    from ..operators.multimodal import decode_image_stats, encode_png_images, resize_images

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    m1 = F.md5("text")
    m2 = F.md5(m1)
    m3 = F.md5(m2)
    m4 = F.md5(m3)
    px_hex = F.substring(F.concat(m1, m2, m3, m4), 1, 120)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(px_hex).alias("rgb"),
    )
    pngs = encode_png_images(media, width=4, height=5).select(
        "media_id", F.lit("image").alias("kind"), "payload"
    )
    small = resize_images(pngs, width=2, height=2).select(
        "media_id", "payload"
    )
    return decode_image_stats(small)


def _media_spread(df):
    """Fan a tiny gate media relation out to the cluster's cores before a
    Python codec stage (round 16): the documents slice behind the media
    fixtures reads as ONE parquet split (0.6 MB at sf0.1), so every
    encode+decode otherwise serializes on a single task. Same guarded
    round-robin as operators.dedup._spread — a no-op whenever the source
    already has enough partitions (any production-scale blob scan)."""
    from ..operators.dedup import _spread

    return _spread(df)


def _jpeg_const_media(docs, half: int = 8, rows: int = 8, spread: bool = False):
    """Shared fixture for the JPEG keys: each document's first six
    md5(text) bytes become the two constant half colors of a
    (2*half) x rows RGB image (left half = bytes 0-2, right = bytes
    3-5) — hex-string repetition builds the pixel bytes JVM-side, no
    Python in the fixture. Defaults give the 16x8 two-block 4:4:4
    fixture; (16, 16) gives the 32x16 two-MCU 4:2:0 one and (16, 8)
    the 32x8 4:2:2 one."""
    hex6 = F.substring(F.md5("text"), 1, 12)
    c0 = F.substring(hex6, 1, 6)
    c1 = F.substring(hex6, 7, 6)
    row = F.concat(F.repeat(c0, half), F.repeat(c1, half))  # one scanline
    # _spread (round 16, opt-in): the gate's documents slice reads as ONE
    # parquet split, so the Python encode+decode chain downstream
    # otherwise runs on a single task/core (guide §2.5 input skew);
    # no-op once the source has enough partitions (the production case).
    # Measured and ultimately UNUSED at the gate (round 16): interleaved
    # A/B first showed the fan-out paying for the restart-marker ten-MCU
    # decode (x0.73-0.78) while hurting the cheap one/two-MCU fixtures
    # (plain jpeg x1.36, 420 ~x1.1) — but that restart win came from
    # Python workers PRE-WARMED by the other (then-spread) JPEG keys;
    # with restart as the only spread key the closing bench read it at
    # 1.36-1.52 s vs 0.79 s unspread (32 cold worker spin-ups exceed the
    # DCT work at gate payload counts). All call sites therefore stay
    # unspread; the seam stays for production-scale payloads where
    # per-item decode dwarfs task startup.
    if spread:
        docs = _media_spread(docs)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.repeat(row, rows)).alias("rgb"),
    )


def q_media_decode_jpeg(spark, sf_dir):
    """REAL baseline-JPEG decode in the gate (round 13, VERDICT r12 #2):
    each document's md5 bytes become a genuine 16x8 baseline JPEG —
    `encode_jpeg_images` runs the full forward DCT + quantization +
    Annex-K Huffman entropy coding (two MCUs, so the DC PREDICTION chain
    is live), and decode_image_stats' registry dispatch routes the
    payload through `_decode_jpeg`: marker walk, DHT canonical rebuild,
    Huffman decode, dequantize, IDCT, fixed-point YCbCr->RGB. JPEG is
    LOSSY, so unlike the PNG key the oracle cannot reuse the input
    bytes: the fixture is constant-per-8x8-block, for which the decode
    has a CLOSED integer form — with flat q=16 tables only the DC
    survives, and each YCbCr channel reconstructs to
    LEAST(v + v%2, 255); the oracle mirrors the entire
    RGB -> fixed-point YCbCr -> DC quantize/reconstruct -> fixed-point
    RGB chain in pure BIGINT arithmetic (every numerator provably
    non-negative, so floor == truncating division in both engines).

    Reference parity: schema-blind COMPRESSED payload handling at the
    ingestion edge (CompressionHandler.java:43-46), extended to media
    per the charter — JPEG is the format a real multimodal corpus is
    mostly made of."""
    from ..operators.multimodal import decode_image_stats, encode_jpeg_images

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    jpegs = encode_jpeg_images(_jpeg_const_media(docs), width=16, height=8)
    return decode_image_stats(jpegs)


def q_media_decode_jpeg_restart(spark, sf_dir):
    """Restart-marker (DRI/RSTn) baseline JPEG in the gate (round 16,
    VERDICT r15 #6): each document's md5 bytes become an 80x8 JPEG of
    TEN constant 8x8 MCUs (two 40px constant halves), encoded with
    restart_interval=1 — a DRI segment plus nine RSTn markers whose
    index CYCLES RST0..RST7 and wraps (marker 9 is RST0 again), with
    the DC predictor reset at every marker, the byte-aligned entropy
    segments, and the decoder's strict marker-sequence check all live.
    Restart markers don't change WHAT decodes (prediction is exact),
    so the oracle is the same constant-block closed form as the
    baseline key at px_per_half=320 — while truncated-RST and
    mis-sequenced-RSTn declines are pinned by the property battery
    (tests/test_properties.py). At 100 TB restart intervals are also
    the parallel-decode seam: each RST boundary is a byte-aligned,
    predictor-reset entry point, so one giant scan splits into
    independently decodable segments."""
    from ..operators.multimodal import decode_image_stats, encode_jpeg_images

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    jpegs = encode_jpeg_images(
        _jpeg_const_media(docs, half=40, rows=8),
        width=80, height=8, restart_interval=1,
    )
    return decode_image_stats(jpegs)


def q_media_decode_jpeg_420(spark, sf_dir):
    """4:2:0 baseline-JPEG decode (round 14, VERDICT r13 #3 — the
    sampling real-world corpora overwhelmingly use): each document's
    md5 bytes become a 32x16 JPEG of two CONSTANT 16x16 MCUs, encoded
    with luma (2,2) / chroma (1,1) — the encoder's round-half-up box
    mean is exact on constant cells and the decoder's replication
    upsample keeps them constant, so the closed-form reconstruction is
    the SAME `min(v + v%2, 255)` chain as 4:4:4, just covering 256
    pixels per half. Two MCUs keep the interleaved DC prediction chain
    live across Y, Cb, and Cr."""
    from ..operators.multimodal import decode_image_stats, encode_jpeg_images

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    jpegs = encode_jpeg_images(
        _jpeg_const_media(docs, half=16, rows=16),
        width=32, height=16, subsample="420",
    )
    return decode_image_stats(jpegs)


def q_media_decode_jpeg_422(spark, sf_dir):
    """4:2:2 baseline-JPEG decode (round 14): the 32x8 two-MCU variant
    with luma (2,1) — chroma halved horizontally only. Same closed form
    as the 4:2:0 key over 128 pixels per half; together the two keys
    pin BOTH supported subsampled MCU geometries."""
    from ..operators.multimodal import decode_image_stats, encode_jpeg_images

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    jpegs = encode_jpeg_images(
        _jpeg_const_media(docs, half=16, rows=8),
        width=32, height=8, subsample="422",
    )
    return decode_image_stats(jpegs)


def q_media_decode_jpeg_progressive(spark, sf_dir):
    """PROGRESSIVE JPEG decode (round 14 — the remaining real-world
    JPEG profile after 4:2:0): the same 16x8 two-constant-block fixture
    as media_decode_jpeg, but encoded as SOF2 with the default
    libjpeg-shaped scan script — DC at reduced precision + refinement,
    then per-component spectral bands at Al=2 refined down to full
    precision. Progressive reconstruction is coefficient-exact against
    baseline (pinned by the property battery for random scripts), so
    the oracle is the SAME closed form as the baseline key."""
    from ..operators.multimodal import decode_image_stats, encode_jpeg_images

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    jpegs = encode_jpeg_images(
        _jpeg_const_media(docs), width=16, height=8, progressive=True,
    )
    return decode_image_stats(jpegs)


def q_media_decode_jpeg_mixed(spark, sf_dir):
    """Mixed LOSSLESS/LOSSY dispatch (round 13): even doc_ids become the
    4x5 truecolor PNGs of media_decode_png, odd ones the 16x8
    constant-block JPEGs of media_decode_jpeg — decode_image_stats'
    registry dispatch must route each through the right codec. The
    branches disagree on dimensions AND on value math (PNG sums are the
    raw chain bytes — lossless; JPEG sums go through the quantization
    closed form), so a misrouted payload cannot hash-match."""
    from ..operators.multimodal import (
        decode_image_stats, encode_jpeg_images, encode_png_images,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    even = docs.filter(F.col("doc_id") % 2 == 0)
    m1 = F.md5("text")
    m2 = F.md5(m1)
    m3 = F.md5(m2)
    m4 = F.md5(m3)
    px_hex = F.substring(F.concat(m1, m2, m3, m4), 1, 120)  # 60 bytes
    pngs = encode_png_images(
        even.select(
            F.col("doc_id").alias("media_id"), F.unhex(px_hex).alias("rgb")
        ),
        width=4, height=5,
    )
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    jpegs = encode_jpeg_images(_jpeg_const_media(odd), width=16, height=8)
    return decode_image_stats(pngs.unionByName(jpegs))


def _wav16_header_hex(n_bytes: int, channels: int = 1, rate: int = 8000) -> str:
    """Hex of a RIFF/WAVE header for 16-bit PCM (public WAV byte layout):
    RIFF size, 'fmt ' chunk (format 1, block align, byte rate), 'data'
    chunk size."""
    import struct

    block = channels * 2
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + n_bytes) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                                rate * block, block, 16)
        + b"data" + struct.pack("<I", n_bytes)
    )
    return hdr.hex().upper()


def q_media_audio_stats(spark, sf_dir):
    """REAL audio decode in the gate (round 11): each document becomes a
    genuine 16-bit PCM WAV (44-byte RIFF/fmt/data header + 24 samples
    from the md5 chain) and multimodal.decode_audio_stats PARSES the
    RIFF chunks for real. The oracle mirrors the little-endian signed
    16-bit arithmetic from the same hex chain: sample i = lo + 256*hi -
    65536*(hi >= 128) over byte pairs — sum / min / max / sum of squares
    are all integers, so the stats are engine-exact. Completes the
    real-decode family across image (BMP/PPM) AND audio (WAV)."""
    from ..operators.multimodal import decode_audio_stats

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    px_hex = F.concat(
        F.md5("text"), F.md5(F.md5("text")), F.md5(F.md5(F.md5("text")))
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.unhex(F.lit(_wav16_header_hex(48))), F.unhex(px_hex)
        ).alias("payload"),
    )
    return decode_audio_stats(media)


def q_media_audio_resample(spark, sf_dir):
    """Audio resample ROUND-TRIP in the gate (round 12): the same
    genuine 24-sample 8 kHz WAVs as media_audio_stats, resampled to
    4 kHz by resample_audio's real path (RIFF re-walk -> nearest frame
    selection -> re-encode) and decoded AGAIN by decode_audio_stats.
    Nearest-neighbor at a 2:1 ratio keeps exactly the even sample
    indices ((i*24)//12 = 2i), so the oracle mirrors the signed 16-bit
    arithmetic over byte pairs 0,2,4,...,22 of the md5 chain — the
    audio counterpart of media_resize_png's selection mirror."""
    from ..operators.multimodal import decode_audio_stats, resample_audio

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    px_hex = F.concat(
        F.md5("text"), F.md5(F.md5("text")), F.md5(F.md5(F.md5("text")))
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.unhex(F.lit(_wav16_header_hex(48))), F.unhex(px_hex)
        ).alias("payload"),
    )
    return decode_audio_stats(resample_audio(media, out_rate=4000))


def q_dedup_video_frames(spark, sf_dir):
    """Video near-dup by FRAME VOTING (round 11) — the standard recipe
    for video dedup at corpus scale: fingerprint every sampled frame,
    find near-dup frame PAIRS with the banded pigeonhole join, then vote
    videos sharing >= 3 matched frames. Videos here are 5 deterministic
    digest frames per doc (the sample_frames payload convention,
    md5-derived); each 're-export' twin perturbs every frame's LAST
    byte — with the fixed-threshold rule a 1-byte change flips <= 2 of
    the 32 one-hex-char cells, so every twin frame is within Hamming 2 <
    bands and frame recall is guaranteed, making the vote exact.

    Scale shape: explode is scan-local; the only shuffles are the banded
    frame equi-join (candidates O(collisions), never all-pairs) and one
    (video_a, video_b) vote aggregation. Returns (video_a, video_b,
    n_shared >= 3)."""
    from ..operators.multimodal import (
        byte_grid_fingerprint,
        fingerprint_near_dup_join,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    idx = F.explode(F.sequence(F.lit(0), F.lit(4))).alias("idx")
    base = docs.select("doc_id", "text", idx)
    fh = F.md5(F.concat(F.col("text"), F.lit(":"), F.col("idx").cast("string")))
    fh2 = F.md5(
        F.concat(F.col("text"), F.lit(":"), F.col("idx").cast("string"),
                 F.lit(":v2"))
    )
    frames = base.select(
        (F.col("doc_id") * 8 + F.col("idx")).alias("frame_id"),
        F.unhex(fh).alias("payload"),
    ).unionByName(base.select(
        ((F.col("doc_id") + 100000) * 8 + F.col("idx")).alias("frame_id"),
        F.unhex(
            F.concat(F.substring(fh, 1, 30), F.substring(fh2, 31, 2))
        ).alias("payload"),
    ))
    fps = byte_grid_fingerprint(
        frames, n_cells=32, threshold=9, id_col="frame_id"
    ).localCheckpoint()
    pairs = fingerprint_near_dup_join(
        fps, n_cells=32, bands=4, max_hamming=3, id_col="frame_id"
    )
    va = F.expr("least(id_a div 8, id_b div 8)")
    vb = F.expr("greatest(id_a div 8, id_b div 8)")
    return (
        pairs.where(F.expr("(id_a div 8) != (id_b div 8)"))
        .select(va.alias("video_a"), vb.alias("video_b"))
        .groupBy("video_a", "video_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 3)
    )


def q_dedup_media_clusters(spark, sf_dir):
    """Media duplicate GROUPS, completing the media family's
    pairs -> clusters arc (round 9): connected components (pointer
    jumping, O(log diameter) rounds) over the banded fingerprint
    near-dup pairs of q_dedup_media_near; every media id gets
    cluster_id = min reachable id (singletons stay their own cluster).
    Oracle = the identical pair SQL spliced into the recursive-closure
    query, the dedup_clusters precedent."""
    from ..operators.multimodal import (
        byte_grid_fingerprint,
        fingerprint_near_dup_join,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    base = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.md5("text"), "UTF-8").alias("payload"),
    )
    variant = docs.select(
        (F.col("doc_id") + 100000).alias("media_id"),
        F.encode(
            F.concat(
                F.substring(F.md5("text"), 1, 30),
                F.substring(F.md5(F.concat(F.col("text"), F.lit("v2"))), 31, 2),
            ),
            "UTF-8",
        ).alias("payload"),
    )
    media = base.unionByName(variant)
    fps = byte_grid_fingerprint(media, n_cells=32, threshold=9).localCheckpoint()
    pairs = fingerprint_near_dup_join(
        fps, n_cells=32, bands=4, max_hamming=3
    ).select("id_a", "id_b").localCheckpoint()
    return dedup.connected_components(
        pairs, media.select("media_id"), node_col="media_id"
    )


def q_url_canonical_dedup(spark, sf_dir):
    """URL-level web-corpus dedup (round 11): every document gets THREE
    synthetic crawl URLs of the same logical page — different host case,
    tracking params (utm_*/ref=), param ORDER, and a fragment —
    text.canonical_url collapses all three to one canonical key (strip
    fragment, lowercase scheme+host only, drop tracking params, sort
    survivors) and url_dedup groups with the keep-lowest-id policy.
    Every group must come back n_urls=3 with the doc's own id, and no
    two documents may collapse together (path carries md5(text)) — both
    properties value-checked by the oracle, which mirrors the
    split/filter/sort pipeline token-for-token in DuckDB list functions."""
    from ..operators.text import url_dedup

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    base = docs.select(
        "doc_id", "source", "text",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("k"),
    )
    n = (F.col("doc_id") % 7).cast("string")
    p8 = F.substring(F.md5("text"), 1, 8)
    host = F.when(
        F.col("k") == 0, F.lit("https://WWW.Example-")
    ).otherwise(F.lit("https://www.example-"))
    deco = (
        F.when(F.col("k") == 0,
               F.concat(F.lit("?id="), n, F.lit("&z=9&utm_source=feed")))
        .when(F.col("k") == 1,
              F.concat(F.lit("?z=9&utm_campaign=x&id="), n))
        .otherwise(F.concat(F.lit("?ref=tw&z=9&id="), n, F.lit("#sec")))
    )
    urls = base.select(
        "doc_id",
        F.concat(host, F.col("source"), F.lit(".com/Doc/"), p8, deco)
            .alias("url"),
    )
    return url_dedup(urls)


def q_webdataset_pipeline(spark, sf_dir):
    """Round 15 (VERDICT r14 #3): the MULTIMODAL training-read flagship —
    what a real 100 TB WebDataset pre-training ingest looks like, every
    stage an already-gated operator composed into ONE declarative plan:

      tar shards  ->  explode_tar_members (scan-local)
                  ->  group_tar_samples   (THE one row-bearing groupBy)
                  ->  decode_wds_samples  (image via the REAL in-repo PNG
                                           codec + text via bounded gzip,
                                           one Arrow pass, zero exchange)
                  ->  fingerprint dedup   (NOT-EXISTS anti self-join on
                                           decoded text md5 — keep-lowest
                                           -id, no extra groupBy; the
                                           near-dup generalization swaps
                                           this join for the banded
                                           minhash-LSH pair join the
                                           dedup_minhash_lsh key gates —
                                           same position in the plan,
                                           same no-all-pairs shape)
                  ->  pack_sequences      (the packing shuffle)

    Fixture: each doc packs a genuine ustar shard holding one 2-modality
    sample — `s.png` (a real deflate-compressed 4x5 RGB PNG whose pixels
    are md5-chain bytes, all five PNG filters) and `s.txt.gz` (gzip of a
    variable-length hex text (length 40 + id % 50 — the period divides
    100, so twins stay LENGTH-identical too)). Content derives from md5('wds' ||
    doc_id % 100), so ids 100..199 are exact content twins of 0..99 and
    the dedup stage provably bites; both modality round trips are
    lossless, so the oracle mirrors the pixel/text arithmetic straight
    off the chain, and packing is the cumsum-DIV formula. The shard
    construction needs NO groupBy (a sample's members all come from one
    doc row — a single mapInPandas packs the tar), keeping the plan's
    claim honest: one row-bearing groupBy before the packing shuffle
    (group_tar_samples' bomb-guard count agg shuffles one COUNT row per
    key, never corpus rows)."""
    import gzip as _gzip

    from ..operators.multimodal import _encode_png
    from ..operators.training import pack_sequences
    from ..sources.tar_blobs import (
        _encode_tar, decode_wds_samples, explode_tar_members,
        group_tar_samples,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    m1 = F.md5(F.concat(F.lit("wds"), (F.col("doc_id") % 100).cast("string")))
    m2 = F.md5(m1)
    m3 = F.md5(m2)
    m4 = F.md5(m3)
    staged = docs.select(
        F.col("doc_id").alias("shard_id"),
        F.concat(m1, m2, m3, m4).alias("chain"),
    ).select(
        "shard_id",
        F.unhex(F.substring(F.col("chain"), 1, 120)).alias("rgb"),
        F.expr(
            "substring(chain, 1, 40 + CAST(shard_id % 50 AS INT))"
        ).alias("text"),
    )

    def _pack_shards(it):
        for pdf in it:
            payloads = [
                _encode_tar([
                    ("s.png", _encode_png(bytes(rgb), 4, 5, color=2)),
                    ("s.txt.gz",
                     _gzip.compress(text.encode(), 6, mtime=0)),
                ])
                for rgb, text in zip(pdf["rgb"], pdf["text"])
            ]
            yield pd.DataFrame(
                {"shard_id": pdf["shard_id"], "payload": payloads}
            )

    shards = staged.mapInPandas(
        _pack_shards, schema="shard_id long, payload binary"
    )
    samples = group_tar_samples(
        explode_tar_members(shards, id_col="shard_id"), id_col="shard_id"
    )
    # decode ONCE: the stats relation is one narrow row per sample —
    # materialize it so the dedup anti self-join and the pack join reread
    # the tiny relation, never the tar bytes (without this, Spark's
    # lineage recomputed the whole tar decode for every self-join branch:
    # 3x decode cost at 100 TB). Same device as community_lpa's edge list.
    decoded = (
        decode_wds_samples(samples)
        .filter(F.col("decode_ok"))
        .localCheckpoint()
    )
    twin = decoded.select(
        F.col("shard_id").alias("_sid2"), F.col("text_md5").alias("_md52")
    )
    kept = decoded.join(
        twin,
        (decoded["text_md5"] == twin["_md52"])
        & (decoded["shard_id"] > twin["_sid2"]),
        "left_anti",
    )
    packed = pack_sequences(
        kept.select("shard_id", "text_len"),
        budget=256, tokens_col="text_len", id_col="shard_id",
    )
    return kept.join(
        packed.select("shard_id", "bin_id", "bin_offset"), "shard_id"
    ).select(
        "shard_id", "sample_key", "n_members", "width", "height",
        "luma_milli", "text_len", "text_md5", "bin_id", "bin_offset",
    )


def q_media_decode_png_palette(spark, sf_dir):
    """Round 15 (VERDICT r14 #6): the two most common real-corpus PNG
    variants after truecolor, both directions. Dispatch by doc_id
    parity so a mis-geometry breaks the hash (the JPEG 4:2:0 split
    precedent):

    - EVEN docs: PALETTED (color type 3) — the first 20 md5-chain bytes
      are palette indices into a 256-entry PLTE whose entry v is
      (v, (v*5+11)%256, 255-v), plus a tRNS alpha chunk (validated on
      parse; alpha drops from stats like RGBA's). Palette resolution is
      exact integer lookup, so the oracle mirrors the entry arithmetic
      per hex pair.
    - ODD docs: 16-BIT truecolor — 60 chain bytes are the HIGH bytes of
      big-endian 16-bit samples; the low byte (v*7+13)%256 differs from
      the high byte everywhere, so a decoder reading the wrong byte of
      the pair (or averaging) breaks the hash. The spec's sample-depth
      rescale keeps the high byte, so stats equal the plain-PNG sums.

    Both profiles ride the SAME real chunk walk / inflate / unfilter
    path (all five PNG filters per payload) through _parse_png."""
    from ..operators.multimodal import _encode_png, decode_image_stats

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    m1 = F.md5("text")
    m2 = F.md5(m1)
    m3 = F.md5(m2)
    m4 = F.md5(m3)
    staged = docs.select(
        F.col("doc_id").alias("media_id"),
        F.unhex(F.substring(F.concat(m1, m2, m3, m4), 1, 120)).alias("b"),
    )
    palette = [(v, (v * 5 + 11) % 256, 255 - v) for v in range(256)]

    def _stage(it):
        for pdf in it:
            payloads = []
            for mid, raw in zip(pdf["media_id"], pdf["b"]):
                raw = bytes(raw)
                if mid % 2 == 0:
                    payloads.append(_encode_png(
                        raw[:20], 4, 5, color=3, palette=palette,
                        trns=bytes([7, 129, 255]),
                    ))
                else:
                    raw16 = bytes(
                        x for v in raw for x in (v, (v * 7 + 13) % 256)
                    )
                    payloads.append(
                        _encode_png(raw16, 4, 5, color=2, depth=16)
                    )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    pngs = staged.mapInPandas(_stage, schema="media_id long, payload binary")
    return decode_image_stats(pngs)


def q_webdataset_write_pipeline(spark, sf_dir):
    """Round 15: the WRITE side of the WebDataset story — what a 100 TB
    shard WRITER does: assign samples to size-budgeted shards, pack each
    shard as a REAL ustar archive, and (here) round-trip the bytes back
    through the exploder so the oracle can check the whole composition:

      samples -> pack_sequences(budget=2048 BYTES)   (shard assignment:
                   the same cumsum-DIV formula as token packing — one
                   window over the id order, no sequential writer state)
              -> encode_tar_shards                    (one groupBy: the
                   only row-bearing shuffle; real tar bytes per shard)
              -> explode_tar_members                  (scan-local parse
                   back — tar framing is lossless, so member arithmetic
                   survives the byte round trip)

    Per doc: `<id>.txt` (variable 40 + id%50 hex chars) and `<id>.json`
    (fixed 16 chars), so shard cuts land mid-stream and the byte cumsum
    is non-trivial. Output: (shard_id, member_name, n_bytes,
    content_md5) — shard assignment, member framing, and content all
    oracle-checked. At scale the writer stops at the tar bytes (the
    explode here is the verification leg); shards are bounded by the
    byte budget, so the pack groupBy's groups are bounded by
    construction — the write-side mirror of the read's bomb guard."""
    from ..operators.training import pack_sequences
    from ..sources.tar_blobs import encode_tar_shards, explode_tar_members

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    m1 = F.md5(F.concat(F.lit("wdw"), F.col("doc_id").cast("string")))
    m2 = F.md5(m1)
    m3 = F.md5(m2)
    staged = docs.select(
        F.col("doc_id"), F.concat(m1, m2, m3).alias("chain")
    ).select(
        "doc_id",
        F.expr("substring(chain, 1, 40 + CAST(doc_id % 50 AS INT))")
            .alias("txt"),
        F.substring(F.col("chain"), 81, 16).alias("js"),
    )
    sized = staged.select(
        "doc_id", "txt", "js",
        (F.length("txt") + F.length("js")).alias("n_bytes"),
    )
    packed = pack_sequences(
        sized.select("doc_id", "n_bytes"),
        budget=2048, tokens_col="n_bytes", id_col="doc_id",
    ).select("doc_id", F.col("bin_id").alias("shard_id"))
    members = (
        sized.join(packed, "doc_id")
        .select(
            "shard_id",
            F.explode(
                F.array(
                    F.struct(
                        F.format_string("%06d.txt", F.col("doc_id"))
                            .alias("member_name"),
                        F.col("txt").cast("binary").alias("content"),
                    ),
                    F.struct(
                        F.format_string("%06d.json", F.col("doc_id"))
                            .alias("member_name"),
                        F.col("js").cast("binary").alias("content"),
                    ),
                )
            ).alias("m"),
        )
        .select("shard_id", "m.*")
    )
    shards = encode_tar_shards(members, id_col="shard_id")
    return explode_tar_members(shards, id_col="shard_id").select(
        "shard_id", "member_name", "n_bytes",
        F.md5("content").alias("content_md5"),
    )
