"""Extension query catalog: training-data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing, windowed streaming
aggregates) registered into the same oracle-checked registry as the parity
catalog. These are the BASELINE.json north-star operators — designed for
100 TB corpora, validated on the synthetic documents/embeddings tables.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bag_parser_spark.operators import aggregates as agg
from bag_parser_spark.operators import dedup, multimodal, similarity, text
from bag_parser_spark.plans import oracles as O
from bag_parser_spark.plans.catalog import register
from bag_parser_spark.sources.parquet import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Deduplication family
# ---------------------------------------------------------------------------

@register(
    "dedup_exact_docs",
    """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS dup_count
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact dedup via content-hash groupBy: one shuffle on md5(text), "
    "map-side combine keeps shuffle volume at #distinct. Representative "
    "row = min id (deterministic).",
)
def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("dup_count")
    )


# Perturbed-copy corpus: each doc plus a near-duplicate (one appended token).
# Built inside the query so near-dup detection is non-trivially exercised on
# synthetic data that has no natural duplicates.
_CORPUS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             text || ' zz' || CAST(doc_id % 7 AS VARCHAR) AS text
      FROM documents
"""


def _corpus(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" zz"), (F.col("doc_id") % 7).cast("string")
        ).alias("text"),
    )
    return d.unionAll(perturbed)


_MH_HASHES, _MH_BANDS, _MH_N = 12, 4, 3
_mh_sig = O.minhash_sig_sql(O.shingles_sql("text", _MH_N), _MH_HASHES)
_mh_bands = " UNION ALL ".join(
    f"SELECT id, {b} AS band, {expr} AS bucket FROM sig"
    for b, expr in O.band_selects_sql(_MH_HASHES, _MH_BANDS)
)


@register(
    "dedup_minhash_lsh",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sig AS (SELECT doc_id AS id, {_mh_sig} AS sig FROM corpus),
    bands AS ({_mh_bands})
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    """,
    doc="MinHash+LSH near-dup candidates: shingle → md5-min signature → "
    "band buckets → equi-join. Shuffles only (band, bucket-hash) keys, "
    "never text — the 100 TB-safe shape. Corpus = docs ∪ perturbed copies.",
)
def q_minhash(spark, sf_dir):
    return dedup.minhash_lsh_pairs(
        _corpus(spark, sf_dir),
        id_col="doc_id",
        text_col="text",
        shingle_n=_MH_N,
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
    )


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE corpus AS ({_CORPUS_SQL}),
    sig AS (SELECT doc_id AS id, {_mh_sig} AS sig FROM corpus),
    bands AS ({_mh_bands}),
    p AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION
      SELECT id_b AS src, id_a AS dst FROM p
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.lbl
    ),
    comp AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id
             FROM reach GROUP BY id)
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
    """,
    doc="Duplicate clusters from near-dup pairs: connected components via "
    "iterative hash-min label propagation (O(diameter) rounds, each one "
    "(node,label) shuffle — ids only, never text; localCheckpoint truncates "
    "the per-round lineage). cluster_id = min doc id of the component = the "
    "canonical representative. Oracle computes the same components with a "
    "recursive transitive-closure CTE.",
)
def q_dedup_clusters(spark, sf_dir):
    pairs = dedup.minhash_lsh_pairs(
        _corpus(spark, sf_dir),
        id_col="doc_id",
        text_col="text",
        shingle_n=_MH_N,
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
    )
    return dedup.dup_clusters(pairs, out_id="doc_id")


_VERIFY_TAU = 0.5


@register(
    "dedup_verified_pairs",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sig AS (SELECT doc_id AS id, {_mh_sig} AS sig FROM corpus),
    bands AS ({_mh_bands}),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    sh AS (
      SELECT doc_id AS id, unnest({O.shingles_sql('text', _MH_N)}) AS shingle
      FROM corpus
      WHERE doc_id IN (SELECT id_a FROM cand UNION SELECT id_b FROM cand)
    ),
    shd AS (SELECT DISTINCT id, shingle FROM sh),
    sizes AS (SELECT id, COUNT(*) AS sz FROM shd GROUP BY id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS i
      FROM cand c
      JOIN shd a ON a.id = c.id_a
      JOIN shd b ON b.id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           round(i.i / (sa.sz + sb.sz - i.i), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE i.i / (sa.sz + sb.sz - i.i) >= {_VERIFY_TAU}
    """,
    doc="Verified near-dup pairs: the LSH candidate set refined by exact "
    f"n-gram Jaccard >= {_VERIFY_TAU} — the pair set `prepare` is allowed "
    "to cluster and delete from (ADVICE r4: raw banded collisions admit "
    "moderately-similar non-duplicates; transitive closure would chain "
    "them). Shingling for verification is SEMI-JOIN-restricted to docs "
    "appearing in a candidate pair, the distinct shingle rows persist "
    "once and feed sizes + both intersection probes, and every join key "
    "is (id) or (id, shingle) — candidate-bounded, never all-pairs.",
)
def q_dedup_verified_pairs(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    # ONE tokenize+shingle pass feeds both candidate generation and the
    # exact-Jaccard verification (the shingle map is the dominant scan
    # cost at corpus scale — doing it twice doubles the heaviest stage)
    sh = dedup.word_shingle_rows(corpus, "doc_id", "text", _MH_N).persist()
    cand = dedup.minhash_lsh_pairs(
        corpus,
        id_col="doc_id",
        text_col="text",
        shingle_n=_MH_N,
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        shingle_rows=sh,
    )
    return dedup.verify_pairs_jaccard(
        corpus,
        cand,
        id_col="doc_id",
        text_col="text",
        shingle_n=_MH_N,
        threshold=_VERIFY_TAU,
        shingle_rows=sh,
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


_inc_bands_base = _mh_bands.replace("FROM sig", "FROM sigb")
_inc_bands_new = _mh_bands.replace("FROM sig", "FROM sign")


@register(
    "dedup_incremental",
    f"""
    WITH base AS (SELECT doc_id, text FROM documents),
    newb AS (
      SELECT doc_id + 1000000 AS doc_id,
             text || ' zz' || CAST(doc_id % 7 AS VARCHAR) AS text
      FROM documents
    ),
    sigb AS (SELECT doc_id AS id, {_mh_sig} AS sig FROM base),
    sign AS (SELECT doc_id AS id, {_mh_sig} AS sig FROM newb),
    bb AS ({_inc_bands_base}),
    bn AS ({_inc_bands_new}),
    nn AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bn a JOIN bn b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    nb AS (
      SELECT DISTINCT least(a.id, b.id) AS id_a,
                      greatest(a.id, b.id) AS id_b
      FROM bn a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket
    )
    SELECT DISTINCT id_a, id_b FROM (
      SELECT * FROM nn UNION ALL SELECT * FROM nb
    )
    """,
    doc="Incremental corpus dedup: LSH candidates between a NEW batch "
    "(the perturbed copies) and the EXISTING corpus's precomputed "
    "signature table — (new x base) and (new x new), never (base x "
    "base). The production shape at 100 TB: a daily increment never "
    "re-shingles the corpus (only its stored signatures are read), and "
    "with the corpus banded table bucketed by (band, bucket) the join "
    "is exchange-free on the big side, shuffling only the increment. "
    "Exactly equals full-corpus LSH minus base-only pairs (per-doc "
    "banding; identity unit-tested).",
)
def q_dedup_incremental(spark, sf_dir):
    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = base.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" zz"), (F.col("doc_id") % 7).cast("string")
        ).alias("text"),
    )
    base_sigs = dedup.minhash_signatures(
        base, "doc_id", "text", _MH_N, _MH_HASHES
    )
    return dedup.minhash_lsh_pairs_incremental(
        new,
        base_sigs,
        id_col="doc_id",
        text_col="text",
        shingle_n=_MH_N,
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
    )


_NGRAM_MAX_DF = 100


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH sh0 AS (
      SELECT doc_id AS id, unnest({O.shingles_sql('text', 3)}) AS shingle
      FROM documents
    ),
    hot AS (
      SELECT shingle FROM sh0 GROUP BY shingle
      HAVING COUNT(*) > {_NGRAM_MAX_DF}
    ),
    sh AS (
      SELECT * FROM sh0
      WHERE shingle NOT IN (SELECT shingle FROM hot)
    ),
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS intersection
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT i.id_a, i.id_b, i.intersection,
           sa.sz AS size_a, sb.sz AS size_b,
           i.intersection / (sa.sz + sb.sz - i.intersection) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE i.intersection / (sa.sz + sb.sz - i.intersection) >= 0.01
    """,
    doc="n-gram Jaccard near-dup pairs via shingle inverted index — only "
    "docs sharing a shingle ever meet (never O(n²)). Hot shingles (df > "
    f"max_df={_NGRAM_MAX_DF}) are pruned from the shingle universe before "
    "sizes/postings: a stop-gram shared by k docs is a k²/2 pair bucket "
    "with zero Jaccard discrimination — the cap bounds every posting list "
    "at max_df. Jaccard is exact over the pruned universe; oracle mirrors "
    "the rule.",
)
def q_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        shingle_n=3,
        threshold=0.01,
        max_df=_NGRAM_MAX_DF,
    )


_CONTAIN_TAU = 0.9


@register(
    "dedup_containment",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sh0 AS (
      SELECT doc_id AS id, unnest({O.shingles_sql('text', 3)}) AS shingle
      FROM corpus
    ),
    hot AS (
      SELECT shingle FROM sh0 GROUP BY shingle
      HAVING COUNT(*) > {_NGRAM_MAX_DF}
    ),
    sh AS (
      SELECT * FROM sh0
      WHERE shingle NOT IN (SELECT shingle FROM hot)
    ),
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS intersection
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT i.id_a, i.id_b, i.intersection,
           sa.sz AS size_a, sb.sz AS size_b,
           round(CAST(i.intersection AS DOUBLE)
                 / least(sa.sz, sb.sz), 6) AS containment
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE CAST(i.intersection AS DOUBLE) / least(sa.sz, sb.sz)
            >= {_CONTAIN_TAU}
    """,
    doc="Asymmetric near-dup CONTAINMENT pairs: |A∩B| / min(|A|, |B|) — "
    "catches a short document subsumed by a long one, which symmetric "
    "Jaccard misses (a 5-shingle doc inside a 500-shingle doc scores "
    "jaccard 0.01 but containment 1.0). Same inverted-index posting-"
    "list shape as dedup_ngram_jaccard (only docs sharing a shingle "
    "meet; hot-shingle cap bounds posting lists), different threshold "
    "geometry. On the perturbed corpus the appended-token copies score "
    "containment ~1.0.",
)
def q_containment(spark, sf_dir):
    pairs = dedup.ngram_jaccard_pairs(
        _corpus(spark, sf_dir),
        id_col="doc_id",
        text_col="text",
        shingle_n=3,
        threshold=0.0,
        max_df=_NGRAM_MAX_DF,
    )
    cont = F.col("intersection").cast("double") / F.least(
        "size_a", "size_b"
    )
    return (
        pairs.filter(cont >= _CONTAIN_TAU)
        .select(
            "id_a",
            "id_b",
            "intersection",
            "size_a",
            "size_b",
            F.round(cont, 6).alias("containment"),
        )
    )


_RECALL_TAU = 0.5


@register(
    "dedup_lsh_recall",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sig AS (SELECT doc_id AS id, {_mh_sig} AS sig FROM corpus),
    bands AS ({_mh_bands}),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    sh0 AS (
      SELECT doc_id AS id, unnest({O.shingles_sql('text', _MH_N)}) AS shingle
      FROM corpus
    ),
    hot AS (
      SELECT shingle FROM sh0 GROUP BY shingle
      HAVING COUNT(*) > {_NGRAM_MAX_DF}
    ),
    sh AS (
      SELECT * FROM sh0
      WHERE shingle NOT IN (SELECT shingle FROM hot)
    ),
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    truth AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON sa.id = i.id_a
      JOIN sizes sb ON sb.id = i.id_b
      WHERE i.i / (sa.sz + sb.sz - i.i) >= {_RECALL_TAU}
    ),
    t AS (SELECT COUNT(*) AS n_truth FROM truth),
    c AS (SELECT COUNT(*) AS n_candidates FROM cand),
    h AS (SELECT COUNT(*) AS n_hits
          FROM truth JOIN cand USING (id_a, id_b))
    SELECT n_truth, n_candidates, n_hits,
           round(CAST(n_hits AS DOUBLE) / n_candidates, 6) AS precision,
           round(CAST(n_hits AS DOUBLE) / n_truth, 6) AS recall
    FROM t, c, h
    """,
    doc="Measured (not guessed) MinHash-LSH quality: candidate pairs from "
    "the banded signature join scored against exact n-gram-Jaccard ground "
    f"truth (tau={_RECALL_TAU}) on the perturbed corpus — emits n_truth / "
    "n_candidates / n_hits / precision / recall as one row. Both pair "
    "pipelines are the already-bucketed shapes (banded equi-join; "
    "inverted-index posting join with the hot-shingle cap), persisted "
    "once each because the three count aggregates would otherwise "
    "re-execute their subtrees; the final combine is three 1-row "
    "broadcasts. This is the tuning loop for (num_hashes, bands) at "
    "100 TB: rerun on a sampled corpus, read recall, adjust bands.",
)
def q_lsh_recall(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    # one shingle pass for both the exact-Jaccard truth and the banded
    # candidates (same sharing as dedup_verified_pairs)
    sh = dedup.word_shingle_rows(corpus, "doc_id", "text", _MH_N).persist()
    truth = (
        dedup.ngram_jaccard_pairs(
            corpus,
            id_col="doc_id",
            text_col="text",
            shingle_n=_MH_N,
            threshold=_RECALL_TAU,
            max_df=_NGRAM_MAX_DF,
            shingle_rows=sh,
        )
        .select("id_a", "id_b")
        .persist()
    )
    cand = dedup.minhash_lsh_pairs(
        corpus,
        id_col="doc_id",
        text_col="text",
        shingle_n=_MH_N,
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        shingle_rows=sh,
    ).persist()
    t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    c = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    h = truth.join(cand, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        t.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(h))
        .select(
            "n_truth",
            "n_candidates",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_candidates"), 6
            ).alias("precision"),
            F.round(
                F.col("n_hits").cast("double") / F.col("n_truth"), 6
            ).alias("recall"),
        )
    )


_SH_BITS, _SH_HAMMING = 16, 3
_sh_bits = O.simhash_bits_sql("text", _SH_BITS)
_sh_prefix = " || ".join(f"CAST(bits[{i + 1}] AS VARCHAR)" for i in range(_SH_BITS // 2))
_sh_hamming = (
    "list_sum(list_transform(range(0, "
    + str(_SH_BITS)
    + "), i -> CASE WHEN a.bits[i+1] <> b.bits[i+1] THEN 1 ELSE 0 END))"
)


@register(
    "dedup_simhash",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sig AS (SELECT doc_id AS id, {_sh_bits} AS bits FROM corpus),
    pref AS (SELECT id, bits, {_sh_prefix} AS prefix FROM sig)
    SELECT a.id AS id_a, b.id AS id_b,
           CAST({_sh_hamming} AS BIGINT) AS hamming
    FROM pref a JOIN pref b
      ON a.prefix = b.prefix AND a.id < b.id
    WHERE {_sh_hamming} <= {_SH_HAMMING}
    """,
    doc="SimHash near-dup pairs: ±1 bit votes from per-token md5, prefix "
    "blocking (1-band LSH on the sign vector) for candidate generation, "
    "exact hamming refine.",
)
def q_simhash(spark, sf_dir):
    return dedup.simhash_pairs(
        _corpus(spark, sf_dir),
        id_col="doc_id",
        text_col="text",
        num_bits=_SH_BITS,
        max_hamming=_SH_HAMMING,
    ).withColumn("hamming", F.col("hamming").cast("long"))


# ---------------------------------------------------------------------------
# Text analysis family
# ---------------------------------------------------------------------------

@register(
    "text_quality_metrics",
    f"""
    SELECT doc_id,
           len({O.words_sql('text')}) AS n_tokens_ws,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
             AS n_tokens_bpe,
           round({O.stopword_ratio_sql('text')}, 6) AS stopword_ratio,
           round({O.punct_ratio_sql('text')}, 6) AS punct_ratio,
           round({O.mean_word_length_sql('text')}, 6) AS mean_word_len,
           {O.quality_score_sql('text')} AS quality,
           CASE WHEN {O.stopword_ratio_sql('text')} >= 0.08
                THEN 'en' ELSE 'und' END AS lang_pred,
           {O.fingerprint_sql('text', 5)} AS fingerprint
    FROM documents
    """,
    doc="Text analysis pack: whitespace + BPE-ish token counts, stopword/"
    "punct ratios, composite quality score, stopword-overlap language ID, "
    "winnowing-style rolling-hash fingerprint. Map-only projection — "
    "pipelines with the scan at any scale.",
)
def q_text_quality(spark, sf_dir):
    return text.quality_metrics(
        _t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text"
    )


# Fixed retrieval query for the BM25 battery — terms drawn from the
# synthetic corpus vocabulary so every term matches a nontrivial doc set.
_BM25_TERMS = ["spark", "query", "join", "window", "stream", "sort"]
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 20


@register(
    "text_bm25_topk",
    f"""
    WITH b2 AS (
      SELECT doc_id, {O.words_sql('lower(text)')} AS t FROM documents
    ),
    b3 AS (SELECT doc_id, len(t) AS dl, t FROM b2),
    stats AS (
      SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM b3
    ),
    term AS (
      SELECT doc_id, dl, token, COUNT(*) AS tf
      FROM (SELECT doc_id, dl, unnest(t) AS token FROM b3)
      WHERE token IN ({', '.join("'" + w + "'" for w in _BM25_TERMS)})
      GROUP BY 1, 2, 3
    ),
    dfreq AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df_t FROM term GROUP BY 1
    ),
    scored AS (
      SELECT t.doc_id, t.token, t.dl,
             ln((s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5) + 1.0)
             * (CAST(t.tf AS DOUBLE) * {_BM25_K1 + 1.0})
             / (CAST(t.tf AS DOUBLE)
                + {_BM25_K1} * ({1.0 - _BM25_B}
                               + {_BM25_B} * CAST(t.dl AS DOUBLE) / s.avgdl))
               AS term_score
      FROM term t JOIN dfreq d USING (token) CROSS JOIN stats s
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_terms_matched, MAX(dl) AS dl,
             round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                            list(term_score ORDER BY token)),
               (a, b) -> a + b), 6) AS bm25
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_terms_matched, dl, bm25, rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
      FROM per_doc
    ) WHERE rank <= {_BM25_TOPK}
    """,
    doc="Okapi BM25 top-k retrieval against a fixed query-term bag: the "
    "token stream filters to the broadcast query terms right after the "
    "explode (per-doc agg state bounded by |query|), document length is a "
    "map-side projection, corpus stats are a 1-row broadcast, per-term df "
    "a |query|-bounded broadcast, and the per-doc sum folds in sorted-"
    "token order for cross-engine bit-parity (round 6 absorbs libm ln "
    "ulps). Global top-k = row_number over rounded score.",
)
def q_bm25(spark, sf_dir):
    return text.bm25_topk(
        _t(spark, sf_dir, "documents"),
        _BM25_TERMS,
        id_col="doc_id",
        text_col="text",
        k1=_BM25_K1,
        b=_BM25_B,
        top_k=_BM25_TOPK,
    )


_CLF_BUCKETS, _CLF_SEED, _CLF_WMOD = 64, "clf", 1000


@register(
    "text_hash_classifier",
    f"""
    WITH flat AS (
      SELECT doc_id, unnest({O.words_sql('lower(text)')}) AS token
      FROM documents
    ),
    weighted AS (
      SELECT doc_id,
             {O.md5_mod_sql(O.md5_mod_sql('token', _CLF_SEED + ':b', _CLF_BUCKETS), _CLF_SEED + ':w', _CLF_WMOD)}
               - {_CLF_WMOD // 2} AS w
      FROM flat
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(w) AS BIGINT) AS score_milli
      FROM weighted GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, score_milli,
           round(1.0 / (1.0 + exp(-(CAST(score_milli AS DOUBLE)
                 / ({_CLF_WMOD // 2}.0 * CAST(n_tokens AS DOUBLE))))), 6)
             AS prob,
           round(1.0 / (1.0 + exp(-(CAST(score_milli AS DOUBLE)
                 / ({_CLF_WMOD // 2}.0 * CAST(n_tokens AS DOUBLE))))), 6)
             >= 0.5 AS keep
    FROM per_doc
    """,
    doc="Hashed bag-of-words linear classifier (fastText-style quality "
    "filter): tokens hash to 64 feature buckets whose milli-weights derive "
    "deterministically from the bucket id; the per-doc score is pure "
    "integer arithmetic (exact, addition-order-free), with one final "
    "sigmoid rounded to 6. Map + one groupBy(id) shuffle with map-side "
    "combine; the model is an expression — no UDF, no join.",
)
def q_hash_classifier(spark, sf_dir):
    return text.hash_classifier_scores(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        n_buckets=_CLF_BUCKETS,
        seed=_CLF_SEED,
        w_mod=_CLF_WMOD,
    )


@register(
    "ml_auc_ranked",
    f"""
    WITH flat AS (
      SELECT doc_id, unnest({O.words_sql('lower(text)')}) AS token
      FROM documents
    ),
    weighted AS (
      SELECT doc_id,
             {O.md5_mod_sql(O.md5_mod_sql('token', _CLF_SEED + ':b', _CLF_BUCKETS), _CLF_SEED + ':w', _CLF_WMOD)}
               - {_CLF_WMOD // 2} AS w
      FROM flat
    ),
    per_doc AS (
      SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score_milli
      FROM weighted GROUP BY doc_id
    ),
    labeled AS (
      SELECT p.score_milli,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM per_doc p JOIN documents d USING (doc_id)
    ),
    by_score AS (
      SELECT score_milli, CAST(COUNT(*) AS BIGINT) AS t,
             CAST(SUM(pos) AS BIGINT) AS p
      FROM labeled GROUP BY score_milli
    ),
    cum AS (
      SELECT t, p,
             CAST(COALESCE(SUM(t) OVER (
               ORDER BY score_milli
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS c
      FROM by_score
    )
    SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
           CAST(SUM(t) - SUM(p) AS BIGINT) AS n_neg,
           round(CAST(SUM(p * (2 * c + t + 1))
                      - SUM(p) * (SUM(p) + 1) AS DOUBLE)
                 / CAST(2 * SUM(p) * (SUM(t) - SUM(p)) AS DOUBLE), 6)
             AS auc
    FROM cum
    """,
    doc="Classifier evaluation: exact ROC-AUC of the hashed-linear score "
    "against the lang='en' label via the Mann-Whitney rank statistic "
    "with tie correction — computed ENTIRELY in integer arithmetic "
    "(doubled tie-averaged rank sums stay integral; one double division "
    "at the end), so the value is order-independent and engine-exact "
    "where a float rank accumulation would flake the hash gate. Scale "
    "shape: docs aggregate to the DISTINCT-SCORE table first (one "
    "shuffle, map-side combine), and the only ordered pass is the "
    "cumulative count over that tiny table — never a global sort of "
    "the corpus.",
)
def q_ml_auc(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    scores = text.hash_classifier_scores(
        d, id_col="doc_id", text_col="text",
        n_buckets=_CLF_BUCKETS, seed=_CLF_SEED, w_mod=_CLF_WMOD,
    ).select("doc_id", "score_milli")
    labeled = scores.join(
        d.select(
            "doc_id",
            (F.col("lang") == "en").cast("long").alias("pos"),
        ),
        "doc_id",
    )
    by_score = labeled.groupBy("score_milli").agg(
        F.count(F.lit(1)).alias("t"), F.sum("pos").alias("p")
    )
    w = (
        Window.orderBy("score_milli")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = by_score.withColumn(
        "c", F.coalesce(F.sum("t").over(w), F.lit(0)).cast("long")
    )
    s = cum.agg(
        F.sum("p").alias("np"),
        F.sum("t").alias("nt"),
        F.sum(
            F.col("p") * (2 * F.col("c") + F.col("t") + 1)
        ).alias("rank2"),
    )
    return s.select(
        F.col("np").alias("n_pos"),
        (F.col("nt") - F.col("np")).alias("n_neg"),
        F.round(
            (F.col("rank2") - F.col("np") * (F.col("np") + 1)).cast("double")
            / (2 * F.col("np") * (F.col("nt") - F.col("np"))).cast("double"),
            6,
        ).alias("auc"),
    )


@register(
    "ml_eval_confusion",
    f"""
    WITH flat AS (
      SELECT doc_id, unnest({O.words_sql('lower(text)')}) AS token
      FROM documents
    ),
    weighted AS (
      SELECT doc_id,
             {O.md5_mod_sql(O.md5_mod_sql('token', _CLF_SEED + ':b', _CLF_BUCKETS), _CLF_SEED + ':w', _CLF_WMOD)}
               - {_CLF_WMOD // 2} AS w
      FROM flat
    ),
    per_doc AS (
      SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score_milli
      FROM weighted GROUP BY doc_id
    ),
    labeled AS (
      SELECT CASE WHEN p.score_milli > 0 THEN 1 ELSE 0 END AS pred,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM per_doc p JOIN documents d USING (doc_id)
    ),
    cm AS (
      SELECT CAST(SUM(pred * pos) AS BIGINT) AS tp,
             CAST(SUM(pred * (1 - pos)) AS BIGINT) AS fp,
             CAST(SUM((1 - pred) * pos) AS BIGINT) AS fn,
             CAST(SUM((1 - pred) * (1 - pos)) AS BIGINT) AS tn
      FROM labeled
    )
    SELECT tp, fp, fn, tn,
           round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision_,
           round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall_,
           round(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn), 6) AS f1,
           round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6)
             AS accuracy
    FROM cm
    """,
    doc="Classifier evaluation at a fixed threshold (score_milli > 0): "
    "the confusion matrix and the derived precision/recall/F1/accuracy "
    "— the operating-point companion to ml_auc_ranked's "
    "threshold-free AUC, over the same hashed-linear scores and "
    "lang='en' labels. Counts are one full-corpus aggregate of 0/1 "
    "products (map-side combined, integer-exact, order-independent); "
    "each ratio is a single double division of integers, so parity "
    "needs no float rules beyond round-6. F1 uses the 2tp/(2tp+fp+fn) "
    "form — one division instead of the harmonic-mean chain, fewer "
    "rounding boundaries.",
)
def q_ml_eval_confusion(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    scores = text.hash_classifier_scores(
        d, id_col="doc_id", text_col="text",
        n_buckets=_CLF_BUCKETS, seed=_CLF_SEED, w_mod=_CLF_WMOD,
    ).select("doc_id", "score_milli")
    labeled = scores.join(
        d.select(
            "doc_id",
            (F.col("lang") == "en").cast("long").alias("pos"),
        ),
        "doc_id",
    ).select(
        (F.col("score_milli") > 0).cast("long").alias("pred"), "pos"
    )
    cm = labeled.agg(
        F.sum(F.col("pred") * F.col("pos")).alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("pos"))).alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("pos")).alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("pos"))).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return cm.select(
        "tp", "fp", "fn", "tn",
        F.round(tp.cast("double") / (tp + fp), 6).alias("precision_"),
        F.round(tp.cast("double") / (tp + fn), 6).alias("recall_"),
        F.round(
            (2 * tp).cast("double") / (2 * tp + fp + fn), 6
        ).alias("f1"),
        F.round(
            (tp + tn).cast("double") / (tp + fp + fn + tn), 6
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# Dataset splitting / sequence packing
# ---------------------------------------------------------------------------

_SPLITS = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
_SPLIT_SEED = 42


def _split_case_sql(col: str = "doc_id") -> str:
    bucket = O.md5_mod_sql(col, _SPLIT_SEED)
    return (
        f"CASE WHEN {bucket} < 8000 THEN 'train' "
        f"WHEN {bucket} < 9000 THEN 'val' ELSE 'test' END"
    )


@register(
    "split_train_test",
    f"""
    SELECT doc_id, {_split_case_sql()} AS split
    FROM documents
    """,
    doc="Deterministic train/val/test split by content-hash bucket "
    "(md5(seed:id) mod 10000 against cumulative fraction thresholds). "
    "Map-only, no shuffle, no RNG: membership depends only on (seed, id), "
    "so held-out sets are stable across runs/partitionings/engines — "
    "unlike randomSplit, whose assignment shifts with partition layout.",
)
def q_split(spark, sf_dir):
    from bag_parser_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")
    return sampling.hash_split(
        d, id_col="doc_id", splits=_SPLITS, seed=_SPLIT_SEED
    ).select("doc_id", "split")


@register(
    "pack_sequences",
    f"""
    WITH base AS (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len({O.words_sql('text')}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS token_offset
      FROM base
    )
    SELECT doc_id, shard, n_tokens, token_offset,
           CAST(FLOOR(token_offset / 512.0) AS BIGINT) AS first_chunk,
           CAST(FLOOR((token_offset + n_tokens - 1) / 512.0) AS BIGINT)
             AS last_chunk
    FROM packed
    """,
    doc="Concatenate-then-chunk sequence packing (pretraining batch "
    "layout): per-shard token stream via window cumsum, docs straddle "
    "fixed ctx_len chunk boundaries. One window per shard — shard count "
    "O(cores) keeps every stream in a task at 100 TB; deterministic "
    "function of (shard, order), so repacking is byte-identical.",
)
def q_pack(spark, sf_dir):
    from bag_parser_spark.operators import sampling
    from bag_parser_spark.operators.text import token_count_ws

    d = _t(spark, sf_dir, "documents")
    return sampling.pack_sequences(
        d,
        id_col="doc_id",
        token_count=token_count_ws(F.col("text")),
        ctx_len=512,
        shard_col=(F.col("doc_id") % 8),
        order_by=["doc_id"],
    )


@register(
    "curate_corpus",
    f"""
    WITH scored AS (
      SELECT doc_id, text, source,
             {O.quality_score_sql('text')} AS quality,
             CASE WHEN {O.stopword_ratio_sql('text')} >= 0.08
                  THEN 'en' ELSE 'und' END AS lang_pred
      FROM documents
    ),
    kept AS (
      SELECT * FROM scored WHERE quality >= 0.7 AND lang_pred = 'en'
    ),
    deduped AS (
      SELECT doc_id, source, quality FROM (
        SELECT doc_id, source, quality,
               ROW_NUMBER() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id ASC) AS rn
        FROM kept
      ) WHERE rn = 1
    )
    SELECT doc_id, source, quality, {_split_case_sql()} AS split
    FROM deduped
    """,
    doc="End-to-end corpus curation as ONE lineage: quality+language gate "
    "(map-only, prunes before anything shuffles) -> exact content dedup "
    "(hash groupBy, min-id representative) -> deterministic split "
    "assignment (map-only). The composition a 100 TB curation job runs "
    "nightly; operator order matters — the cheap filters run at the scan, "
    "the shuffle sees only surviving docs.",
)
def q_curate(spark, sf_dir):
    from bag_parser_spark.operators import dedup, sampling
    from bag_parser_spark.operators.text import language_id, quality_score

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "text", "source",
        quality_score(F.col("text")).alias("quality"),
        language_id(F.col("text")).alias("lang_pred"),
    )
    kept = scored.filter(
        (F.col("quality") >= 0.7) & (F.col("lang_pred") == "en")
    ).withColumn("__content__", F.md5("text"))
    unique = dedup.dedup_exact(kept, on=["__content__"], id_col="doc_id")
    return sampling.hash_split(
        unique, id_col="doc_id", splits=_SPLITS, seed=_SPLIT_SEED
    ).select("doc_id", "source", "quality", "split")


@register(
    "sample_per_source",
    """
    SELECT doc_id, source, sample_rank FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5('0:' || CAST(doc_id AS VARCHAR)) ASC,
                        doc_id ASC) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= 5
    """,
    doc="Cap-k-per-key sampling (≤5 docs per source): rank by md5(seed:id) "
    "— a reproducible fair draw, where head(k) would keep arrival-order "
    "bias. One shuffle on the key; reruns and engines agree exactly.",
)
def q_sample_per_source(spark, sf_dir):
    from bag_parser_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")
    return sampling.sample_per_group(
        d, keys=["source"], id_col="doc_id", k=5, seed=0
    ).select("doc_id", "source", "sample_rank")


_MIX_PCT = {"src0": 100, "src1": 75, "src2": 50, "src3": 25, "src4": 10}
_MIX_SEED = 7
_mix_case = "CASE source " + " ".join(
    f"WHEN '{s}' THEN {p}" for s, p in _MIX_PCT.items()
) + " END"
_mix_in = ", ".join(f"'{s}'" for s in _MIX_PCT)


@register(
    "sample_mixture",
    f"""
    WITH elig AS (
      SELECT doc_id, source, {_mix_case} AS pct
      FROM documents WHERE source IN ({_mix_in})
    ),
    cnt AS (SELECT source, COUNT(*) AS n FROM elig GROUP BY source),
    ranked AS (
      SELECT e.doc_id, e.source, e.pct, c.n,
             ROW_NUMBER() OVER (
               PARTITION BY e.source
               ORDER BY md5('{_MIX_SEED}:' || CAST(e.doc_id AS VARCHAR)) ASC,
                        e.doc_id ASC) AS mixture_rank
      FROM elig e JOIN cnt c USING (source)
    )
    SELECT doc_id, source, mixture_rank FROM ranked
    WHERE mixture_rank <= (n * pct) // 100
    """,
    doc="Target-mixture subsampling (data mixing): keep an exact integer "
    "percentage of each source (100/75/50/25/10 here; unlisted sources "
    "dropped), chosen by md5-rank — a fair, layout-stable draw that hits "
    "the target count EXACTLY, where per-row Bernoulli (weighted_sample) "
    "only hits it in expectation. floor(n*pct/100) integer targets so no "
    "float boundary flips membership between engines. One shuffle on "
    "source (count agg + rank window share it); the #sources count "
    "table broadcasts back.",
)
def q_sample_mixture(spark, sf_dir):
    from bag_parser_spark.operators import sampling

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.mixture_sample(
        d, id_col="doc_id", source_col="source",
        percents=_MIX_PCT, seed=_MIX_SEED,
    ).select("doc_id", "source", "mixture_rank")


def _semdedup_oracle_sql(threshold: float) -> str:
    acos = O.cosine_sql("e.embedding", "c.cv")
    pcos = O.cosine_sql("a.embedding", "b.embedding")
    return f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cv
                   FROM embeddings WHERE vec_id % 50 = 0),
    assign AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {acos} DESC, c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cid AS cell,
           round({pcos}, 6) AS cosine_sim
    FROM assign a JOIN assign b
      ON a.cid = b.cid AND a.vec_id < b.vec_id
    WHERE round({pcos}, 6) >= {threshold}
    """


_SEMDEDUP_TAU = 0.35


@register(
    "dedup_semantic",
    _semdedup_oracle_sql(_SEMDEDUP_TAU),
    doc="SemDeDup-style semantic dedup: embeddings coarse-clustered to "
    "nearest-centroid cells (broadcast assignment, map-side argmax — one "
    "row per vector ever shuffles), near-dup pairs searched WITHIN cells "
    "only via a cell equi-join under id_a < id_b, exact Arrow left-fold "
    "cosine verifying against the rounded threshold. Pair cost is "
    "sum(cell²) not corpus² — pick |cells| ∝ n/target_cell_size and "
    "partition storage by cell so the join is partition-local at 100 TB. "
    "Complements dedup_embedding_cosine (hyperplane buckets): cells "
    "follow the DATA distribution, buckets the random planes.",
)
def q_dedup_semantic(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    return similarity.semantic_dedup_pairs(
        e, id_col="vec_id", vec_col="embedding",
        centroids=cents, threshold=_SEMDEDUP_TAU,
    )


_HARDNEG_K = 5


def _hard_negatives_oracle_sql(k: int) -> str:
    acos = O.cosine_sql("e.embedding", "c.cv")
    pcos = O.cosine_sql("a.embedding", "b.embedding")
    return f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cv
                   FROM embeddings WHERE vec_id % 50 = 0),
    assign AS (
      SELECT vec_id, label, embedding, cid FROM (
        SELECT e.vec_id, e.label, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {acos} DESC, c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neg_id, a.cid AS cell,
             round({pcos}, 6) AS cosine_sim
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND a.label <> b.label
    )
    SELECT query_id, neg_id, cell, cosine_sim, neg_rank FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cosine_sim DESC, neg_id ASC) AS neg_rank
      FROM pairs
    ) WHERE neg_rank <= {k}
    """


@register(
    "sim_hard_negatives",
    _hard_negatives_oracle_sql(_HARDNEG_K),
    doc="ANN-neighborhood hard-negative mining (ANCE/DPR contrastive-"
    "training step): per labeled query vector, the top-5 most-cosine-"
    "similar DIFFERENT-label vectors from the query's own coarse cell. "
    "Same broadcast-argmax assignment and guarded big-cell salting as "
    "dedup_semantic; top-k is two-stage (partial rank per candidate-salt "
    "bucket, then global rank over <= salt*k survivors) so no window "
    "task ever holds a giant cell's full candidate list. Deterministic "
    "ties on (rounded cosine DESC, neg_id ASC).",
)
def q_sim_hard_negatives(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    return similarity.hard_negatives_blocked(
        e, id_col="vec_id", vec_col="embedding", label_col="label",
        centroids=cents, k=_HARDNEG_K,
    )


_PQ_M, _PQ_DIM, _PQ_CENT_MOD = 4, 64, 25
_PQ_W = _PQ_DIM // _PQ_M
# Real PQ indexes FIX the per-subspace codebook size (FAISS default
# k=256); a donor rule of "every 25th vector" alone grows the codebook
# with the corpus and turns index build into O(n^2/25) — measured by the
# r6 scale probe as 8.15x time at 4x vectors. Bounding the donor id
# range restores the fixed-codebook contract (<= 256 codes/subspace).
# No-op at the test SFs (max vec_id 1999 < cap), bites only at probe
# scale and beyond.
_PQ_DONOR_CAP = _PQ_CENT_MOD * 256


def _pq_codebooks(e):
    """(subspace, code, cv): every _PQ_CENT_MOD-th vector's subvectors —
    the deterministic stand-in for k-means-trained codebooks."""
    return (
        e.filter(
            (F.col("vec_id") % _PQ_CENT_MOD == 0)
            & (F.col("vec_id") < _PQ_DONOR_CAP)
        )
        .select(
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"), F.lit(_PQ_M - 1).cast("long")
                )
            ).alias("subspace"),
            F.col("vec_id").alias("code"),
            F.col("embedding").alias("__e__"),
        )
        .select(
            "subspace",
            "code",
            F.slice(
                F.col("__e__"),
                (F.col("subspace") * _PQ_W + 1).cast("int"),
                _PQ_W,
            ).alias("cv"),
        )
    )


@register(
    "sim_pq_encode",
    f"""
    WITH cb AS (
      SELECT CAST(mm.m AS BIGINT) AS subspace, e.vec_id AS code,
             (CAST(e.embedding AS DOUBLE[]))
               [CAST(mm.m * {_PQ_W} + 1 AS INTEGER)
                : CAST(mm.m * {_PQ_W} + {_PQ_W} AS INTEGER)] AS cv
      FROM embeddings e, UNNEST(range(0, {_PQ_M})) AS mm(m)
      WHERE e.vec_id % {_PQ_CENT_MOD} = 0 AND e.vec_id < {_PQ_DONOR_CAP}
    ),
    sv AS (
      SELECT e.vec_id, CAST(mm.m AS BIGINT) AS subspace,
             (CAST(e.embedding AS DOUBLE[]))
               [CAST(mm.m * {_PQ_W} + 1 AS INTEGER)
                : CAST(mm.m * {_PQ_W} + {_PQ_W} AS INTEGER)] AS v
      FROM embeddings e, UNNEST(range(0, {_PQ_M})) AS mm(m)
    ),
    scored AS (
      SELECT sv.vec_id, sv.subspace, cb.code,
             list_transform(range(1, {_PQ_W + 1}),
                            i -> sv.v[i] - cb.cv[i]) AS d,
             list_dot_product(d, d) AS dist
      FROM sv JOIN cb USING (subspace)
    )
    SELECT vec_id, subspace, code, round(dist, 6) AS err
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id, subspace ORDER BY dist ASC, code ASC) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
    doc="Product-quantization encoding (Jegou et al. 2011) — the "
    "billion-vector ANN compression: 64-dim vectors split into 4 "
    "subspaces of 16 dims, each subvector replaced by its nearest "
    "(squared-L2, code-id tie-break) entry of a per-subspace codebook "
    "(every 25th vector's subvectors here — k-means-trained in a real "
    "index, any fixed codebook for the encoding itself). Map-only "
    "subvector explode, BROADCAST codebook join (PQ codebooks are tiny "
    "by design), min-of-struct argmin with map-side partials; left-fold "
    "double distances, engine-reproducible.",
)
def q_sim_pq_encode(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return similarity.pq_encode(
        e, id_col="vec_id", vec_col="embedding",
        codebooks=_pq_codebooks(e), m=_PQ_M, dim=_PQ_DIM,
    )


_PQ_CODES_CTES = f"""
    WITH cb AS (
      SELECT CAST(mm.m AS BIGINT) AS subspace, e.vec_id AS code,
             (CAST(e.embedding AS DOUBLE[]))
               [CAST(mm.m * {_PQ_W} + 1 AS INTEGER)
                : CAST(mm.m * {_PQ_W} + {_PQ_W} AS INTEGER)] AS cv
      FROM embeddings e, UNNEST(range(0, {_PQ_M})) AS mm(m)
      WHERE e.vec_id % {_PQ_CENT_MOD} = 0 AND e.vec_id < {_PQ_DONOR_CAP}
    ),
    sv AS (
      SELECT e.vec_id, CAST(mm.m AS BIGINT) AS subspace,
             (CAST(e.embedding AS DOUBLE[]))
               [CAST(mm.m * {_PQ_W} + 1 AS INTEGER)
                : CAST(mm.m * {_PQ_W} + {_PQ_W} AS INTEGER)] AS v
      FROM embeddings e, UNNEST(range(0, {_PQ_M})) AS mm(m)
    ),
    scored AS (
      SELECT sv.vec_id, sv.subspace, cb.code,
             list_transform(range(1, {_PQ_W + 1}),
                            i -> sv.v[i] - cb.cv[i]) AS d,
             list_dot_product(d, d) AS dist
      FROM sv JOIN cb USING (subspace)
    ),
    codes AS (
      SELECT vec_id, subspace, code, dist FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id, subspace
          ORDER BY dist ASC, code ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    )
"""


@register(
    "sim_pq_adc_topk",
    _PQ_CODES_CTES + f""",
    q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qfull
      FROM embeddings WHERE vec_id = 0
    ),
    lut AS (
      SELECT cb.subspace, cb.code,
             q.qfull[CAST(cb.subspace * {_PQ_W} + 1 AS INTEGER)
                     : CAST(cb.subspace * {_PQ_W} + {_PQ_W} AS INTEGER)]
               AS qsub,
             list_transform(range(1, {_PQ_W + 1}),
                            i -> qsub[i] - cb.cv[i]) AS d,
             list_dot_product(d, d) AS ld
      FROM cb, q
    ),
    per AS (
      SELECT c.vec_id,
             MIN(CASE WHEN c.subspace = 0 THEN l.ld END) AS l0,
             MIN(CASE WHEN c.subspace = 1 THEN l.ld END) AS l1,
             MIN(CASE WHEN c.subspace = 2 THEN l.ld END) AS l2,
             MIN(CASE WHEN c.subspace = 3 THEN l.ld END) AS l3
      FROM codes c JOIN lut l USING (subspace, code)
      GROUP BY c.vec_id
    )
    SELECT vec_id, round(((l0 + l1) + l2) + l3, 6) AS approx_l2sq
    FROM per
    ORDER BY ((l0 + l1) + l2) + l3 ASC, vec_id ASC
    LIMIT {10}
    """,
    doc="PQ asymmetric-distance top-k — how a PQ index is queried: the "
    "unquantized query's squared-L2 to every codebook entry is computed "
    "ONCE (an m*k lookup table, broadcast), each encoded vector's "
    "approximate distance is m lookups summed in FIXED subspace order "
    "(left-associated adds, never an order-nondeterministic SUM over "
    "doubles), top-k via per-task heaps. Raw vectors are never read at "
    "query time — the whole memory story of billion-vector ANN. "
    "Composes sim_pq_encode's codes; oracle recomputes encode + LUT + "
    "ADC end to end.",
)
def q_sim_pq_adc_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    cb = _pq_codebooks(e)
    codes = similarity.pq_encode(
        e, id_col="vec_id", vec_col="embedding",
        codebooks=cb, m=_PQ_M, dim=_PQ_DIM,
    )
    return similarity.pq_adc_topk(
        codes, cb, _query_vec(spark, sf_dir),
        id_col="vec_id", k=10, m=_PQ_M, dim=_PQ_DIM,
    )


@register(
    "sim_pq_recall",
    _PQ_CODES_CTES + f""",
    q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qfull
      FROM embeddings WHERE vec_id = 0
    ),
    lut AS (
      SELECT cb.subspace, cb.code,
             q.qfull[CAST(cb.subspace * {_PQ_W} + 1 AS INTEGER)
                     : CAST(cb.subspace * {_PQ_W} + {_PQ_W} AS INTEGER)]
               AS qsub,
             list_transform(range(1, {_PQ_W + 1}),
                            i -> qsub[i] - cb.cv[i]) AS d,
             list_dot_product(d, d) AS ld
      FROM cb, q
    ),
    per AS (
      SELECT c.vec_id,
             MIN(CASE WHEN c.subspace = 0 THEN l.ld END) AS l0,
             MIN(CASE WHEN c.subspace = 1 THEN l.ld END) AS l1,
             MIN(CASE WHEN c.subspace = 2 THEN l.ld END) AS l2,
             MIN(CASE WHEN c.subspace = 3 THEN l.ld END) AS l3
      FROM codes c JOIN lut l USING (subspace, code)
      GROUP BY c.vec_id
    ),
    adc AS (
      SELECT vec_id FROM per
      ORDER BY ((l0 + l1) + l2) + l3 ASC, vec_id ASC LIMIT 10
    ),
    exact AS (
      SELECT e.vec_id,
             list_transform(range(1, {_PQ_DIM + 1}),
                            i -> CAST(e.embedding[i] AS DOUBLE) - q.qfull[i])
               AS d,
             list_dot_product(d, d) AS dist
      FROM embeddings e, q
      ORDER BY dist ASC, e.vec_id ASC LIMIT 10
    )
    SELECT 10 AS k, COUNT(*) AS n_hits,
           round(CAST(COUNT(*) AS DOUBLE) / 10.0, 6) AS recall
    FROM adc JOIN exact USING (vec_id)
    """,
    doc="Measured PQ quality: recall@10 of the asymmetric-distance "
    "search against the exact squared-L2 top-10 for the same query — "
    "the compression/quality trade every PQ deployment tunes (raise "
    "m or k until recall holds). Exact side is one bounded heap over "
    "the corpus; the intersection is an id equi-join of two 10-row "
    "sets. Oracle recomputes encode, LUT, ADC, and the exact ranking "
    "end to end.",
)
def q_sim_pq_recall(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    cb = _pq_codebooks(e)
    codes = similarity.pq_encode(
        e, id_col="vec_id", vec_col="embedding",
        codebooks=cb, m=_PQ_M, dim=_PQ_DIM,
    )
    qv = _query_vec(spark, sf_dir)
    adc = similarity.pq_adc_topk(
        codes, cb, qv, id_col="vec_id", k=10, m=_PQ_M, dim=_PQ_DIM,
    ).select("vec_id")
    q = F.array(*[F.lit(float(x)) for x in qv])
    exact = (
        e.select(
            "vec_id",
            similarity._l2sq(
                F.transform(F.col("embedding"), lambda x: x.cast("double")),
                q,
            ).alias("__d__"),
        )
        .orderBy(F.col("__d__").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id")
    )
    return (
        adc.join(exact, "vec_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            F.lit(10).alias("k"),
            "n_hits",
            F.round(F.col("n_hits") / F.lit(10.0), 6).alias("recall"),
        )
    )


_PQ_BATCH_Q = 3


@register(
    "sim_pq_adc_batch",
    _PQ_CODES_CTES + f""",
    probes AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qfull
      FROM embeddings WHERE vec_id < {_PQ_BATCH_Q}
    ),
    lut AS (
      SELECT p.qid, cb.subspace, cb.code,
             p.qfull[CAST(cb.subspace * {_PQ_W} + 1 AS INTEGER)
                     : CAST(cb.subspace * {_PQ_W} + {_PQ_W} AS INTEGER)]
               AS qsub,
             list_transform(range(1, {_PQ_W + 1}),
                            i -> qsub[i] - cb.cv[i]) AS d,
             list_dot_product(d, d) AS ld
      FROM cb, probes p
    ),
    per AS (
      SELECT l.qid, c.vec_id,
             MIN(CASE WHEN c.subspace = 0 THEN l.ld END) AS l0,
             MIN(CASE WHEN c.subspace = 1 THEN l.ld END) AS l1,
             MIN(CASE WHEN c.subspace = 2 THEN l.ld END) AS l2,
             MIN(CASE WHEN c.subspace = 3 THEN l.ld END) AS l3
      FROM codes c JOIN lut l USING (subspace, code)
      GROUP BY l.qid, c.vec_id
    )
    SELECT qid, vec_id, round(((l0 + l1) + l2) + l3, 6) AS approx_l2sq
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY qid
        ORDER BY ((l0 + l1) + l2) + l3 ASC, vec_id ASC) AS rn
      FROM per
    ) WHERE rn <= 10
    """,
    doc="Batched PQ asymmetric-distance search — the ANN SERVING shape: "
    "every probe query gets its own m*k lookup table in one pass "
    "(queries x codebooks, broadcast), every encoded vector's distance "
    "to every probe is m lookups + a fixed-order sum, and a rank "
    "window PARTITIONED by query keeps k — never a global sort, never "
    "a raw-vector read. Batch size is the shuffle-volume knob "
    "(|Q|*|corpus| skinny rows), exactly how production ANN batches.",
)
def q_sim_pq_adc_batch(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    cb = _pq_codebooks(e)
    codes = similarity.pq_encode(
        e, id_col="vec_id", vec_col="embedding",
        codebooks=cb, m=_PQ_M, dim=_PQ_DIM,
    )
    probes = e.filter(F.col("vec_id") < _PQ_BATCH_Q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return similarity.pq_adc_topk_batch(
        codes, cb, probes, id_col="vec_id", qid_col="qid",
        qvec_col="qv", k=10, m=_PQ_M, dim=_PQ_DIM,
    )


_IVFPQ_CENT_MOD, _IVFPQ_NPROBE, _IVFPQ_QID = 50, 3, 7
# Coarse cells capped for the same reason as _PQ_DONOR_CAP: unbounded
# "every 50th vector" centroids make assignment O(n^2/50). FAISS sizes
# nlist ~ sqrt(n); a fixed cap keeps the deterministic rule and the
# linear build. No-op at test SFs.
_IVFPQ_CELL_CAP = _IVFPQ_CENT_MOD * 64


_IVFPQ_CTES = f"""
    WITH cents AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
      WHERE vec_id % {_IVFPQ_CENT_MOD} = 0 AND vec_id < {_IVFPQ_CELL_CAP}
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    ad AS (
      SELECT v.vec_id, c.cid, v.v, c.cv,
             list_transform(range(1, {_PQ_DIM + 1}),
                            i -> v.v[i] - c.cv[i]) AS dd,
             list_dot_product(dd, dd) AS dist
      FROM v CROSS JOIN cents c
    ),
    assign AS (
      SELECT vec_id, cid, v, cv FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY dist ASC, cid ASC) AS rn
        FROM ad) WHERE rn = 1
    ),
    resid AS (
      SELECT vec_id, cid,
             list_transform(range(1, {_PQ_DIM + 1}), i -> v[i] - cv[i]) AS r
      FROM assign
    ),
    cbk AS (
      SELECT CAST(mm.m AS BIGINT) AS subspace, d.vec_id AS code,
             d.r[CAST(mm.m * {_PQ_W} + 1 AS INTEGER)
                 : CAST(mm.m * {_PQ_W} + {_PQ_W} AS INTEGER)] AS cv
      FROM resid d, UNNEST(range(0, {_PQ_M})) AS mm(m)
      WHERE d.vec_id % {_PQ_CENT_MOD} = 0 AND d.vec_id < {_PQ_DONOR_CAP}
    ),
    sv AS (
      SELECT d.vec_id, d.cid, CAST(mm.m AS BIGINT) AS subspace,
             d.r[CAST(mm.m * {_PQ_W} + 1 AS INTEGER)
                 : CAST(mm.m * {_PQ_W} + {_PQ_W} AS INTEGER)] AS sv
      FROM resid d, UNNEST(range(0, {_PQ_M})) AS mm(m)
    ),
    scored AS (
      SELECT sv.vec_id, sv.cid, sv.subspace, cbk.code,
             list_transform(range(1, {_PQ_W + 1}),
                            i -> sv.sv[i] - cbk.cv[i]) AS d,
             list_dot_product(d, d) AS dist
      FROM sv JOIN cbk USING (subspace)
    ),
    codes AS (
      SELECT vec_id, cid, subspace, code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                                     ORDER BY dist ASC, code ASC) AS rn
        FROM scored) WHERE rn = 1
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qf
          FROM embeddings WHERE vec_id = {_IVFPQ_QID}),
    qd AS (
      SELECT c.cid, c.cv,
             list_transform(range(1, {_PQ_DIM + 1}),
                            i -> q.qf[i] - c.cv[i]) AS dd,
             list_dot_product(dd, dd) AS dist
      FROM cents c, q
    ),
    qcells AS (
      SELECT t.cid,
             list_transform(range(1, {_PQ_DIM + 1}),
                            i -> q.qf[i] - t.cv[i]) AS qr
      FROM (SELECT cid, cv,
                   ROW_NUMBER() OVER (ORDER BY dist ASC, cid ASC) AS rn
            FROM qd) t, q
      WHERE t.rn <= {_IVFPQ_NPROBE}
    ),
    lut AS (
      SELECT qc.cid, cb.subspace, cb.code,
             list_transform(range(1, {_PQ_W + 1}),
                            i -> qc.qr[CAST(cb.subspace * {_PQ_W} + i
                                            AS INTEGER)] - cb.cv[i]) AS d,
             list_dot_product(d, d) AS ld
      FROM qcells qc CROSS JOIN cbk cb
    ),
    per AS (
      SELECT c.vec_id,
             MIN(CASE WHEN c.subspace = 0 THEN l.ld END) AS l0,
             MIN(CASE WHEN c.subspace = 1 THEN l.ld END) AS l1,
             MIN(CASE WHEN c.subspace = 2 THEN l.ld END) AS l2,
             MIN(CASE WHEN c.subspace = 3 THEN l.ld END) AS l3
      FROM codes c
      JOIN lut l ON l.cid = c.cid AND l.subspace = c.subspace
                AND l.code = c.code
      GROUP BY c.vec_id
    )
"""


@register(
    "sim_ivfpq_topk",
    _IVFPQ_CTES + """
    SELECT vec_id, round(((l0 + l1) + l2) + l3, 6) AS approx_l2sq
    FROM per
    ORDER BY ((l0 + l1) + l2) + l3 ASC, vec_id ASC
    LIMIT 10
    """,
    doc="IVF-PQ composition (operators/similarity.py:ivfpq_topk) — the "
    "layout billion-vector indexes serve from (FAISS IndexIVFPQ): "
    "coarse-assign every vector to its nearest centroid "
    "(expression-only broadcast crossJoin + min-struct partial agg), "
    "PQ-encode the RESIDUAL against shared codebooks, then answer a "
    "query by ranking nprobe=3 cells relationally (no driver "
    "round-trip), building one LUT per probed cell from the query's "
    "per-cell residual, and summing m lookups per code row in fixed "
    "subspace order. The codes-to-LUT broadcast join on (cid, subspace, "
    "code) prunes unprobed cells; with cid as the storage partition "
    "column the pruning happens at the scan, so per-query cost is "
    "nprobe*|cell|, never n. Oracle recomputes the whole index + query "
    "end to end.",
)
def q_sim_ivfpq(spark, sf_dir):
    topk, _ = _ivfpq_query(spark, sf_dir)
    return topk


def _ivfpq_query(spark, sf_dir):
    """Shared index + query setup for the IVF-PQ pair: returns the top-k
    DataFrame and the query vector. One place owns the index parameters,
    so the recall query grades the SAME index the top-k query serves."""
    e = _t(spark, sf_dir, "embeddings")
    cents = e.filter(
        (F.col("vec_id") % _IVFPQ_CENT_MOD == 0)
        & (F.col("vec_id") < _IVFPQ_CELL_CAP)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    qrow = e.filter(F.col("vec_id") == _IVFPQ_QID).head()
    qv = [float(x) for x in qrow["embedding"]]
    topk = similarity.ivfpq_topk(
        e,
        id_col="vec_id",
        vec_col="embedding",
        query_vec=qv,
        centroids=cents,
        donor_filter=lambda c: (c % _PQ_CENT_MOD == 0) & (c < _PQ_DONOR_CAP),
        k=10,
        nprobe=_IVFPQ_NPROBE,
        m=_PQ_M,
        dim=_PQ_DIM,
    )
    return topk, qv


@register(
    "sim_ivfpq_recall",
    _IVFPQ_CTES + f""",
    adc AS (
      SELECT vec_id FROM per
      ORDER BY ((l0 + l1) + l2) + l3 ASC, vec_id ASC LIMIT 10
    ),
    exact AS (
      SELECT e.vec_id,
             list_transform(range(1, {_PQ_DIM + 1}),
                            i -> CAST(e.embedding[i] AS DOUBLE) - q.qf[i])
               AS d,
             list_dot_product(d, d) AS dist
      FROM embeddings e, q
      ORDER BY dist ASC, e.vec_id ASC LIMIT 10
    )
    SELECT 10 AS k, COUNT(*) AS n_hits,
           round(CAST(COUNT(*) AS DOUBLE) / 10.0, 6) AS recall
    FROM adc JOIN exact USING (vec_id)
    """,
    doc="Measured IVF-PQ quality: recall@10 of the composed index "
    "(coarse cells + residual PQ, nprobe=3) against the exact "
    "squared-L2 top-10 — the quality knob every IVF-PQ deployment "
    "tunes (raise nprobe until recall holds; unlike plain PQ the loss "
    "here includes whole cells the probe never opened). Exact side is "
    "one bounded heap; the intersection is a 10-row id equi-join. "
    "Oracle recomputes index, probe, ADC, and the exact ranking end "
    "to end.",
)
def q_sim_ivfpq_recall(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    topk, qv = _ivfpq_query(spark, sf_dir)
    adc = topk.select("vec_id")
    q = F.array(*[F.lit(float(x)) for x in qv])
    exact = (
        e.select(
            "vec_id",
            similarity._l2sq(
                F.transform(F.col("embedding"), lambda x: x.cast("double")),
                q,
            ).alias("__d__"),
        )
        .orderBy(F.col("__d__").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id")
    )
    return (
        adc.join(exact, "vec_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            F.lit(10).alias("k"),
            "n_hits",
            F.round(F.col("n_hits") / F.lit(10.0), 6).alias("recall"),
        )
    )


_SEG_W, _SEG_DROP_PCT = 10, 50


@register(
    "dedup_segment_fraction",
    f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ),
    d AS (
      SELECT doc_id, toks, len(toks) AS n,
             (len(toks) + {_SEG_W - 1}) // {_SEG_W} AS n_segs
      FROM t
    ),
    segs AS (
      SELECT doc_id,
             md5(array_to_string(
               toks[CAST(i * {_SEG_W} + 1 AS INTEGER)
                    : CAST(least(i * {_SEG_W} + {_SEG_W}, n) AS INTEGER)],
               ' ')) AS h
      FROM d, UNNEST(range(0, n_segs)) AS u(i)
    ),
    hf AS (SELECT h, COUNT(DISTINCT doc_id) AS docs FROM segs GROUP BY h)
    SELECT doc_id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN hf.docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_segments,
           round(CAST(SUM(CASE WHEN hf.docs > 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS dup_fraction,
           SUM(CASE WHEN hf.docs > 1 THEN 1 ELSE 0 END) * 100
             < COUNT(*) * {_SEG_DROP_PCT} AS keep
    FROM segs JOIN hf USING (h)
    GROUP BY doc_id
    """,
    doc="Sub-document (segment-level) dedup statistics — the CCNet/"
    "RefinedWeb line-dedup step for corpora without line structure: "
    "each doc splits into consecutive 10-token segments (map-only "
    "explode, chunk_documents shape), a segment occurrence counts as "
    "duplicated when its hash appears in >1 distinct document, and the "
    "per-doc duplicated fraction drives an integer-exact keep/drop rule "
    "(n_dup*100 < n_segments*50). Catches cross-document boilerplate "
    "that whole-doc dedup can never see. Shuffles carry (hash, id) "
    "posting rows and per-doc counts — never text, never pairs: a "
    "universal boilerplate segment in k docs costs k rows, not k².",
)
def q_dedup_segment_fraction(spark, sf_dir):
    return dedup.segment_dup_stats(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        segment_words=_SEG_W,
        drop_threshold_pct=_SEG_DROP_PCT,
    )


_SPAN_N, _SPAN_DROP_PCT = 5, 50


@register(
    "dedup_span_stats",
    f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ),
    d AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    grams AS (
      SELECT doc_id, i AS s,
             md5(array_to_string(
               toks[CAST(i AS INTEGER)
                    : CAST(i + {_SPAN_N - 1} AS INTEGER)], ' ')) AS h
      FROM d, UNNEST(range(1, n - {_SPAN_N} + 2)) AS u(i)
      WHERE n >= {_SPAN_N}
    ),
    hf AS (SELECT h FROM grams GROUP BY h HAVING COUNT(*) > 1),
    spans AS (
      SELECT doc_id, s, s + {_SPAN_N - 1} AS e
      FROM grams WHERE h IN (SELECT h FROM hf)
    ),
    marked AS (
      SELECT doc_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                 PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               THEN 1 ELSE 0 END AS brk
      FROM spans
    ),
    islands AS (
      SELECT doc_id, s, e,
             SUM(brk) OVER (
               PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM marked
    ),
    merged AS (
      SELECT doc_id, isl, MIN(s) AS ms, MAX(e) AS me
      FROM islands GROUP BY doc_id, isl
    ),
    pd AS (
      SELECT doc_id, COUNT(*) AS n_spans,
             CAST(SUM(me - ms + 1) AS BIGINT) AS dup_tokens
      FROM merged GROUP BY doc_id
    )
    SELECT d.doc_id, CAST(n AS BIGINT) AS n_tokens,
           COALESCE(pd.n_spans, 0) AS n_spans,
           COALESCE(pd.dup_tokens, 0) AS dup_tokens,
           round(CAST(COALESCE(pd.dup_tokens, 0) AS DOUBLE) / n, 6)
             AS dup_fraction,
           COALESCE(pd.dup_tokens, 0) * 100 < n * {_SPAN_DROP_PCT} AS keep
    FROM d LEFT JOIN pd USING (doc_id)
    """,
    doc="Exact duplicate-substring span statistics (Lee et al. 2021 "
    "EXACTSUBSTR, relational form): every sliding 5-token window that "
    "occurs more than once anywhere in the corpus — cross-doc OR "
    "within-doc — marks its span duplicated; overlapping spans merge "
    "into maximal regions (gaps-and-islands window) and an integer-"
    "exact keep rule drops docs that are mostly duplicated passage. "
    "Catches copies at any token offset that fixed segments miss. "
    "Shuffles carry (md5, id, start) postings and int triples — never "
    "text, never pairs: the suffix-array global sort of the paper "
    "becomes one hash groupBy with map-side combine.",
)
def q_dedup_span_stats(spark, sf_dir):
    return dedup.duplicate_span_stats(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        ngram_words=_SPAN_N,
        drop_threshold_pct=_SPAN_DROP_PCT,
    )


@register(
    "dedup_span_rewrite",
    f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ),
    d AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    grams AS (
      SELECT doc_id, i AS s,
             md5(array_to_string(
               toks[CAST(i AS INTEGER)
                    : CAST(i + {_SPAN_N - 1} AS INTEGER)], ' ')) AS h
      FROM d, UNNEST(range(1, n - {_SPAN_N} + 2)) AS u(i)
      WHERE n >= {_SPAN_N}
    ),
    hf AS (SELECT h FROM grams GROUP BY h HAVING COUNT(*) > 1),
    spans AS (
      SELECT doc_id, s, s + {_SPAN_N - 1} AS e
      FROM grams WHERE h IN (SELECT h FROM hf)
    ),
    marked AS (
      SELECT doc_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                 PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               THEN 1 ELSE 0 END AS brk
      FROM spans
    ),
    islands AS (
      SELECT doc_id, s, e,
             SUM(brk) OVER (
               PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM marked
    ),
    merged AS (
      SELECT doc_id, isl, MIN(s) AS ms, MAX(e) AS me
      FROM islands GROUP BY doc_id, isl
    ),
    sp AS (
      SELECT doc_id,
             list(struct_pack(ms := ms, me := me) ORDER BY ms) AS sps
      FROM merged GROUP BY doc_id
    ),
    k AS (
      SELECT d.doc_id, d.n,
             CASE WHEN sp.sps IS NULL THEN d.toks
                  ELSE list_filter(d.toks, (x, i) ->
                         len(list_filter(sp.sps,
                             s2 -> i >= s2.ms AND i <= s2.me)) = 0)
             END AS kept
      FROM d LEFT JOIN sp USING (doc_id)
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(len(kept) AS BIGINT) AS clean_tokens,
           CAST(n - len(kept) AS BIGINT) AS removed_tokens,
           -- array_to_string([]) is NULL in DuckDB but '' in Spark
           COALESCE(array_to_string(kept, ' '), '') AS clean_text
    FROM k
    """,
    doc="The rewrite half of Lee et al. 2021 EXACTSUBSTR: excise every "
    "merged duplicated region (same posting+islands core as dedup_span_"
    "stats) and emit the cleaned text — the paper's actual intervention "
    "keeps the unique prose around boilerplate instead of dropping "
    "documents. Span detection shuffles md5+ints only; the rewrite pays "
    "one id-keyed join of the corpus against per-doc span arrays (a "
    "rewrite touches every byte once — that's the floor) and token "
    "excision is a JVM higher-order filter with a nested exists, no "
    "UDF, no token-level explode. DuckDB twin rebuilds with a 1-based "
    "indexed list_filter lambda (Spark's filter index is 0-based; the "
    "operator compares on i+1).",
)
def q_dedup_span_rewrite(spark, sf_dir):
    return dedup.remove_duplicate_spans(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        ngram_words=_SPAN_N,
    )


_NOVELTY_N = 5


@register(
    "text_ngram_novelty",
    f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ),
    d AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    grams AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(
               toks[CAST(i AS INTEGER)
                    : CAST(i + {_NOVELTY_N - 1} AS INTEGER)], ' ')) AS h
      FROM d, UNNEST(range(1, n - {_NOVELTY_N} + 2)) AS u(i)
      WHERE n >= {_NOVELTY_N}
    ),
    f AS (SELECT h, MIN(doc_id) AS fid FROM grams GROUP BY h),
    pd AS (
      SELECT doc_id, COUNT(*) AS n_grams,
             CAST(SUM(CASE WHEN fid = doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
      FROM grams JOIN f USING (h) GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(pd.n_grams, 0) AS n_grams,
           COALESCE(pd.n_novel, 0) AS n_novel,
           CASE WHEN pd.n_grams IS NOT NULL
                THEN round(CAST(pd.n_novel AS DOUBLE) / pd.n_grams, 6)
           END AS novelty
    FROM d LEFT JOIN pd USING (doc_id)
    """,
    doc="Per-document n-gram novelty in corpus order: the fraction of a "
    "doc's distinct 5-token windows whose corpus-wide first holder (min "
    "doc id) is the doc itself — the redundancy-decay curve data "
    "curation uses to decide when more of a source stops adding "
    "content. Per-doc filterable column over passages (docs_vocab_"
    "growth is the corpus-level single-token curve). Shuffles carry "
    "(md5, id) postings with map-side combine — a gram held by k docs "
    "costs k rows, never pairs.",
)
def q_text_ngram_novelty(spark, sf_dir):
    return text.ngram_novelty(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id", text_col="text", ngram_words=_NOVELTY_N,
    )


@register(
    "decontaminate_check",
    f"""
    WITH labeled AS (
      SELECT doc_id, text, {_split_case_sql()} AS split FROM documents
    ),
    tr AS (
      SELECT DISTINCT unnest({O.shingles_sql('text', 8)}) AS shingle
      FROM labeled WHERE split = 'train'
    ),
    te AS (
      SELECT doc_id, unnest({O.shingles_sql('text', 8)}) AS shingle
      FROM labeled WHERE split = 'test'
    )
    SELECT t.doc_id,
           COUNT(*) AS n_shingles,
           COUNT(tr.shingle) AS n_contaminated,
           round(CAST(COUNT(tr.shingle) AS DOUBLE) / COUNT(*), 6)
             AS contamination_ratio
    FROM te t LEFT JOIN tr ON t.shingle = tr.shingle
    GROUP BY t.doc_id
    """,
    doc="Eval-set decontamination: per TEST doc, the fraction of its word "
    "8-grams that appear anywhere in the TRAIN split (same hash_split as "
    "split_train_test). Train side reduces to a distinct shingle set; "
    "test side equi-joins on the shingle key — never an all-pairs "
    "product, never text in a shuffle. Left join keeps clean docs at "
    "ratio 0.",
)
def q_decontaminate(spark, sf_dir):
    from bag_parser_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")
    labeled = sampling.hash_split(
        d, id_col="doc_id", splits=_SPLITS, seed=_SPLIT_SEED
    )
    train = labeled.filter(F.col("split") == "train")
    test = labeled.filter(F.col("split") == "test")
    return dedup.contamination_check(
        train, test, id_col="doc_id", text_col="text", shingle_n=8
    )


_BLOOM_M = 65536
_BLOOM_K = 3


@register(
    "decontaminate_bloom",
    f"""
    WITH labeled AS (
      SELECT doc_id, text, {_split_case_sql()} AS split FROM documents
    ),
    te AS (
      SELECT DISTINCT unnest({O.shingles_sql('text', 8)}) AS shingle
      FROM labeled WHERE split = 'test'
    ),
    bloom AS (
      SELECT DISTINCT u.pos
      FROM te, UNNEST({O.bloom_positions_sql('shingle', _BLOOM_K, _BLOOM_M)})
           AS u(pos)
    ),
    trs AS (
      SELECT DISTINCT doc_id, unnest({O.shingles_sql('text', 8)}) AS shingle
      FROM labeled WHERE split = 'train'
    ),
    keys AS (SELECT DISTINCT shingle FROM trs),
    cand AS (
      SELECT shingle FROM (
        SELECT k.shingle, u.pos
        FROM keys k,
             UNNEST({O.bloom_positions_sql('k.shingle', _BLOOM_K, _BLOOM_M)})
             AS u(pos)
      ) kp JOIN bloom b USING (pos)
      GROUP BY kp.shingle
      HAVING COUNT(*) = {_BLOOM_K}
    ),
    conf AS (SELECT c.shingle FROM cand c JOIN te USING (shingle))
    SELECT t.doc_id,
           COUNT(*) AS n_shingles,
           COUNT(c.shingle) AS n_bloom_hits,
           COUNT(f.shingle) AS n_confirmed,
           COUNT(c.shingle) - COUNT(f.shingle) AS n_false_positives,
           COUNT(f.shingle) = 0 AS clean
    FROM trs t
    LEFT JOIN cand c USING (shingle)
    LEFT JOIN conf f USING (shingle)
    GROUP BY t.doc_id
    """,
    doc="Bloom-prefiltered decontamination, the 100 TB-direction variant "
    "of decontaminate_check: the SMALL side (the eval/test split's "
    "distinct 8-gram shingles) builds a Bloom filter (m=65536 bits, k=3 "
    "md5 hashes, sketches.bloom_build — stored relationally as the "
    "<= m-row set-bit table, the engine-portable/mergeable form of the "
    "bitset), and the LARGE side (the train corpus) probes it map-side: "
    "each train shingle explodes to 3 integer positions, broadcast-joins "
    "the bit table, and survives only if all 3 bits are set. Only the "
    "surviving candidates (true hits + ~(1-e^{-kn/m})^k false positives) "
    "reach the exact verify join against the real test-shingle set, so "
    "the corpus-sized shuffle of decontaminate_check's shingle join "
    "disappears — at 100 TB the bit table collects to a literal 8 KB "
    "bitset broadcast with zero shuffle. Output is the per-TRAIN-doc "
    "audit: shingles, Bloom hits, confirmed hits, false positives "
    "(honest measure of the m/k tradeoff), and the clean flag. No false "
    "negatives by construction, so n_confirmed is bit-identical to what "
    "the exact join computes — which is exactly what the oracle checks.",
)
def q_decontaminate_bloom(spark, sf_dir):
    from bag_parser_spark.operators import sampling, sketches

    d = _t(spark, sf_dir, "documents")
    labeled = sampling.hash_split(
        d, id_col="doc_id", splits=_SPLITS, seed=_SPLIT_SEED
    )
    te_sh = dedup.word_shingle_rows(
        labeled.filter(F.col("split") == "test"), "doc_id", "text", 8
    ).select("shingle")
    trs = dedup.word_shingle_rows(
        labeled.filter(F.col("split") == "train"), "doc_id", "text", 8
    ).dropDuplicates(["__id__", "shingle"])
    counts = sketches.bloom_confirmed_counts(
        trs, "__id__", "shingle", te_sh, _BLOOM_K, _BLOOM_M
    )
    return counts.select(
        F.col("__id__").alias("doc_id"),
        F.col("n_keys").alias("n_shingles"),
        F.col("n_candidates").alias("n_bloom_hits"),
        "n_confirmed",
        (F.col("n_candidates") - F.col("n_confirmed")).alias(
            "n_false_positives"
        ),
        (F.col("n_confirmed") == 0).alias("clean"),
    )


@register(
    "sample_weighted_sources",
    f"""
    SELECT doc_id, source FROM documents
    WHERE {O.md5_mod_sql('doc_id', 7)} <
          CAST((1 + (CAST(substring(source, 4, 10) AS INTEGER) % 4))
               / 4.0 * 10000 AS BIGINT)
    """,
    doc="Importance sampling by source (mixture shaping): deterministic "
    "per-row Bernoulli keep at rate 0.25/0.5/0.75/1.0 depending on the "
    "source id — md5(seed:id) bucket under a rate-scaled threshold. "
    "Map-only, no RNG, reproducible across engines/partitionings where "
    "Spark's sample() is not.",
)
def q_weighted_sample(spark, sf_dir):
    from bag_parser_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")
    srcnum = F.substring(F.col("source"), 4, 10).cast("int")
    rate = (F.lit(1) + (srcnum % 4)) / F.lit(4.0)
    return sampling.weighted_sample(d, id_col="doc_id", rate=rate, seed=7).select(
        "doc_id", "source"
    )


@register(
    "sample_temperature",
    f"""
    WITH corpus AS (
      SELECT d.doc_id * 8 + u.c AS rid, d.source
      FROM documents d,
           UNNEST(range(0, 1 + (CAST(substring(d.source, 4, 10) AS INTEGER)
                                % 5))) AS u(c)
    ),
    counts AS (SELECT source, COUNT(*) AS n FROM corpus GROUP BY source),
    nmin AS (SELECT MIN(n) AS nmin FROM counts),
    rates AS (
      SELECT source, n,
             sqrt(CAST(nmin.nmin AS DOUBLE) / CAST(n AS DOUBLE)) AS rate
      FROM counts, nmin
    ),
    kept AS (
      SELECT c.rid, c.source, r.n, r.rate
      FROM corpus c JOIN rates r USING (source)
      WHERE {O.md5_mod_sql('c.rid', 11)}
            < CAST(floor(r.rate * 10000) AS BIGINT)
    )
    SELECT source, MIN(n) AS n_before,
           round(MIN(rate), 6) AS keep_rate,
           COUNT(*) AS n_kept,
           CAST(SUM(rid) AS BIGINT) AS kept_checksum
    FROM kept GROUP BY source
    """,
    doc="Temperature-flattened mixture sampling (T5 alpha-sampling, "
    "alpha=0.5): per-source keep-rates sqrt(n_min/n_s) computed FROM the "
    "corpus (skewed here by replicating each source's docs 1-5x), then "
    "the same deterministic md5 Bernoulli as sample_weighted_sources. "
    "Two passes: a map-side-combined count groupBy to a |sources|-row "
    "table, then that table BROADCAST back onto the full scan — the "
    "corpus never shuffles, which is the only viable shape at 100 TB. "
    "alpha is fixed at 0.5 because sqrt/divide are correctly-rounded "
    "IEEE ops (bit-identical across engines) where pow is libm-"
    "dependent; the threshold spells floor() because DuckDB's BIGINT "
    "cast rounds while Spark's truncates. Output is the per-source "
    "audit: size before, keep rate, kept count, kept-id checksum.",
)
def q_sample_temperature(spark, sf_dir):
    from bag_parser_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")
    srcnum = F.substring(F.col("source"), 4, 10).cast("int")
    corpus = d.select(
        (F.col("doc_id") * 8).alias("__base__"),
        "source",
        F.explode(
            F.sequence(F.lit(0).cast("long"), (srcnum % 5).cast("long"))
        ).alias("__c__"),
    ).select((F.col("__base__") + F.col("__c__")).alias("rid"), "source")
    kept = sampling.temperature_sample(
        corpus, id_col="rid", source_col="source", seed=11
    )
    return kept.groupBy("source").agg(
        F.min("__n__").alias("n_before"),
        F.round(F.min("__rate__"), 6).alias("keep_rate"),
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("rid").alias("kept_checksum"),
    )


_CHUNK_CTX, _CHUNK_OVERLAP = 32, 8
_CHUNK_STEP = _CHUNK_CTX - _CHUNK_OVERLAP


@register(
    "chunk_documents",
    f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ),
    d AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) > {_CHUNK_CTX}
                  THEN 1 + (len(toks) - {_CHUNK_CTX} + {_CHUNK_STEP - 1})
                           // {_CHUNK_STEP}
                  ELSE 1 END AS n_chunks
      FROM t
    )
    SELECT doc_id,
           CAST(cno AS BIGINT) AS chunk_no,
           CAST(cno * {_CHUNK_STEP} AS BIGINT) AS token_start,
           CAST(len(toks[CAST(cno * {_CHUNK_STEP} + 1 AS INTEGER)
                         : CAST(least(cno * {_CHUNK_STEP} + {_CHUNK_CTX}, n)
                                AS INTEGER)]) AS INTEGER) AS n_chunk_tokens,
           array_to_string(
             toks[CAST(cno * {_CHUNK_STEP} + 1 AS INTEGER)
                  : CAST(least(cno * {_CHUNK_STEP} + {_CHUNK_CTX}, n)
                         AS INTEGER)], ' ') AS chunk_text
    FROM d, UNNEST(range(0, n_chunks)) AS u(cno)
    """,
    doc="Per-document sliding-window chunking (fine-tuning / embedding-"
    "index layout; pack_sequences is the pretraining twin): ctx_len=32 "
    "tokens advancing by 24 (overlap 8), last window anchored so every "
    "token is covered. Map-only explode — generator runs executor-side, "
    "no shuffle at any scale; integer chunk-count arithmetic, exact in "
    "every engine.",
)
def q_chunk_documents(spark, sf_dir):
    from bag_parser_spark.operators import sampling

    return sampling.chunk_documents(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        ctx_len=_CHUNK_CTX,
        overlap=_CHUNK_OVERLAP,
    )


@register(
    "vocab_build",
    f"""
    SELECT token, doc_freq, term_freq FROM (
      SELECT token, COUNT(DISTINCT doc_id) AS doc_freq,
             COUNT(*) AS term_freq
      FROM (SELECT doc_id, unnest({O.words_sql('lower(text)')}) AS token
            FROM documents)
      GROUP BY token
    ) WHERE doc_freq >= 5
    """,
    doc="Corpus vocabulary (token, doc_freq, term_freq) with min_df "
    "pruning — tokenizer-training / TF-IDF ingredient. Single groupBy "
    "(token) with map-side partial agg; the min_df filter drops the "
    "long tail at the aggregate, before anything consumes it.",
)
def q_vocab(spark, sf_dir):
    from bag_parser_spark.operators.text import vocab_build

    return vocab_build(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        min_df=5,
    )


# TF-IDF CTE body, shared by the vectors query and keyword extraction so
# the twin definitions cannot drift apart.
_TFIDF_SQL = f"""
    WITH term AS (
      SELECT doc_id, token, COUNT(*) AS tf_count
      FROM (SELECT doc_id, unnest({O.words_sql('lower(text)')}) AS token
            FROM documents)
      GROUP BY doc_id, token
    ),
    with_len AS (
      SELECT doc_id, token, tf_count,
             CAST(SUM(tf_count) OVER (PARTITION BY doc_id) AS BIGINT)
               AS doc_len
      FROM term
    ),
    vocab AS (
      SELECT token, COUNT(DISTINCT doc_id) AS doc_freq
      FROM term GROUP BY token HAVING COUNT(DISTINCT doc_id) >= 5
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    tfidf AS (
      SELECT t.doc_id, t.token, t.tf_count, t.doc_len, v.doc_freq,
             round((t.tf_count / t.doc_len)
                   * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / v.doc_freq),
                   6) AS tfidf
      FROM with_len t JOIN vocab v ON t.token = v.token
    )
"""


@register(
    "tfidf_vectors",
    _TFIDF_SQL + "\n    SELECT * FROM tfidf",
    doc="Sparse TF-IDF vectors over the min_df-pruned vocabulary: term "
    "counts aggregate once per (doc, token); the pruned vocab (tiny, by "
    "Zipf) broadcasts back onto term rows so the corpus side never "
    "reshuffles for the join; weights rounded for cross-engine match.",
)
def q_tfidf(spark, sf_dir):
    from bag_parser_spark.operators.text import tfidf_vectors

    return tfidf_vectors(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        min_df=5,
    )


_KEYWORDS_K = 3


@register(
    "text_keywords_topk",
    _TFIDF_SQL
    + f"""
    SELECT doc_id, token, tfidf, kw_rank FROM (
      SELECT doc_id, token, tfidf,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY tfidf DESC, token ASC) AS kw_rank
      FROM tfidf
    ) WHERE kw_rank <= {_KEYWORDS_K}
    """,
    doc="Per-document keyword extraction: top-3 TF-IDF terms per doc — "
    "the metadata-enrichment step that tags corpus documents for "
    "filtering/routing. Rides the tfidf_vectors pipeline (shared SQL "
    "CTE, same operator) plus ONE window pass partitioned by doc "
    "(already the term table's partitioning — no extra exchange); ties "
    "break on token for engine-stable ranks.",
)
def q_keywords(spark, sf_dir):
    from pyspark.sql import Window

    from bag_parser_spark.operators.text import tfidf_vectors

    tf = tfidf_vectors(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        min_df=5,
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        tf.withColumn("kw_rank", F.row_number().over(w))
        .filter(F.col("kw_rank") <= _KEYWORDS_K)
        .select("doc_id", "token", "tfidf", "kw_rank")
    )


# ---------------------------------------------------------------------------
# Similarity search family
# ---------------------------------------------------------------------------

def _query_vec(spark, sf_dir):
    row = (
        _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).head()
    )
    return [float(x) for x in row["embedding"]]


_COS_Q = "(SELECT embedding FROM embeddings WHERE vec_id = 0)"


@register(
    "sim_cosine_topk",
    f"""
    SELECT vec_id,
           round({O.cosine_sql('embedding', _COS_Q)}, 6) AS cosine_sim
    FROM embeddings
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT 10
    """,
    doc="Brute-force cosine top-k (exact ANN baseline): literal query "
    "vector, embarrassingly parallel scan, TakeOrderedAndProject keeps k "
    "rows per partition. Left-fold accumulation matches the oracle bitwise.",
)
def q_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk(
        _t(spark, sf_dir, "embeddings"),
        id_col="vec_id",
        vec_col="embedding",
        query_vec=_query_vec(spark, sf_dir),
        k=10,
    )


def _lsh_oracle_sql() -> str:
    import bag_parser_spark.operators.similarity as S

    dim, planes = 64, 8
    plane_vecs = [S._pseudo_random_plane(p, dim) for p in range(planes)]
    bits = " || ".join(
        f"(CASE WHEN {O.dot_sql('embedding', O.double_list_literal(pv))} >= 0 "
        f"THEN '1' ELSE '0' END)"
        for pv in plane_vecs
    )
    qbits = " || ".join(
        f"(CASE WHEN {O.dot_sql(_COS_Q, O.double_list_literal(pv))} >= 0 "
        f"THEN '1' ELSE '0' END)"
        for pv in plane_vecs
    )
    return f"""
    SELECT vec_id,
           round({O.cosine_sql('embedding', _COS_Q)}, 6) AS cosine_sim
    FROM embeddings
    WHERE ({bits}) = ({qbits})
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT 10
    """


@register(
    "sim_lsh_bucket_topk",
    _lsh_oracle_sql(),
    doc="Random-hyperplane LSH ANN: sign-bit bucket filter prunes the scan "
    "to ~n/2^planes candidates before exact scoring — the 100 TB path "
    "(bucket can be a partition column). Approximate by construction.",
)
def q_lsh_topk(spark, sf_dir):
    return similarity.lsh_bucket_topk(
        _t(spark, sf_dir, "embeddings"),
        id_col="vec_id",
        vec_col="embedding",
        query_vec=_query_vec(spark, sf_dir),
        k=10,
        num_planes=8,
    )


@register(
    "sim_knn_join",
    f"""
    WITH probes AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 16
    ),
    scored AS (
      SELECT p.qid, e.vec_id AS cid,
             round({O.cosine_sql('e.embedding', 'p.qv')}, 6) AS cosine_sim
      FROM probes p CROSS JOIN embeddings e
      WHERE p.qid <> e.vec_id
    )
    SELECT qid, cid, cosine_sim FROM (
      SELECT qid, cid, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cosine_sim DESC, cid ASC) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
    doc="k-NN join: broadcast the probe side, per-probe top-k window. Exact "
    "and quadratic — LSH bucketing is the scale path.",
)
def q_knn_join(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 16)
    return similarity.knn_join_brute(
        probes, e, left_id="vec_id", right_id="vec_id", vec_col="embedding",
        k=3,
    )


_ANN_K, _ANN_PROBES, _ANN_PLANES, _ANN_DIM, _ANN_TABLES = 10, 16, 8, 64, 4


def _ann_plane_tables() -> list[list[list[float]]]:
    """4 independent hyperplane sets (table t uses plane seeds
    t*planes .. t*planes+planes-1); table 0 is the single-table
    baseline."""
    return [
        [
            similarity._pseudo_random_plane(t * _ANN_PLANES + p, _ANN_DIM)
            for p in range(_ANN_PLANES)
        ]
        for t in range(_ANN_TABLES)
    ]


def _ann_recall_oracle_sql() -> str:
    def bits(col: str, planes: list[list[float]]) -> str:
        return " || ".join(
            f"(CASE WHEN {O.dot_sql(col, O.double_list_literal(pv))} >= 0 "
            f"THEN '1' ELSE '0' END)"
            for pv in planes
        )

    bands = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, ({bits('embedding', planes)}) AS bucket "
        "FROM embeddings"
        for t, planes in enumerate(_ann_plane_tables())
    )
    return f"""
    WITH bands AS ({bands}),
    probv AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id < {_ANN_PROBES}
    ),
    pb AS (SELECT vec_id AS qid, t AS qt, bucket AS qb FROM bands
           WHERE vec_id < {_ANN_PROBES}),
    cand AS (
      SELECT p.qid, c.vec_id AS cid,
             MAX(CASE WHEN c.t = 0 THEN 1 ELSE 0 END) AS t0
      FROM pb p JOIN bands c
        ON c.t = p.qt AND c.bucket = p.qb AND c.vec_id <> p.qid
      GROUP BY p.qid, c.vec_id
    ),
    scored AS (
      SELECT cand.qid, cand.cid, cand.t0,
             round({O.cosine_sql('e.embedding', 'pv.qv')}, 6) AS sim
      FROM cand
      JOIN embeddings e ON e.vec_id = cand.cid
      JOIN probv pv ON pv.qid = cand.qid
    ),
    top4 AS (
      SELECT qid, cid FROM (
        SELECT qid, cid, ROW_NUMBER() OVER (
          PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
        FROM scored) WHERE rn <= {_ANN_K}
    ),
    top1 AS (
      SELECT qid, cid FROM (
        SELECT qid, cid, ROW_NUMBER() OVER (
          PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
        FROM scored WHERE t0 = 1) WHERE rn <= {_ANN_K}
    ),
    brute AS (
      SELECT qid, cid FROM (
        SELECT p.qid, e.vec_id AS cid,
               ROW_NUMBER() OVER (
                 PARTITION BY p.qid
                 ORDER BY round({O.cosine_sql('e.embedding', 'p.qv')}, 6)
                            DESC, e.vec_id ASC) AS rn
        FROM probv p CROSS JOIN embeddings e
        WHERE p.qid <> e.vec_id
      ) WHERE rn <= {_ANN_K}
    ),
    nb AS (SELECT qid, COUNT(*) AS n_brute FROM brute GROUP BY qid),
    nc1 AS (SELECT qid, COUNT(*) AS n_cand_1t FROM scored
            WHERE t0 = 1 GROUP BY qid),
    nc4 AS (SELECT qid, COUNT(*) AS n_cand_4t FROM scored GROUP BY qid),
    h1 AS (SELECT brute.qid, COUNT(*) AS n_hits_1t
           FROM brute JOIN top1 USING (qid, cid) GROUP BY brute.qid),
    h4 AS (SELECT brute.qid, COUNT(*) AS n_hits_4t
           FROM brute JOIN top4 USING (qid, cid) GROUP BY brute.qid)
    SELECT nb.qid, nb.n_brute,
           COALESCE(nc1.n_cand_1t, 0) AS n_cand_1t,
           COALESCE(h1.n_hits_1t, 0) AS n_hits_1t,
           round(CAST(COALESCE(h1.n_hits_1t, 0) AS DOUBLE) / nb.n_brute, 6)
             AS recall_1t,
           COALESCE(nc4.n_cand_4t, 0) AS n_cand_4t,
           COALESCE(h4.n_hits_4t, 0) AS n_hits_4t,
           round(CAST(COALESCE(h4.n_hits_4t, 0) AS DOUBLE) / nb.n_brute, 6)
             AS recall_4t
    FROM nb
    LEFT JOIN nc1 ON nc1.qid = nb.qid
    LEFT JOIN h1 ON h1.qid = nb.qid
    LEFT JOIN nc4 ON nc4.qid = nb.qid
    LEFT JOIN h4 ON h4.qid = nb.qid
    """


@register(
    "sim_ann_recall",
    _ann_recall_oracle_sql(),
    doc="Measured (not guessed) ANN quality: per-probe recall@10 of "
    "hyperplane-LSH against the exact brute-force top-10, for BOTH the "
    "single-table bucket search and the standard multi-table upgrade "
    "(4 independent plane sets, candidate = union of per-table bucket "
    "matches). The candidate join is the banded equi-join shape — "
    "(table, bucket) keys only, vectors re-attached to the DISTINCT "
    "candidate set afterward so the band shuffle never carries floats. "
    "Output: 16 rows of candidate-set size (cost) and recall (quality) "
    "per variant — the num_planes/num_tables tuning loop, run on a "
    "sample, read both columns, trade cost for recall. Brute side is "
    "the documented bounded-probe baseline.",
)
def q_sim_ann_recall(spark, sf_dir):
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "embeddings")
    tables = _ann_plane_tables()
    bands = e.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    similarity.lsh_bucket_expr(F.col("embedding"), planes)
                    for planes in tables
                ]
            )
        ).alias("t", "bucket"),
    ).persist()
    probv = e.filter(F.col("vec_id") < _ANN_PROBES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    pb = bands.filter(F.col("vec_id") < _ANN_PROBES).select(
        F.col("vec_id").alias("qid"),
        F.col("t").alias("qt"),
        F.col("bucket").alias("qb"),
    )
    cand = (
        F.broadcast(pb)
        .join(
            bands,
            (F.col("t") == F.col("qt"))
            & (F.col("bucket") == F.col("qb"))
            & (F.col("vec_id") != F.col("qid")),
        )
        .groupBy("qid", F.col("vec_id").alias("cid"))
        .agg(F.max((F.col("t") == 0).cast("int")).alias("t0"))
    )
    scored = (
        cand.join(
            e.select(F.col("vec_id").alias("cid"),
                     F.col("embedding").alias("cv")),
            "cid",
        )
        .join(F.broadcast(probv), "qid")
        .select(
            "qid",
            "cid",
            "t0",
            F.round(
                similarity.cosine(F.col("cv"), F.col("qv"), _ANN_DIM), 6
            ).alias("sim"),
        )
        .persist()
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("cid").asc()
    )
    top4 = (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= _ANN_K)
        .select("qid", "cid")
    )
    top1 = (
        scored.filter(F.col("t0") == 1)
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= _ANN_K)
        .select("qid", "cid")
    )
    brute = similarity.knn_join_brute(
        probv.select(F.col("qid").alias("vec_id"),
                     F.col("qv").alias("embedding")),
        e,
        left_id="vec_id",
        right_id="vec_id",
        vec_col="embedding",
        k=_ANN_K,
    ).select("qid", "cid").persist()
    nb = brute.groupBy("qid").agg(F.count(F.lit(1)).alias("n_brute"))
    nc1 = (
        scored.filter(F.col("t0") == 1)
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_cand_1t"))
    )
    nc4 = scored.groupBy("qid").agg(F.count(F.lit(1)).alias("n_cand_4t"))
    h1 = (
        brute.join(top1, ["qid", "cid"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hits_1t"))
    )
    h4 = (
        brute.join(top4, ["qid", "cid"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hits_4t"))
    )
    z = F.lit(0)
    return (
        nb.join(nc1, "qid", "left")
        .join(h1, "qid", "left")
        .join(nc4, "qid", "left")
        .join(h4, "qid", "left")
        .select(
            "qid",
            "n_brute",
            F.coalesce("n_cand_1t", z).alias("n_cand_1t"),
            F.coalesce("n_hits_1t", z).alias("n_hits_1t"),
            F.round(
                F.coalesce("n_hits_1t", z).cast("double") / F.col("n_brute"),
                6,
            ).alias("recall_1t"),
            F.coalesce("n_cand_4t", z).alias("n_cand_4t"),
            F.coalesce("n_hits_4t", z).alias("n_hits_4t"),
            F.round(
                F.coalesce("n_hits_4t", z).cast("double") / F.col("n_brute"),
                6,
            ).alias("recall_4t"),
        )
    )


def _neardup_oracle_sql(threshold: float, num_planes: int, dim: int) -> str:
    planes = [
        similarity._pseudo_random_plane(p, dim) for p in range(num_planes)
    ]

    def bits(col: str) -> str:
        return " || ".join(
            f"(CASE WHEN {O.dot_sql(col, O.double_list_literal(pv))} >= 0 "
            f"THEN '1' ELSE '0' END)"
            for pv in planes
        )

    cos = O.cosine_sql("a.embedding", "c.embedding")
    return f"""
    WITH b AS (SELECT vec_id, embedding, ({bits('embedding')}) AS bucket
               FROM embeddings)
    SELECT a.vec_id AS a_id, c.vec_id AS b_id,
           round({cos}, 6) AS cosine_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE round({cos}, 6) >= {threshold}
    """


@register(
    "dedup_embedding_cosine",
    _neardup_oracle_sql(0.35, 6, 64),
    doc="Embedding-cosine near-dup pairs (semantic dedup): LSH sign-bucket "
    "self-join restricts candidates to ~n/2^planes per bucket (equi-join "
    "shuffle on the bucket key, never an n² cross join), then exact cosine "
    "verifies each pair against the threshold. Approximate by construction "
    "(pairs straddling a hyperplane are missed — add bands for recall).",
)
def q_emb_neardup(spark, sf_dir):
    return similarity.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"),
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.35,
        num_planes=6,
        dim=64,
    )


def _ivf_oracle_sql(corpus_where: str = "") -> str:
    acos = O.cosine_sql("e.embedding", "c.cv")
    qcos = O.cosine_sql(_COS_Q, "c.cv")
    rcos = O.cosine_sql("a.embedding", _COS_Q)
    where = f"WHERE {corpus_where}" if corpus_where else ""
    return f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cv
                   FROM embeddings
                   WHERE vec_id % 50 = 0 AND vec_id < {_IVFPQ_CELL_CAP}),
    assign AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {acos} DESC, c.cid ASC) AS rn
        FROM (SELECT * FROM embeddings {where}) e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    qcells AS (
      SELECT cid FROM (
        SELECT c.cid,
               ROW_NUMBER() OVER (ORDER BY {qcos} DESC, c.cid ASC) AS rn
        FROM cents c
      ) WHERE rn <= 2
    )
    SELECT a.vec_id, round({rcos}, 6) AS cosine_sim
    FROM assign a
    WHERE a.cid IN (SELECT cid FROM qcells)
    ORDER BY cosine_sim DESC, a.vec_id ASC
    LIMIT 10
    """


@register(
    "sim_ivf_topk",
    _ivf_oracle_sql(),
    doc="IVF ANN: corpus coarse-quantized to nearest-centroid cells "
    "(broadcast assignment, no corpus shuffle), query probes the nprobe=2 "
    "nearest cells only. At 100 TB the cell id is a partition column so "
    "probing prunes partitions at the scan — per-query cost |cell|*nprobe. "
    "Same left-fold cosine as the exact baseline; approximate recall.",
)
def q_ivf_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    cents = e.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < _IVFPQ_CELL_CAP)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    return similarity.ivf_topk(
        e,
        id_col="vec_id",
        vec_col="embedding",
        query_vec=_query_vec(spark, sf_dir),
        k=10,
        centroids=cents,
        nprobe=2,
    )


@register(
    "a7_approx_distinct",
    """
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS within_bound
    FROM lineitem
    """,
    doc="approx_count_distinct (HyperLogLog++) beside the exact count: the "
    "sketch mergeable across partitions makes distinct-cardinality O(1) "
    "memory at 100 TB where exact COUNT(DISTINCT) shuffles every key. "
    "The HLL sketch value itself is engine-specific, so the oracle-"
    "comparable surface is (exact count, |approx-exact|/exact <= 0.05): "
    "Spark's HLL is deterministic on fixed data, so the boolean is stable; "
    "DuckDB returns the exact count and literal TRUE. The raw relative-"
    "error bound is additionally asserted in tests/test_extensions.py.",
)
def q_a7(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return l.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("__approx__"),
        F.count_distinct("l_partkey").alias("exact_parts"),
    ).select(
        "exact_parts",
        (
            F.abs(F.col("__approx__") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= 0.05
        ).alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# Windowed aggregation (batch twin of the streaming pipeline)
# ---------------------------------------------------------------------------

@register(
    "events_windowed_agg",
    f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           {agg.exact_sum_sql('value', 6)} AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    doc="Tumbling-window aggregate — the batch twin of the Structured "
    "Streaming pipeline in streaming/events.py (same grouping, same exact-"
    "decimal sum); watermarked streaming variant tested in tests/.",
)
def q_windowed(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            agg.exact_sum(F.col("value"), 6).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def _sessionize_sql():
    from bag_parser_spark.streaming.sessionize import (
        sessionize_batch_oracle_sql,
    )

    return sessionize_batch_oracle_sql(360)


@register(
    "events_sessionize",
    _sessionize_sql(),
    doc="Gap-based sessionization (batch twin of the applyInPandasWithState "
    "streaming operator in streaming/sessionize.py): lag() gap flag → "
    "running-sum session number → grouped session stats. One shuffle on "
    "user_id; numbering and grouping reuse its partitioning. Stream/batch "
    "parity is tested in tests/test_streaming.py.",
)
def q_sessionize(spark, sf_dir):
    from bag_parser_spark.streaming.sessionize import sessionize_batch

    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    return sessionize_batch(e, gap_minutes=360)


# ---------------------------------------------------------------------------
# Multimodal plumbing (metadata path oracle-checked; decode path rows-only)
# ---------------------------------------------------------------------------

@register(
    "mm_binary_metadata",
    """
    SELECT doc_id, 'application/octet-stream' AS mime,
           octet_length(encode(text)) AS byte_len,
           md5(text) AS checksum_md5
    FROM documents
    """,
    doc="Multimodal metadata plumbing: opaque binary payload + typed "
    "metadata struct; filters on metadata prune row groups without "
    "touching payload bytes.",
)
def q_mm_meta(spark, sf_dir):
    d = multimodal.attach_binary_payload(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.byte_len").alias("byte_len"),
        F.col("media_meta.checksum_md5").alias("checksum_md5"),
    )


# REAL image decode path: each doc gets a genuine PNG payload built
# executor-side from the deterministic pixel formula (operators/multimodal
# synthetic_pixel: (doc_id + 3x + 5y + 7c) % 256, dims 4..16 × 3..9, RGB,
# all five PNG scanline filters). Spark encodes THEN decodes real PNG
# bytes (functions/png_codec — stdlib zlib, Pillow when present); the
# oracle predicts the decoded statistics straight from the pixel formula,
# so an encoder/decoder bug pair would have to cancel across five filter
# algorithms AND reproduce the formula to slip through.
_MM_DIMS = "SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h FROM documents"


@register(
    "mm_image_features",
    f"""
    WITH dims AS ({_MM_DIMS}),
    px AS (
      SELECT doc_id, w, h,
             (doc_id + 3 * t.x + 5 * u.y + 7 * v.c) % 256 AS val
      FROM dims,
           UNNEST(range(0, w)) AS t(x),
           UNNEST(range(0, h)) AS u(y),
           UNNEST(range(0, 3)) AS v(c)
    )
    SELECT doc_id,
           CAST(MIN(w) AS INTEGER) AS width,
           CAST(MIN(h) AS INTEGER) AS height,
           CAST(SUM(val) AS DOUBLE) / COUNT(*) AS mean_byte,
           COUNT(*) AS n_bytes
    FROM px GROUP BY doc_id
    """,
    doc="REAL image decode via Arrow-batched mapInPandas: real PNG payloads "
    "(encoded executor-side, every scanline filter type) decoded by "
    "functions/png_codec (pure-stdlib zlib; Pillow-backed when installed) "
    "into width/height/mean-pixel/byte-count. The oracle recomputes the "
    "expected statistics independently from the synthetic pixel formula — "
    "decoded dimensions and pixel means must match value-for-value, so "
    "this is a true codec correctness gate, not a plumbing check.",
)
def q_mm_features(spark, sf_dir):
    d = multimodal.generate_png_payloads(_t(spark, sf_dir, "documents"))
    return multimodal.extract_image_features(d)


# REAL baseline-JPEG decode path (r7): grayscale JPEG payloads with
# block-constant pixels (multimodal.synthetic_block_value, dims in whole
# 8x8 blocks) and an all-ones quant table. A constant block carries only
# its DC coefficient (an exact integer), which quant=1 preserves exactly
# — so the decoded output of a genuinely LOSSY codec (Huffman entropy
# decode, DC prediction, dequant, IDCT) is still bit-predictable by the
# oracle straight from the block formula. Non-constant content is
# covered by tests/test_jpeg_codec.py under a lossy tolerance.
@register(
    "mm_jpeg_features",
    """
    WITH dims AS (
      SELECT doc_id, 1 + doc_id % 3 AS wb, 1 + doc_id % 2 AS hb
      FROM documents
    ),
    blk AS (
      SELECT doc_id, wb, hb,
             (doc_id * 7 + 11 * t.bx + 13 * u.by) % 256 AS val
      FROM dims,
           UNNEST(range(0, wb)) AS t(bx),
           UNNEST(range(0, hb)) AS u(by)
    )
    SELECT doc_id,
           CAST(MIN(wb) * 8 AS INTEGER) AS width,
           CAST(MIN(hb) * 8 AS INTEGER) AS height,
           CAST(SUM(val) * 64 AS DOUBLE) / (COUNT(*) * 64) AS mean_byte,
           CAST(COUNT(*) * 64 AS BIGINT) AS n_bytes
    FROM blk GROUP BY doc_id
    """,
    doc="REAL baseline-JPEG decode via Arrow-batched mapInPandas: genuine "
    "grayscale JFIF payloads (encoded executor-side by "
    "functions/jpeg_codec — canonical Huffman tables, zigzag RLE, DC "
    "prediction, byte stuffing, 8x8 DCT) decoded back by the same "
    "stdlib-only module into width/height/mean-pixel/byte-count. "
    "Payload pixels are constant per 8x8 block with quant=1, the one "
    "regime where a lossy codec is bit-exact, so the oracle predicts "
    "every decoded statistic independently from the block formula — a "
    "true codec correctness gate across encoder AND decoder. Same "
    "magic-dispatch feature extractor as mm_image_features "
    "(multimodal.decode_any_image).",
)
def q_mm_jpeg_features(spark, sf_dir):
    d = multimodal.generate_jpeg_payloads(_t(spark, sf_dir, "documents"))
    return multimodal.extract_image_features(d)


@register(
    "mm_resize",
    f"""
    WITH dims AS ({_MM_DIMS}),
    px AS (
      SELECT doc_id,
             (u.y * 8 + t.x) * 3 + v.c AS ord,
             (doc_id + 3 * ((t.x * w) // 8) + 5 * ((u.y * h) // 8)
              + 7 * v.c) % 256 AS val
      FROM dims,
           UNNEST(range(0, 8)) AS t(x),
           UNNEST(range(0, 8)) AS u(y),
           UNNEST(range(0, 3)) AS v(c)
    )
    SELECT doc_id,
           CAST(8 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height,
           string_agg(upper(lpad(to_hex(val), 2, '0')), '' ORDER BY ord)
             AS payload_hex
    FROM px GROUP BY doc_id
    """,
    doc="REAL image resize: decode the PNG payload, nearest-neighbor "
    "resample to 8x8 (src = (dst * src_dim) // 8 floor map), emit the raw "
    "pixel buffer (1:1 payload-transforming mapInPandas; binary out, so "
    "batches stay heavy — sized via Arrow batch config). Value-level "
    "oracle: every output pixel is predicted from the pixel formula "
    "composed with the same floor map and compared byte-for-byte as HEX "
    "(raw binary cells hash engine-unstably in pandas).",
)
def q_mm_resize(spark, sf_dir):
    d = multimodal.generate_png_payloads(_t(spark, sf_dir, "documents"))
    return multimodal.resize_images(d, target_w=8, target_h=8).select(
        "doc_id", "width", "height", F.hex("payload").alias("payload_hex")
    )


@register(
    "mm_audio_features",
    """
    WITH spec AS (
      SELECT doc_id, 50 + doc_id % 200 AS n,
             CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS rate
      FROM documents
    ),
    smp AS (
      SELECT doc_id, n, rate,
             abs((doc_id * 31 + t.i * 17) % 4096 - 2048) AS a
      FROM spec, UNNEST(range(0, n)) AS t(i)
    )
    SELECT doc_id,
           MIN(rate) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(MIN(n) AS BIGINT) AS n_frames,
           CAST(SUM(a) AS DOUBLE) / COUNT(*) AS mean_abs,
           CAST(MAX(a) AS INTEGER) AS peak_abs
    FROM smp GROUP BY doc_id
    """,
    doc="REAL audio decode via Arrow-batched mapInPandas: genuine RIFF/PCM "
    "WAV payloads (encoded executor-side from the deterministic sawtooth "
    "sample formula) decoded by functions/wav_codec (stdlib struct RIFF "
    "walk) into rate/channels/frames/mean-|amplitude|/peak. The oracle "
    "predicts every statistic independently from the sample formula — a "
    "codec correctness gate like mm_image_features, second modality.",
)
def q_mm_audio(spark, sf_dir):
    d = multimodal.generate_wav_payloads(_t(spark, sf_dir, "documents"))
    return multimodal.extract_audio_features(d)


@register(
    "mm_frame_sample",
    """
    WITH spec AS (
      SELECT doc_id,
             4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
             2 + doc_id % 5 AS nf
      FROM documents
    ),
    f AS (
      SELECT doc_id, w, h, nf, CAST(fv AS INTEGER) AS frame_no
      FROM spec, UNNEST(range(0, nf)) AS t(fv)
      WHERE fv % 2 = 0
    ),
    px AS (
      SELECT doc_id, w, h, nf, frame_no, CAST(i AS BIGINT) AS i
      FROM f, UNNEST(range(0, w * h)) AS t(i)
    )
    SELECT doc_id, frame_no,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST(MAX(nf) AS INTEGER) AS n_frames,
           CAST(SUM((doc_id * 7 + frame_no * 13 +  0 + i * 3) % 256)
                AS BIGINT) AS y_sum,
           CAST(SUM((doc_id * 7 + frame_no * 13 + 29 + i * 3) % 256)
                AS BIGINT) AS u_sum,
           CAST(SUM((doc_id * 7 + frame_no * 13 + 58 + i * 3) % 256)
                AS BIGINT) AS v_sum
    FROM px GROUP BY doc_id, frame_no
    """,
    doc="REAL video frame sampling: genuine YUV4MPEG2 payloads built "
    "executor-side (functions/y4m_codec.py — the standard uncompressed "
    "video interchange format, stdlib-only), parsed back by the real "
    "decoder, every 2nd frame kept, per-plane integer byte sums emitted "
    "(exact, < 2^53). The oracle predicts the decoded sums independently "
    "from the generator's plane formula — so a decode that misparses the "
    "header, plane order, or frame boundaries hash-mismatches. 1 payload "
    "row -> N frame rows, exploded executor-side (UDTF shape, never on "
    "the driver).",
)
def q_mm_frames(spark, sf_dir):
    d = multimodal.generate_y4m_payloads(_t(spark, sf_dir, "documents"))
    return multimodal.sample_frames(d, every_nth=2)


def _negatives_sql() -> str:
    b = O.md5_mod_sql("doc_id", "negs:b", 256)
    t = O.md5_mod_sql(
        "CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)", "negs:t", 256
    )
    return f"""
    WITH ids AS (SELECT doc_id FROM documents),
    reps AS (SELECT {b} AS bucket, MIN(doc_id) AS neg_id
             FROM ids GROUP BY 1),
    anchors AS (SELECT doc_id, unnest(generate_series(1, 4)) AS j FROM ids),
    t AS (SELECT doc_id, j, {t} AS bucket FROM anchors)
    SELECT t.doc_id, CAST(t.j AS BIGINT) AS j, r.neg_id
    FROM t JOIN reps r USING (bucket) WHERE r.neg_id <> t.doc_id
    """


@register(
    "sample_negatives",
    _negatives_sql(),
    doc="Deterministic contrastive negative sampling "
    "(operators/sampling.py:sample_negatives): up to k=4 pseudo-random "
    "non-matching ids per anchor from a 256-bucket representative pool — "
    "md5-bucket determinism (same recipe as hash_split) makes every "
    "retry/re-run/engine pair anchors with identical negatives. No "
    "global row_number (the single-partition trap); map-only draw + "
    "broadcast pool join.",
)
def q_negatives(spark, sf_dir):
    from bag_parser_spark.operators import sampling

    d = _t(spark, sf_dir, "documents")
    return sampling.sample_negatives(d, id_col="doc_id", k=4)


@register(
    "dedup_repeated_substrings",
    """
    WITH pos AS (
      SELECT d.doc_id,
             substr(d.text, CAST(s.g AS INT), 40) AS w
      FROM documents d
      JOIN (SELECT unnest(range(1, 4097)) AS g) s
        ON s.g <= length(d.text) - 39
    ),
    wd AS (
      SELECT w, doc_id, COUNT(*) AS c FROM pos GROUP BY w, doc_id
    ),
    shared AS (SELECT w FROM wd GROUP BY w HAVING COUNT(*) >= 2)
    SELECT wd.doc_id,
           CAST(SUM(wd.c) AS BIGINT) AS shared_positions,
           COUNT(*) AS distinct_shared_windows
    FROM wd JOIN shared USING (w)
    GROUP BY wd.doc_id
    """,
    doc="Exact repeated-substring dedup (operators/dedup.py::"
    "repeated_substring_stats): per-doc counts of 40-char windows that "
    "occur verbatim in >= 2 documents — the passage-level contamination "
    "MinHash/Jaccard whole-doc scoring misses. One explode (bounded by "
    "the 4096-position cap, same cap in the oracle), one (window,doc) "
    "combine shuffle, one window shuffle; no all-pairs doc join; exact "
    "literal-text grouping (hash-free).",
)
def q_dedup_repeated_substrings(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.repeated_substring_stats(d, window=40, stride=1)


@register(
    "split_leakage_safe",
    f"""
    WITH RECURSIVE corpus AS ({_CORPUS_SQL}),
    sig AS (SELECT doc_id AS id, {_mh_sig} AS sig FROM corpus),
    bands AS ({_mh_bands}),
    p AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION
      SELECT id_b AS src, id_a AS dst FROM p
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.lbl
    ),
    comp AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id
             FROM reach GROUP BY id),
    rep AS (
      SELECT c.doc_id, COALESCE(mp.cluster_id, c.doc_id) AS rep
      FROM corpus c LEFT JOIN comp mp ON mp.doc_id = c.doc_id
    )
    SELECT doc_id, {_split_case_sql("rep")} AS split
    FROM rep
    """,
    doc="Leakage-safe train/val/test split: a document's bucket is hashed "
    "from its near-dup CLUSTER representative (MinHash+LSH pairs -> "
    "connected components -> min-id rep; singletons represent "
    "themselves), so an entire duplicate cluster always lands on one "
    "side of the split. The plain hash split (split_train_test) leaks "
    "here: two near-identical docs hash independently and can straddle "
    "train/test, inflating eval. Scale shape: the LSH+CC machinery is "
    "the bucketed/pointer-doubling path already used by dedup_clusters "
    "(never all-pairs), and the final assignment is a map-only hash on "
    "the rep — adding the guarantee costs no new shuffle beyond "
    "clustering itself.",
)
def q_split_leakage_safe(spark, sf_dir):
    from bag_parser_spark.operators import sampling

    corpus = _corpus(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        corpus,
        id_col="doc_id",
        text_col="text",
        shingle_n=_MH_N,
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
    )
    comp = dedup.dup_clusters(pairs, out_id="doc_id")
    rep = (
        corpus.select("doc_id")
        .join(comp.select("doc_id", "cluster_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("rep"),
        )
    )
    return sampling.hash_split(
        rep, id_col="rep", splits=_SPLITS, seed=_SPLIT_SEED
    ).select("doc_id", "split")


_BPE_TOPK = 30


@register(
    "text_bpe_pair_counts",
    f"""
    WITH wf AS (
      SELECT token AS w, COUNT(*) AS f
      FROM (SELECT unnest({O.words_sql('lower(text)')}) AS token
            FROM documents)
      GROUP BY token
    ),
    pairs AS (
      SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, f
      FROM (SELECT w, f, unnest(range(1, length(w))) AS i FROM wf)
    ),
    pc AS (
      SELECT pair, CAST(SUM(f) AS BIGINT) AS pair_count
      FROM pairs GROUP BY pair
    )
    SELECT pair, pair_count, rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS rank
      FROM pc
    ) WHERE rank <= {_BPE_TOPK}
    """,
    doc="BPE tokenizer-training statistics: corpus-weighted adjacent "
    "char-pair counts (the argmax of the first BPE merge). The corpus "
    "collapses to the word-frequency table before the char explode, so "
    "the quadratic-ish pair expansion runs over the Zipf-bounded vocab, "
    "not the token stream; top-k is a TakeOrderedAndProject heap.",
)
def q_bpe_pairs(spark, sf_dir):
    return text.bpe_pair_counts(
        _t(spark, sf_dir, "documents"), text_col="text", top_k=_BPE_TOPK
    )


_BPE_MERGE_TOPK = 20


@register(
    "text_bpe_merge_step",
    f"""
    WITH wf AS (
      SELECT replace(token, chr(31), '') AS w, COUNT(*) AS f
      FROM (SELECT unnest({O.words_sql('lower(text)')}) AS token
            FROM documents)
      GROUP BY token
    ),
    pairs0 AS (
      SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, f
      FROM (SELECT w, f, unnest(range(1, length(w))) AS i FROM wf)
    ),
    top1 AS (
      SELECT substring(pair, 1, 1) AS x, substring(pair, 2, 1) AS y
      FROM (
        SELECT pair, SUM(f) AS c FROM pairs0 GROUP BY pair
        ORDER BY c DESC, pair LIMIT 1
      )
    ),
    merged AS (
      SELECT f,
             replace(
               chr(31) || array_to_string(
                 list_transform(range(1, length(w) + 1),
                                i -> substring(w, CAST(i AS INTEGER), 1)),
                 chr(31) || chr(31)) || chr(31),
               chr(31) || t.x || chr(31) || chr(31) || t.y || chr(31),
               chr(31) || t.x || t.y || chr(31)) AS m
      FROM wf, top1 t
    ),
    syms AS (
      SELECT f,
             string_split(substring(m, 2, length(m) - 2),
                          chr(31) || chr(31)) AS a
      FROM merged
    ),
    p AS (
      SELECT a[CAST(i AS INTEGER)] AS pair_a,
             a[CAST(i + 1 AS INTEGER)] AS pair_b, f
      FROM (SELECT a, f, unnest(range(1, len(a))) AS i FROM syms)
    ),
    pc AS (
      SELECT pair_a, pair_b, CAST(SUM(f) AS BIGINT) AS pair_count
      FROM p GROUP BY pair_a, pair_b
    )
    SELECT pair_a, pair_b, pair_count, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY pair_count DESC, pair_a, pair_b) AS rank
      FROM pc
    ) WHERE rank <= {_BPE_MERGE_TOPK}
    """,
    doc="One FULL BPE tokenizer-training iteration: count adjacent "
    "symbol pairs, pick the argmax merge (count desc, pair asc), APPLY "
    "it to every word's symbol sequence, and emit the post-merge pair "
    "counts — the input of iteration 2; training is this step in a "
    "loop. The greedy non-overlapping merge is a boundary-safe LITERAL "
    "replace over delimiter-wrapped symbols (literal replace is greedy-left in "
    "every engine), so the whole iteration is UDF-free and bit-"
    "reproducible. Runs over the Zipf-bounded word-frequency table, "
    "never the token stream; the argmax is a 1-row broadcast.",
)
def q_text_bpe_merge_step(spark, sf_dir):
    return text.bpe_merge_step(
        _t(spark, sf_dir, "documents"),
        text_col="text",
        top_k=_BPE_MERGE_TOPK,
    )


_BPE_ENC_MERGES = 12


@register(
    "text_bpe_encode",
    f"""
    WITH wf AS (
      SELECT replace(token, chr(31), '') AS w, COUNT(*) AS f
      FROM (SELECT unnest({O.words_sql('lower(text)')}) AS token
            FROM documents)
      GROUP BY token
    ),
    pairs0 AS (
      SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, f
      FROM (SELECT w, f, unnest(range(1, length(w))) AS i FROM wf)
    ),
    merges AS (
      SELECT pair, ROW_NUMBER() OVER (ORDER BY c DESC, pair) AS r
      FROM (SELECT pair, SUM(f) AS c FROM pairs0 GROUP BY pair
            ORDER BY c DESC, pair LIMIT {_BPE_ENC_MERGES})
    ),
    mlist AS (SELECT list(pair ORDER BY r) AS ms FROM merges),
    vocab AS (SELECT DISTINCT w FROM wf),
    enc AS (
      SELECT w,
             list_reduce(
               list_prepend(
                 chr(31) || array_to_string(
                   list_transform(range(1, length(w) + 1),
                                  i -> substring(w, CAST(i AS INTEGER), 1)),
                   chr(31) || chr(31)) || chr(31),
                 m.ms),
               (acc, p) -> replace(
                 acc,
                 chr(31) || substring(p, 1, 1) || chr(31) || chr(31)
                         || substring(p, 2, 1) || chr(31),
                 chr(31) || p || chr(31))) AS m2
      FROM vocab, mlist m
    ),
    nsym AS (
      SELECT w,
             CASE WHEN length(w) >= 1
                  THEN len(string_split(substring(m2, 2, length(m2) - 2),
                                        chr(31) || chr(31)))
                  ELSE 0 END AS n_syms
      FROM enc
    ),
    docw AS (
      SELECT doc_id, replace(token, chr(31), '') AS w
      FROM (SELECT doc_id, unnest({O.words_sql('lower(text)')}) AS token
            FROM documents)
    )
    SELECT doc_id, COUNT(*) AS n_words,
           CAST(SUM(n.n_syms) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(length(d.w)) AS BIGINT) AS n_chars
    FROM docw d JOIN nsym n USING (w)
    GROUP BY doc_id
    """,
    doc="BPE tokenizer APPLICATION (operators/text.py:bpe_encode) — the "
    "serving twin of text_bpe_merge_step: an ordered merge list (top-12 "
    "initial pair counts standing in for a trained table) applied to "
    "every document via ONE relational fold over delimiter-wrapped "
    "symbols, zero UDFs, bit-reproducible greedy-left merges in both "
    "engines. Merges apply to DISTINCT words (Zipf-bounded vocab), "
    "never per occurrence; per-doc counts come from the (doc, word) "
    "equi-join against the encoded vocab. Output: post-merge token "
    "counts per doc with word/char totals as exactness anchors.",
)
def q_text_bpe_encode(spark, sf_dir):
    return text.bpe_encode(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        num_merges=_BPE_ENC_MERGES,
    )


_BPE_TRAIN_ITERS = 4


def _bpe_train_sql(iters: int) -> str:
    """CTE chain mirroring text.bpe_train: iteration k's state s{k} is
    the delimiter-wrapped symbol table after k merges; t{k} is its
    argmax merge. Generated per iteration — the chain IS the loop."""
    parts = [f"""
    WITH wf AS (
      SELECT replace(token, chr(31), '') AS w, COUNT(*) AS f
      FROM (SELECT unnest({O.words_sql('lower(text)')}) AS token
            FROM documents)
      GROUP BY token
    ),
    s0 AS (
      SELECT f,
             chr(31) || array_to_string(
               list_transform(range(1, length(w) + 1),
                              i -> substring(w, CAST(i AS INTEGER), 1)),
               chr(31) || chr(31)) || chr(31) AS s
      FROM wf
    )"""]
    for k in range(iters):
        parts.append(f""",
    a{k} AS (
      SELECT f, string_split(substring(s, 2, length(s) - 2),
                             chr(31) || chr(31)) AS a
      FROM s{k}
    ),
    p{k} AS (
      SELECT a[CAST(i AS INTEGER)] AS pair_a,
             a[CAST(i + 1 AS INTEGER)] AS pair_b, f
      FROM (SELECT a, f, unnest(range(1, len(a))) AS i FROM a{k})
    ),
    t{k} AS (
      SELECT pair_a, pair_b, CAST(SUM(f) AS BIGINT) AS pair_count
      FROM p{k} GROUP BY pair_a, pair_b
      ORDER BY pair_count DESC, pair_a, pair_b LIMIT 1
    ),
    s{k + 1} AS (
      SELECT f, replace(s, chr(31) || t.pair_a || chr(31) || chr(31)
                           || t.pair_b || chr(31),
                        chr(31) || t.pair_a || t.pair_b || chr(31)) AS s
      FROM s{k}, t{k} t
    )""")
    sel = "\n    UNION ALL\n    ".join(
        f"SELECT {k + 1} AS step, pair_a, pair_b, pair_count FROM t{k}"
        for k in range(iters)
    )
    return "".join(parts) + "\n    " + sel


@register(
    "text_bpe_train",
    _bpe_train_sql(_BPE_TRAIN_ITERS),
    doc="FULL BPE tokenizer training, 4 iterations "
    "(operators/text.py:bpe_train): count symbol pairs over the "
    "word-frequency table, elect the argmax merge, APPLY it, repeat — "
    "the output is the trained artifact itself, the ordered merge table "
    "bpe_encode consumes. State between iterations is the Zipf-bounded "
    "vocab (persisted per iteration so the loop is O(k), never the "
    "token stream); each iteration is one map-side-combined pair "
    "groupBy plus a 1-row broadcast argmax. The oracle generates the "
    "same loop as a CTE chain — training is oracle-exact end to end, "
    "not just one step.",
)
def q_text_bpe_train(spark, sf_dir):
    return text.bpe_train(
        _t(spark, sf_dir, "documents"),
        text_col="text",
        num_iters=_BPE_TRAIN_ITERS,
    )


@register(
    "ml_pca_power_step",
    """
    WITH q AS (
      SELECT vec_id, i,
             CAST(round(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT) AS q
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ),
    inner_r AS (
      SELECT vec_id, CAST(SUM(q) AS BIGINT) AS inner_v
      FROM q GROUP BY vec_id
    ),
    s AS (
      SELECT q.i, CAST(SUM(q.q * ir.inner_v) AS BIGINT) AS s
      FROM q JOIN inner_r ir USING (vec_id)
      GROUP BY q.i
    ),
    m AS (SELECT MAX(abs(s)) AS m FROM s)
    SELECT CAST(i AS BIGINT) AS i, s,
           round(CAST(s AS DOUBLE) / CAST(m.m AS DOUBLE), 6) AS direction
    FROM s, m
    """,
    doc="One exact distributed power-iteration step toward the top "
    "(uncentered) principal direction: s = A'(A*1) over 2^20 fixed-point "
    "components — integer matvec per row (map-side row sum), integer "
    "outer aggregation per dimension, a single IEEE division for the "
    "normalized direction. Zero float accumulation, so the step is "
    "bit-identical across engines and partitionings; iterate by feeding "
    "the direction back as the next start vector.",
)
def q_pca_power(spark, sf_dir):
    from bag_parser_spark.operators.clustering import pca_power_step

    return pca_power_step(
        _t(spark, sf_dir, "embeddings"), id_col="vec_id", vec_col="embedding"
    )


@register(
    "mm_image_ahash",
    f"""
    WITH dims AS ({_MM_DIMS}),
    luma AS (
      SELECT doc_id, u.y * 8 + t.x AS i,
             ((doc_id + 3 * ((t.x * w) // 8) + 5 * ((u.y * h) // 8)) % 256)
           + ((doc_id + 3 * ((t.x * w) // 8) + 5 * ((u.y * h) // 8) + 7)
              % 256)
           + ((doc_id + 3 * ((t.x * w) // 8) + 5 * ((u.y * h) // 8) + 14)
              % 256) AS l
      FROM dims, UNNEST(range(0, 8)) AS t(x), UNNEST(range(0, 8)) AS u(y)
    ),
    tot AS (SELECT doc_id, CAST(SUM(l) AS BIGINT) AS total FROM luma
            GROUP BY doc_id),
    bits AS (
      SELECT luma.doc_id, luma.i,
             CASE WHEN 64 * luma.l > tot.total THEN 1 ELSE 0 END AS b
      FROM luma JOIN tot ON tot.doc_id = luma.doc_id
    )
    SELECT doc_id,
           lower(lpad(to_hex(CAST(SUM(CASE WHEN i < 32
                     THEN b * power(2, 31 - i) ELSE 0 END) AS BIGINT)),
                 8, '0'))
           || lower(lpad(to_hex(CAST(SUM(CASE WHEN i >= 32
                     THEN b * power(2, 63 - i) ELSE 0 END) AS BIGINT)),
                 8, '0')) AS ahash,
           CAST(SUM(b) AS INTEGER) AS n_ones
    FROM bits GROUP BY doc_id
    """,
    doc="Perceptual average-hash over REAL decoded PNGs: 8x8 thumbnail "
    "(same floor map as mm_resize), integer luma, bit set iff 64*luma > "
    "total (cross-multiplied mean test — no division, no float), 64-bit "
    "hex hash + popcount. The oracle predicts every bit from the pixel "
    "formula composed with the resize map, so a decode/resize/threshold "
    "bug anywhere flips hash bits and the gate fails. This is the "
    "multimodal dedup key: near-identical images differ in a few bits "
    "and feed the same bucketed near-dup joins as the text family.",
)
def q_mm_ahash(spark, sf_dir):
    d = multimodal.generate_png_payloads(_t(spark, sf_dir, "documents"))
    return multimodal.image_ahash(d)


_RES_K, _RES_SEED = 50, 0


@register(
    "sample_weighted_reservoir",
    f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             round(power(
               ({O.md5_mod_sql('doc_id', _RES_SEED)} + 0.5) / 10000.0,
               1.0 / CAST(n_chars AS DOUBLE)), 9) AS sample_key
      FROM documents
    )
    SELECT doc_id, n_chars, sample_key
    FROM keyed
    ORDER BY sample_key DESC, doc_id ASC
    LIMIT {_RES_K}
    """,
    doc="Deterministic weighted sampling WITHOUT replacement (A-Res): "
    "key = u^(1/weight) from a hash-derived uniform, keep the k largest "
    "— inclusion proportional to n_chars, exact sample size, and the "
    "draw is a pure function of (seed, id, weight), so it reproduces "
    "across runs/partitionings/engines where rand()-reservoirs shift "
    "with layout. Keys round to 9 (pow is the one libm call); top-k is "
    "a TakeOrderedAndProject heap.",
)
def q_weighted_reservoir(spark, sf_dir):
    from bag_parser_spark.operators import sampling

    return sampling.weighted_reservoir_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        id_col="doc_id",
        weight_col="n_chars",
        k=_RES_K,
        seed=_RES_SEED,
    )


_AH_BANDS = 4  # 4 bands x 4 hex chars (16 bits) over the 64-bit aHash
_AH_MAX_HAMMING = 2


def _nib_pop_sql(a: str, b: str, i: str) -> str:
    """Portable nibble-XOR popcount: hex digit value via instr, popcount
    via div/mod arithmetic — no engine-specific bit builtins."""
    va = f"(instr('0123456789abcdef', substring({a}, {i}, 1)) - 1)"
    vb = f"(instr('0123456789abcdef', substring({b}, {i}, 1)) - 1)"
    x = f"__XOR__"
    pop = f"(({x}) % 2 + (({x}) // 2) % 2 + (({x}) // 4) % 2 + (({x}) // 8) % 2)"
    # nibble XOR via arithmetic: bitwise ops differ across engines, but
    # xor = a + b - 2*and, and per-bit and = (a//k%2)*(b//k%2)*k
    land = " + ".join(
        f"(({va}) // {k} % 2) * (({vb}) // {k} % 2) * {k}" for k in (1, 2, 4, 8)
    )
    return pop.replace(x, f"{va} + {vb} - 2 * ({land})")


def _ahash_hamming_sql(a: str, b: str) -> str:
    return "CAST(" + " + ".join(
        _nib_pop_sql(a, b, str(i + 1)) for i in range(16)
    ) + " AS BIGINT)"


def _mm_neardup_oracle_sql() -> str:
    # bits for both variants: variant 1 perturbs src pixel (0,0)'s red
    # channel by +1 (mod 256); thumb (x,y) reads src ((x*w)//8,(y*h)//8)
    red = "(doc_id + 3 * ((t.x * w) // 8) + 5 * ((u.y * h) // 8)) % 256"
    lum = (
        f"(CASE WHEN v.v = 1 AND (t.x * w) // 8 = 0 AND (u.y * h) // 8 = 0 "
        f"THEN ({red} + 1) % 256 ELSE {red} END) "
        f"+ ((doc_id + 3 * ((t.x * w) // 8) + 5 * ((u.y * h) // 8) + 7) % 256) "
        f"+ ((doc_id + 3 * ((t.x * w) // 8) + 5 * ((u.y * h) // 8) + 14) % 256)"
    )
    hx = (
        "lower(lpad(to_hex(CAST(SUM(CASE WHEN i < 32 "
        "THEN b * power(2, 31 - i) ELSE 0 END) AS BIGINT)), 8, '0')) || "
        "lower(lpad(to_hex(CAST(SUM(CASE WHEN i >= 32 "
        "THEN b * power(2, 63 - i) ELSE 0 END) AS BIGINT)), 8, '0'))"
    )
    bands = " UNION ALL ".join(
        f"SELECT id, {t} AS band, substring(ahash, {t * 4 + 1}, 4) AS bucket "
        "FROM hashes"
        for t in range(_AH_BANDS)
    )
    return f"""
    WITH dims AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
                  FROM documents),
    luma AS (
      SELECT CASE WHEN v.v = 1 THEN doc_id + 1000000 ELSE doc_id END AS id,
             u.y * 8 + t.x AS i, {lum} AS l
      FROM dims, UNNEST(range(0, 8)) AS t(x), UNNEST(range(0, 8)) AS u(y),
           UNNEST(range(0, 2)) AS v(v)
    ),
    tot AS (SELECT id, CAST(SUM(l) AS BIGINT) AS total FROM luma
            GROUP BY id),
    bits AS (
      SELECT luma.id, luma.i,
             CASE WHEN 64 * luma.l > tot.total THEN 1 ELSE 0 END AS b
      FROM luma JOIN tot ON tot.id = luma.id
    ),
    hashes AS (SELECT id, {hx} AS ahash FROM bits GROUP BY id),
    bands AS ({bands}),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    )
    SELECT c.id_a, c.id_b,
           {_ahash_hamming_sql('ha.ahash', 'hb.ahash')} AS hamming
    FROM cand c
    JOIN hashes ha ON ha.id = c.id_a
    JOIN hashes hb ON hb.id = c.id_b
    WHERE {_ahash_hamming_sql('ha.ahash', 'hb.ahash')} <= {_AH_MAX_HAMMING}
    """


@register(
    "mm_image_neardup",
    _mm_neardup_oracle_sql(),
    doc="END-TO-END multimodal near-dup: real PNG corpus (each image plus "
    "a one-pixel-perturbed copy), real decode → aHash, 4-band blocking "
    "over the 64-bit hash (a ≤2-bit difference leaves ≥2 of 4 bands "
    "intact — the same banded-LSH guarantee as MinHash), exact nibble-"
    "arithmetic hamming refine ≤2. The search runs over DISTINCT hash "
    "values, not images: duplicate classes are hamming-0 by definition, "
    "so banding/refine cost collapses from #images² to #distinct-hashes² "
    "per bucket, cross-class doc pairs re-expand through two member "
    "joins (distributing by hash key), and within-class all-pairs "
    "expand through a SALTED self-join — without the salt, one giant "
    "hamming-0 class (aHash is brightness-shift invariant, so synthetic "
    "replicas collapse) lands its entire quadratic expansion in a "
    "single task (observed wedged at 10x scale, r5 probe). Shuffles "
    "carry (band, 4-hex bucket) and (hash, id) — never pixels. The "
    "oracle recomputes every hash bit from the pixel formula "
    "(perturbation included), so decode, resize, threshold, banding, "
    "and hamming are ALL value-checked; its simpler all-images join is "
    "set-identical because bands are functions of the hash alone.",
)
def q_mm_neardup(spark, sf_dir):
    corpus = multimodal.generate_png_payloads_perturbed(
        _t(spark, sf_dir, "documents")
    )
    hashes = (
        multimodal.image_ahash(corpus)
        .withColumnRenamed("doc_id", "id")
        .select("id", "ahash")
        .persist()
    )
    distinct_h = hashes.select("ahash").distinct().persist()
    bands = distinct_h.select(
        "ahash",
        F.posexplode(
            F.array(
                *[
                    F.substring("ahash", t * 4 + 1, 4)
                    for t in range(_AH_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = bands.select("band", "bucket", F.col("ahash").alias("__ha__"))
    b = bands.select(
        F.col("band").alias("__b2__"),
        F.col("bucket").alias("__k2__"),
        F.col("ahash").alias("__hb__"),
    )
    cand_h = (
        a.join(
            b,
            (F.col("band") == F.col("__b2__"))
            & (F.col("bucket") == F.col("__k2__"))
            & (F.col("__ha__") < F.col("__hb__")),
        )
        .select("__ha__", "__hb__")
        .distinct()
    )

    def hamming(ca, cb):
        # JVM bit builtins, NOT the oracle's nibble-arithmetic XOR
        # emulation (r11, VERDICT r10 #6): the arithmetic form — 16
        # nibbles x a popcount whose XOR operand is textually
        # substituted 4x, each re-deriving both hex digits — expands to
        # a ~600-node tree that Janino cannot compile inside the
        # broadcast join's doConsume (InternalCompilerException at
        # ~20k generated lines -> whole-stage fallback to interpreted
        # for the refine stage, the one codegen ERROR in every bench
        # run since r6). Only the DuckDB oracle needs the portable
        # arithmetic (_ahash_hamming_sql keeps it); Spark-side the
        # 64-bit hamming is two conv/xor/bit_count triples — identical
        # values (popcount of XOR is the definition), pinned by the
        # value-level oracle and a dedicated equivalence test.
        def half(col, start):
            return F.conv(F.substring(col, start, 8), 16, 10).cast("long")

        return (
            F.bit_count(half(ca, 1).bitwiseXOR(half(cb, 1)))
            + F.bit_count(half(ca, 9).bitwiseXOR(half(cb, 9)))
        ).cast("long")

    near_h = cand_h.withColumn(
        "hamming", hamming(F.col("__ha__"), F.col("__hb__"))
    ).filter(F.col("hamming") <= _AH_MAX_HAMMING)
    # cross-class doc pairs: re-attach members; ha != hb so each
    # unordered doc pair appears exactly once, normalized by least/greatest
    ma = hashes.select(F.col("ahash").alias("__ha__"), F.col("id").alias("__ida__"))
    mb = hashes.select(F.col("ahash").alias("__hb__"), F.col("id").alias("__idb__"))
    cross = (
        near_h.join(ma, "__ha__")
        .join(mb, "__hb__")
        .select(
            F.least("__ida__", "__idb__").alias("id_a"),
            F.greatest("__ida__", "__idb__").alias("id_b"),
            "hamming",
        )
    )
    # within-class pairs (hamming 0): salted self-join so a giant
    # equivalence class spreads its quadratic output over _WITHIN_SALT
    # reducers instead of one
    _WITHIN_SALT = 32
    left = hashes.select(
        "ahash",
        F.col("id").alias("id_a"),
        F.explode(
            F.sequence(F.lit(0), F.lit(_WITHIN_SALT - 1))
        ).alias("__salt__"),
    )
    right = hashes.select(
        F.col("ahash").alias("__h2__"),
        F.col("id").alias("id_b"),
        F.pmod(F.xxhash64("id"), F.lit(_WITHIN_SALT)).alias("__salt2__"),
    )
    within = left.join(
        right,
        (F.col("ahash") == F.col("__h2__"))
        & (F.col("__salt__") == F.col("__salt2__"))
        & (F.col("id_a") < F.col("id_b")),
    ).select("id_a", "id_b", F.lit(0).cast("long").alias("hamming"))
    return cross.unionAll(within)


# ---------------------------------------------------------------------------
# sample_token_budget — token-budget data mixing (r7 late: the form real
# mixture specs use — "N tokens of source X" — beside sample_mixture's
# doc-percent form)
# ---------------------------------------------------------------------------

# Budgets chosen against the fixture's ~1.1-1.5k tokens/source at
# sf0.01: a mid-source cut, an exact-total edge, a tiny budget, an
# over-total budget (keeps the whole source), and 16 absent sources
# (dropped) — every rule branch populated.
_TOKBUDGETS = {"src0": 700, "src1": 1540, "src2": 100, "src3": 5000}
_TOKBUDGET_SEED = "tokbudget"

_TOKBUDGET_CASE = "CASE source " + " ".join(
    f"WHEN '{s}' THEN {b}" for s, b in _TOKBUDGETS.items()
) + " END"


@register(
    "sample_token_budget",
    f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len({O.words_sql('text')}) AS BIGINT) AS n_tokens,
             md5('{_TOKBUDGET_SEED}:' || CAST(doc_id AS STRING)) AS h,
             {_TOKBUDGET_CASE} AS budget
      FROM documents
    ),
    cum AS (
      SELECT *, SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY h ASC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM toks WHERE budget IS NOT NULL
    )
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM cum WHERE cum_tokens <= budget
    """,
    doc="Token-budget data mixing ('N tokens of source X' — how real "
    "mixture specs are written): per source, draw docs in the seeded "
    "md5 fair order and keep while the running token total stays "
    "within budget (boundary-crossing docs drop; integer arithmetic). "
    "Scale shape: a plain per-source cumsum window holds a whole "
    "source in ONE task and — unlike the rank-limit windows "
    "WindowGroupLimit saves — nothing bounds it, so the operator runs "
    "the exact distributed prefix sum instead: ordered 2-hex-char "
    "hash-prefix buckets, per-(source,bucket) token totals (tiny "
    "aggregate), running bucket offsets on that side only, broadcast "
    "back + within-bucket cumsum — identical output to the naive "
    "window (the oracle states it that way), every big partition "
    "~1/256 of one source.",
)
def q_sample_token_budget(spark, sf_dir):
    from bag_parser_spark.operators import sampling

    return sampling.token_budget_sample(
        _t(spark, sf_dir, "documents"),
        budgets=_TOKBUDGETS,
        seed=_TOKBUDGET_SEED,
    ).select("doc_id", "source", "n_tokens", "cum_tokens")


# ---------------------------------------------------------------------------
# sample_pack_bins — whole-document bin packing (r11: the NO-SPLIT
# complement of pack_sequences' concatenate-then-chunk — SFT corpora pack
# whole examples and pad, never straddle)
# ---------------------------------------------------------------------------

_PACK_CTX = 96  # fixture tokens run 10..99: classes 16..64 (cap 6..1),
#                the >64 clamp-to-1 class AND the >96 oversize branch all
#                populate at sf0.01
_PACK_SHARDS = 4
_PACK_SHARD_SEED = "packshard"


def _pack_bins_oracle_sql() -> str:
    ladder = " ".join(
        f"WHEN n <= {2 ** p} THEN {2 ** p}" for p in range(0, 32)
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             GREATEST(CAST(len({O.words_sql('text')}) AS BIGINT), 1) AS n
      FROM documents
    ),
    s AS (
      SELECT doc_id, n,
             {O.md5_mod_sql('doc_id', _PACK_SHARD_SEED, _PACK_SHARDS)}
               AS shard,
             CAST(CASE {ladder} ELSE {2 ** 62} END AS BIGINT) AS len_class
      FROM t
    ),
    c AS (
      SELECT *,
             GREATEST(CAST(FLOOR({_PACK_CTX} / len_class) AS BIGINT),
                      1) AS bin_cap,
             ROW_NUMBER() OVER (
               PARTITION BY len_class, shard ORDER BY n DESC, doc_id ASC
             ) - 1 AS rn
      FROM s
    )
    SELECT doc_id, n AS n_tokens, CAST(shard AS BIGINT) AS shard,
           len_class, bin_cap,
           CAST(FLOOR(rn / bin_cap) AS BIGINT) AS bin_no,
           CAST(rn % bin_cap AS BIGINT) AS slot,
           n > {_PACK_CTX} AS oversize
    FROM c
    """


@register(
    "sample_pack_bins",
    _pack_bins_oracle_sql(),
    doc="Whole-document bin packing into fixed 96-token contexts "
    "(sampling.pack_bins_bucketed): power-of-two length classes via an "
    "integer-exact CASE ladder (float log2 rounds 2^k boundaries both "
    "ways across engines), then one row_number divmod per (class, "
    "shard) cell deals docs into bins of floor(ctx/class) slots — "
    "capacity guaranteed by construction, >ctx/2 docs clamp to "
    "1-per-bin (the guaranteed-fit bound), >ctx docs flagged oversize "
    "in a bin of their own. Layout is a deterministic function of "
    "(class, shard, order) — partitioning-independent, so the oracle "
    "recomputes every assignment exactly. Scale: ONE shuffle keyed "
    "(len_class, shard); the md5 shard key spreads the dominant "
    "length class (the real skew axis) across tasks by construction.",
)
def q_sample_pack_bins(spark, sf_dir):
    from bag_parser_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.pack_bins_bucketed(
        docs,
        id_col="doc_id",
        token_count=F.size(F.split(F.trim(F.col("text")), r"\s+")),
        ctx_len=_PACK_CTX,
        shard_col=sampling.md5_mod(
            F.col("doc_id"), _PACK_SHARD_SEED, _PACK_SHARDS
        ),
    )


# ---------------------------------------------------------------------------
# sample_dsir — DSIR importance resampling (r8: the data-SELECTION half of
# the mixing family — choose raw docs that LOOK like a target corpus,
# arXiv:2302.03169; complements sample_token_budget's budget half)
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 512
_DSIR_SEED = "dsir"
_DSIR_K = 60


@register(
    "sample_dsir",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    feats AS (
      SELECT doc_id, lang, b.pos AS pos, b.f AS f FROM (
        SELECT doc_id, lang,
               unnest(list_concat(
                 list_transform(t, (x, i) -> struct_pack(pos := i, f := x)),
                 list_transform(t[1:len(t)-1], (x, i) ->
                   struct_pack(pos := len(t) + i, f := x || ' ' || t[i+1]))
               )) AS b
        FROM toks) u
    ),
    fbocc AS (
      SELECT doc_id, lang,
             {O.md5_mod_sql('f', _DSIR_SEED, _DSIR_BUCKETS)} AS bucket
      FROM feats
    ),
    fb AS (
      SELECT doc_id, bucket, COUNT(*) AS n FROM fbocc GROUP BY 1, 2
    ),
    rc AS (SELECT bucket, SUM(n) AS rc FROM fb GROUP BY 1),
    tc AS (SELECT bucket, COUNT(*) AS tc FROM fbocc WHERE lang = 'en'
           GROUP BY 1),
    jt AS (
      SELECT COALESCE(rc.bucket, tc.bucket) AS bucket, rc.rc,
             COALESCE(tc.tc, 0) AS tc,
             SUM(COALESCE(rc.rc, 0)) OVER () AS total_r,
             SUM(COALESCE(tc.tc, 0)) OVER () AS total_t
      FROM rc FULL JOIN tc ON rc.bucket = tc.bucket
    ),
    lam AS (
      SELECT bucket,
             ln(tc + 1.0) - ln(total_t + {_DSIR_BUCKETS}.0)
             - ln(rc + 1.0) + ln(total_r + {_DSIR_BUCKETS}.0) AS lam
      FROM jt WHERE rc IS NOT NULL
    ),
    s AS (
      SELECT fb.doc_id, CAST(SUM(fb.n) AS BIGINT) AS n_feats,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(CAST(fb.n AS DOUBLE) * lam.lam ORDER BY fb.bucket)),
               (a, b) -> a + b) AS logw
      FROM fb JOIN lam ON fb.bucket = lam.bucket
      GROUP BY fb.doc_id
    ),
    keyed AS (
      SELECT doc_id, n_feats, logw,
             logw + (-ln(-ln(
               ({O.md5_mod_sql('doc_id', _DSIR_SEED + ':g')} + 0.5)
               / 10000.0))) AS skey
      FROM s
    )
    SELECT doc_id, n_feats, round(logw, 6) AS dsir_logw,
           round(skey, 6) AS sample_key
    FROM keyed
    ORDER BY round(skey, 6) DESC, doc_id ASC
    LIMIT {_DSIR_K}
    """,
    doc="DSIR importance resampling (Xie et al. 2023): hashed "
    "unigram+bigram buckets (portable md5 nibble fold), add-one-"
    "smoothed target ('en' docs as the target-corpus proxy) vs raw "
    "bucket distributions, per-doc importance log-weight as a "
    "position-ordered float fold (engine-independent addition order), "
    "and Gumbel-top-k on log w + g — sampling WITHOUT replacement "
    "proportional to w, deterministic because the Gumbel uniform is a "
    "hash of (seed, id). Scale shape: the map-side feature stream "
    "collapses IMMEDIATELY to per-(doc, bucket) counts (every doc <= "
    "512 rows after the map-side combine, however long it is); the "
    "raw distribution derives from that persisted relation (one "
    "corpus explode total); the log-ratio table BROADCASTS back; the "
    "per-doc fold sums n*lam in BUCKET order (<= 512 terms, same "
    "addition sequence on every engine/partitioning); top-k is "
    "TakeOrderedAndProject (per-task heaps, no global sort). ln() "
    "rounds to 6 (libm last-ulp rule).",
)
def q_sample_dsir(spark, sf_dir):
    from bag_parser_spark.operators import sampling

    d = _t(spark, sf_dir, "documents").withColumn(
        "__is_tgt__", F.col("lang") == "en"
    )
    scored = sampling.dsir_logweights(
        d,
        target_flag="__is_tgt__",
        n_buckets=_DSIR_BUCKETS,
        seed=_DSIR_SEED,
    )
    key = F.round(F.col("sample_key"), 6)
    return (
        scored.select(
            "doc_id",
            "n_feats",
            F.round("dsir_logw", 6).alias("dsir_logw"),
            key.alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), F.col("doc_id").asc())
        .limit(_DSIR_K)
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS) — guaranteed-overlap near-dup pairs
# ---------------------------------------------------------------------------

_WN_K, _WN_W, _WN_MIN_SHARED, _WN_MAX_DF = 4, 4, 2, 8
_WN_GRAM = " || ' ' || ".join(f"ws[i+{j + 1}]" for j in range(_WN_K))


@register(
    "dedup_winnowing",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    t AS (
      SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS ws
      FROM corpus
    ),
    g AS (
      SELECT id,
             CASE WHEN len(ws) >= {_WN_K} THEN
               list_transform(range(0, len(ws)-{_WN_K}+1),
                              i -> md5({_WN_GRAM}))
             ELSE [md5(array_to_string(ws, ' '))] END AS gh
      FROM t
    ),
    f AS (
      SELECT DISTINCT id, fp FROM (
        SELECT id,
               unnest(list_transform(
                 range(0, len(gh)),
                 j -> list_min(list_slice(gh, j+1, j+{_WN_W})))) AS fp
        FROM g)
    ),
    keep AS (
      SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= {_WN_MAX_DF}
    ),
    f2 AS (SELECT f.id, f.fp FROM f JOIN keep USING (fp))
    SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS shared_fps
    FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.id < b.id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_WN_MIN_SHARED}
    """,
    doc="Winnowing (MOSS) near-dup pairs: md5 word 4-grams → per-position "
    "min over 4 consecutive gram hashes → distinct fingerprints → invert "
    "and equi-join on fp, keeping pairs sharing ≥2. Deterministic overlap "
    "guarantee MinHash lacks: any shared text run ≥ k+w-1 words shares a "
    "fingerprint by construction. max_fp_df=8 drops boilerplate "
    "fingerprints BEFORE pairing, bounding every join bucket — the LSH "
    "hot-band discipline. Shuffles carry (id|fp, 32-byte hash) only; "
    "document text never leaves the scan stage. Corpus = docs ∪ "
    "perturbed copies.",
)
def q_winnowing(spark, sf_dir):
    return dedup.winnowing_pairs(
        _corpus(spark, sf_dir),
        id_col="doc_id",
        text_col="text",
        gram_k=_WN_K,
        window_w=_WN_W,
        min_shared=_WN_MIN_SHARED,
        max_fp_df=_WN_MAX_DF,
    )


# ---------------------------------------------------------------------------
# Multi-class language ID by function-word-profile coverage
# ---------------------------------------------------------------------------

# Inject each labeled language's profile words into its docs so the
# classifier has real multi-language signal to recover (the synthetic
# corpus is English-ish vocab for every lang label); 'zh' gets no Latin
# function words and must land in 'und'.
_LANG_MARKER_SQL = " ".join(
    f"WHEN '{lang}' THEN ' {' '.join(words)}'"
    for lang, words in text.LANG_PROFILES.items()
)
_LANG_SCORE_SQL = {
    lang: (
        f"(len(list_filter("
        f"[{', '.join(repr(w) for w in words)}], "
        f"p -> list_contains(toks, p))) / {float(len(words))})"
    )
    for lang, words in text.LANG_PROFILES.items()
}
_LANG_MX_SQL = "greatest(" + ", ".join(
    f"s_{lang}" for lang in text.LANG_PROFILES
) + ")"
_LANG_PRED_SQL = "CASE " + " ".join(
    f"WHEN mx >= 0.5 AND s_{lang} = mx THEN '{lang}'"
    for lang in text.LANG_PROFILES
) + " ELSE 'und' END"


@register(
    "text_lang_profile",
    f"""
    WITH corpus AS (
      SELECT doc_id, lang,
             text || CASE lang {_LANG_MARKER_SQL} ELSE '' END AS text
      FROM documents
    ),
    t AS (
      SELECT doc_id, lang,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM corpus
    ),
    s AS (
      SELECT doc_id, lang,
             {', '.join(f'{sql} AS s_{lang}' for lang, sql in _LANG_SCORE_SQL.items())}
      FROM t
    )
    SELECT doc_id, lang,
           {', '.join(f'round(s_{lang}, 6) AS score_{lang}' for lang in text.LANG_PROFILES)},
           {_LANG_PRED_SQL} AS lang_pred
    FROM (SELECT *, {_LANG_MX_SQL} AS mx FROM s)
    """,
    doc="Multi-class language ID: per-language function-word-profile "
    "coverage (|profile ∩ tokens| / |profile|), argmax with a 0.5 "
    "coverage floor → 'und'. Profiles are pairwise-disjoint 5-word "
    "literal arrays (broadcast constants); the whole classifier is a "
    "map-only JVM projection pipelining with the scan — zero shuffle at "
    "any corpus size. Fixture injects each doc's labeled profile so the "
    "confusion diagonal is exact and 'zh' (no Latin profile) lands 'und'.",
)
def q_lang_profile(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    marker = F.lit("")
    for lang in reversed(list(text.LANG_PROFILES)):
        marker = F.when(
            F.col("lang") == lang,
            F.lit(" " + " ".join(text.LANG_PROFILES[lang])),
        ).otherwise(marker)
    injected = F.concat(F.col("text"), marker)
    return d.select(
        "doc_id",
        "lang",
        *text.language_profile_scores(injected),
    )


# ---------------------------------------------------------------------------
# Calibration (reliability diagram + ECE weights) — eval family
# ---------------------------------------------------------------------------

_CAL_LO, _CAL_HI, _CAL_BINS = -8000, 8000, 10


@register(
    "ml_eval_calibration",
    f"""
    WITH flat AS (
      SELECT doc_id, unnest({O.words_sql('lower(text)')}) AS token
      FROM documents
    ),
    weighted AS (
      SELECT doc_id,
             {O.md5_mod_sql(O.md5_mod_sql('token', _CLF_SEED + ':b', _CLF_BUCKETS), _CLF_SEED + ':w', _CLF_WMOD)}
               - {_CLF_WMOD // 2} AS w
      FROM flat
    ),
    per_doc AS (
      SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score_milli
      FROM weighted GROUP BY doc_id
    ),
    labeled AS (
      SELECT LEAST(GREATEST(p.score_milli, {_CAL_LO}), {_CAL_HI}) AS cs,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM per_doc p JOIN documents d USING (doc_id)
    ),
    agg AS (
      SELECT LEAST(CAST(floor(CAST(cs - ({_CAL_LO}) AS DOUBLE)
                               * {_CAL_BINS} / {float(_CAL_HI - _CAL_LO)})
                    AS BIGINT), {_CAL_BINS - 1}) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cs) AS BIGINT) AS s,
             CAST(SUM(pos) AS BIGINT) AS np
      FROM labeled GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM agg)
    SELECT bin, n,
           round(CAST(s - n * ({_CAL_LO}) AS DOUBLE)
                 / CAST(n * {_CAL_HI - _CAL_LO} AS DOUBLE), 6) AS avg_conf,
           round(CAST(np AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pos_rate,
           round(abs(CAST(s - n * ({_CAL_LO}) AS DOUBLE)
                     / CAST(n * {_CAL_HI - _CAL_LO} AS DOUBLE)
                     - CAST(np AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS gap,
           round(abs(CAST(s - n * ({_CAL_LO}) AS DOUBLE)
                     / CAST(n * {_CAL_HI - _CAL_LO} AS DOUBLE)
                     - CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
                 * CAST(n AS DOUBLE) / CAST(nn AS DOUBLE), 6)
             AS weighted_gap
    FROM agg CROSS JOIN tot
    """,
    doc="Classifier calibration: reliability bins over the hashed-linear "
    "score vs the lang='en' label — per equal-width score bin the "
    "normalized mean score (confidence proxy), empirical positive rate, "
    "their gap, and the population-weighted gap (Σ = Expected "
    "Calibration Error). Completes the eval trio next to ml_auc_ranked "
    "(threshold-free) and ml_eval_confusion (fixed threshold). Every "
    "aggregate is an integer sum (avg_conf derives from Σscore, never "
    "from averaging doubles — float summation is order-dependent, "
    "integer sums are not); the only float ops are single IEEE "
    "divisions, so parity needs just round-6. Scale shape: one "
    "10-cell groupBy with map-side combine + a 1-row broadcast total.",
)
def q_ml_calibration(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    scores = text.hash_classifier_scores(
        d, id_col="doc_id", text_col="text",
        n_buckets=_CLF_BUCKETS, seed=_CLF_SEED, w_mod=_CLF_WMOD,
    ).select("doc_id", "score_milli")
    labeled = scores.join(
        d.select(
            "doc_id",
            (F.col("lang") == "en").cast("long").alias("pos"),
        ),
        "doc_id",
    )
    return agg.calibration_bins(
        labeled, "score_milli", "pos",
        lo=_CAL_LO, hi=_CAL_HI, n_bins=_CAL_BINS,
    )


# ---------------------------------------------------------------------------
# Winnowing measured recall vs exact-Jaccard truth
# ---------------------------------------------------------------------------

_WNR_TAU = 0.8


@register(
    "dedup_winnowing_recall",
    f"""
    WITH corpus AS ({_CORPUS_SQL}),
    t0 AS (
      SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS ws
      FROM corpus
    ),
    g AS (
      SELECT id,
             CASE WHEN len(ws) >= {_WN_K} THEN
               list_transform(range(0, len(ws)-{_WN_K}+1),
                              i -> md5({_WN_GRAM}))
             ELSE [md5(array_to_string(ws, ' '))] END AS gh
      FROM t0
    ),
    f AS (
      SELECT DISTINCT id, fp FROM (
        SELECT id,
               unnest(list_transform(
                 range(0, len(gh)),
                 j -> list_min(list_slice(gh, j+1, j+{_WN_W})))) AS fp
        FROM g)
    ),
    keep AS (
      SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= {_WN_MAX_DF}
    ),
    f2 AS (SELECT f.id, f.fp FROM f JOIN keep USING (fp)),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.id < b.id
      GROUP BY 1, 2
    ),
    sh0 AS (
      SELECT doc_id AS id, unnest({O.shingles_sql('text', _WN_K)}) AS shingle
      FROM corpus
    ),
    hot AS (
      SELECT shingle FROM sh0 GROUP BY shingle
      HAVING COUNT(*) > {_NGRAM_MAX_DF}
    ),
    sh AS (
      SELECT * FROM sh0
      WHERE shingle NOT IN (SELECT shingle FROM hot)
    ),
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    ),
    truth AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON sa.id = i.id_a
      JOIN sizes sb ON sb.id = i.id_b
      WHERE i.i / (sa.sz + sb.sz - i.i) >= {_WNR_TAU}
    ),
    t AS (SELECT COUNT(*) AS n_truth FROM truth),
    c AS (SELECT COUNT(*) AS n_candidates FROM cand),
    h AS (SELECT COUNT(*) AS n_hits
          FROM truth JOIN cand USING (id_a, id_b))
    SELECT n_truth, n_candidates, n_hits,
           round(CAST(n_hits AS DOUBLE) / n_candidates, 6) AS precision,
           round(CAST(n_hits AS DOUBLE) / n_truth, 6) AS recall
    FROM t, c, h
    """,
    doc="Measured (not guessed) winnowing quality: candidate pairs from "
    "the fingerprint join (min_shared=1, the raw candidate set) scored "
    f"against exact 4-gram-Jaccard ground truth (tau={_WNR_TAU}) on the "
    "perturbed corpus — n_truth / n_candidates / n_hits / precision / "
    "recall in one row. Winnowing's theorem says recall of long-overlap "
    "pairs is 1.0 BY CONSTRUCTION (any shared k+w-1-word run shares a "
    "fingerprint) — this query is the check that the cap/prune "
    "machinery hasn't broken the guarantee, the counterpart to "
    "dedup_lsh_recall's probabilistic tuning loop. Both pair pipelines "
    "are the bucketed shapes, persisted once; the combine is three "
    "1-row broadcasts.",
)
def q_winnowing_recall(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    truth = (
        dedup.ngram_jaccard_pairs(
            corpus,
            id_col="doc_id",
            text_col="text",
            shingle_n=_WN_K,
            threshold=_WNR_TAU,
            max_df=_NGRAM_MAX_DF,
        )
        .select("id_a", "id_b")
        .persist()
    )
    cand = (
        dedup.winnowing_pairs(
            corpus,
            id_col="doc_id",
            text_col="text",
            gram_k=_WN_K,
            window_w=_WN_W,
            min_shared=1,
            max_fp_df=_WN_MAX_DF,
        )
        .select("id_a", "id_b")
        .persist()
    )
    t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    c = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    h = truth.join(cand, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        t.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(h))
        .select(
            "n_truth",
            "n_candidates",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_candidates"), 6
            ).alias("precision"),
            F.round(
                F.col("n_hits").cast("double") / F.col("n_truth"), 6
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Metadata-filtered ANN (filtered vector search)
# ---------------------------------------------------------------------------

_FILT_LABEL = 3


@register(
    "sim_ivf_filtered_topk",
    _ivf_oracle_sql(f"label = {_FILT_LABEL}"),
    doc="Metadata-filtered ANN — the production vector-search pattern: "
    f"top-k by cosine restricted to label = {_FILT_LABEL}, probed "
    "through the SAME full-corpus IVF centroids (indexes are not "
    "rebuilt per predicate). The filter applies at the corpus SCAN, "
    "before cell assignment — with the cell-partitioned stored layout "
    "the probe still prunes to nprobe cells and the label predicate "
    "pushes into the parquet scan of those partitions, so per-query "
    "cost is selectivity * |cell| * nprobe. Post-filtering a top-k of "
    "the unfiltered corpus would instead under-fill k whenever the "
    "target label is rare — the classic filtered-ANN defect this "
    "composition avoids.",
)
def q_ivf_filtered_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    cents = e.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < _IVFPQ_CELL_CAP)
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    return similarity.ivf_topk(
        e.filter(F.col("label") == _FILT_LABEL),
        id_col="vec_id",
        vec_col="embedding",
        query_vec=_query_vec(spark, sf_dir),
        k=10,
        centroids=cents,
        nprobe=2,
    )
