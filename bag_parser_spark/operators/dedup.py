"""Dedup / upsert operators (SURVEY §2.1 S7, §2.5 W1; extensions: exact,
MinHash-LSH, SimHash, n-gram Jaccard for corpus dedup at scale).

The reference upserts with `REPLACE INTO` because "BAG does not always
contain unique id's" (reference database_sqlite.py:98-162): last write wins
in arrival order. Spark has no insertion order, so the order must be an
explicit column (file ordinal, event timestamp…) — encoded here as a window
rank. One shuffle on the key; with bucketed storage on the key, zero.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def last_write_wins(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """W1/S7: keep one row per key, latest by ``order_by`` (REPLACE INTO
    semantics, reference database_sqlite.py:98-162 and the "only last one
    remains" comment at :419-420).

    ``order_by`` must be a deterministic total order within each key group
    (add a tiebreaker column!) or results are nondeterministic under retry —
    exactly the trap the reference's insertion-order dependence hides.
    """
    w = Window.partitionBy(*keys).orderBy(*[c.desc() for c in order_by])
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def dedup_exact(
    df: DataFrame, on: Sequence[str], id_col: str
) -> DataFrame:
    """Exact dedup: one representative row per content key, deterministic
    (min id). A hash-groupBy — one shuffle on the content hash; map-side
    combine keeps shuffle volume at ~#distinct, not #rows."""
    w = Window.partitionBy(*on).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def word_shingles(text: Column, n: int) -> Column:
    """Word n-gram shingle array (distinct, order-free) for Jaccard/MinHash.
    Pure higher-order functions — no UDF: split → sliding join of n words."""
    words = F.split(F.trim(text), r"\s+")
    # transform over start indices 0..len-n, join n consecutive words;
    # shorter-than-n docs yield a single whole-doc shingle (sequence() with
    # start > stop DESCENDS in Spark — guard, don't clamp)
    idx = F.sequence(F.lit(0), F.size(words) - n)
    shingle_at = lambda i: F.concat_ws(
        " ", *[F.element_at(words, i + k + 1) for k in range(n)]
    )
    return F.when(
        F.size(words) >= n, F.array_distinct(F.transform(idx, shingle_at))
    ).otherwise(F.array(F.array_join(words, " ")))


def minhash_signature(shingles: Column, num_hashes: int) -> Column:
    """MinHash signature as an array of hex-string minima.

    Hash family h_i(s) = md5(i || ':' || s); the minimum over a doc's shingle
    set of each h_i is a uniform permutation minimum. md5 hex strings compare
    lexicographically identically in any engine — making the DuckDB oracle
    exact. JVM-side md5 (no UDF); at scale this is a map-only projection.
    """
    def hash_i(i: int):
        # closure factory: a default-arg lambda (s, i=i) makes pyspark infer
        # a 2-arg (element, index) lambda and silently bind the index Column
        # to i — corrupting every hash prefix to the same str(Column)
        return lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))

    return F.array(
        *[
            F.array_min(F.transform(shingles, hash_i(i)))
            for i in range(num_hashes)
        ]
    )


def word_shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, shingle) rows — the relational form of ``word_shingles``:
    posexplode tokens → sliding window via lead() → complete n-grams (plus
    the whole-doc fallback for docs shorter than n, at pos 0 where
    concat_ws skips the null leads).

    Window lead() is whole-stage-codegen'd; the higher-order
    transform/element_at form is an interpreted lambda (CodegenFallback) —
    measured ~2.4 ms/doc vs ~0.1 ms/doc here. NOT deduped: MinHash minima
    don't care, Jaccard callers add .distinct().

    (r12: a guarded fan-out before the split/posexplode was A/B'd here
    and REVERTED — the lead() window's own exchange already spreads the
    md5-heavy downstream work, the serial split is only ~0.4 s, and the
    pinned-width repartition measured WORSE on the consumers:
    dedup_verified_pairs 2.36 -> 3.05 s min, dedup_minhash_lsh
    0.95 -> 1.24 s min over 6 interleaved reps. Contrast
    simhash_signatures, which has no window exchange and keeps it.)
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("__id__"),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    w = Window.partitionBy("__id__").orderBy("pos")
    leads = [F.lead("tok", k).over(w) for k in range(1, n)]
    gram = F.concat_ws(" ", F.col("tok"), *leads)
    return (
        toks.withColumn(
            "shingle",
            F.when(leads[-1].isNotNull() | (F.col("pos") == 0), gram),
        )
        .filter(F.col("shingle").isNotNull())
        .select("__id__", "shingle")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 12,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """(id, h0..h{n-1}) minhash signature table, computed *relationally*:
    shingle rows → one md5 column per hash function → groupBy(id).min().

    This shape matters: building the signature as one nested array
    expression makes Catalyst's CollapseProject inline the shingle
    subexpression once per hash × once per band (O(h·b) duplication), the
    tree blows past the codegen method limit, and execution falls back to
    interpreted mode (~50× slower — measured). The explode/agg form computes
    each shingle once, gets map-side combine for free, and its only shuffle
    carries (id, h0..h11) — tiny at any scale.

    ``shingle_rows`` optionally supplies a precomputed (__id__, shingle)
    table (typically persisted) so a pipeline that needs shingles twice —
    candidate generation AND exact-Jaccard verification — tokenizes the
    corpus once, not twice; at 100 TB the shingle map is the dominant
    scan cost. Must come from ``word_shingle_rows`` with the same
    ``shingle_n`` (non-deduped is fine — minima ignore duplicates).
    """
    sh = (
        shingle_rows
        if shingle_rows is not None
        else word_shingle_rows(df, id_col, text_col, shingle_n)
    )
    # r12 (guide §2.3 narrower types, the r11 span/segment byte-key move
    # applied to the signature aggregate): the minima aggregate over
    # 16-byte BINARY digests (unhex) instead of 32-char hex strings.
    # min over strings/binary is a SortAggregate either way (immutable
    # buffer type), so halving the 12 per-row key widths halves the
    # per-partition sort/compare bytes AND the partial-minima shuffle;
    # byte order == hex order for fixed-length lowercase hex, and
    # lower(hex()) restores the EXACT oracle hex strings per DOC
    # (12 ops/doc, not per shingle). Interleaved A/B (7 reps, min):
    # verified_pairs 2.78 -> 2.59 s, minhash_lsh 1.11 -> 0.94,
    # incremental 1.94 -> 1.60; outputs byte-identical (oracle +
    # pairwise probe).
    hashed = sh.select(
        "__id__",
        *[
            F.unhex(
                F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    return hashed.groupBy("__id__").agg(
        *[
            F.lower(F.hex(F.min(f"h{i}"))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup candidate pairs (id_a < id_b).

    shingle → minhash signature (relational, see minhash_signatures) →
    ``bands`` bands of r hashes → bucket equi-join within each band.
    The banded (id, band, bucket) projection is persisted once, so the
    self-join does NOT execute the signature subtree twice (Spark
    self-joins duplicate lineage; persist dedupes it while staying
    recomputable on executor loss — the signature is deterministic).
    Earlier form collected each bucket's ids into ONE array cell: ids
    only, but a giant exact-duplicate class still concentrates a whole
    equivalence class in one row. The equi-join keeps every row bounded
    (one candidate pair) and shuffles only (band, bucket, id) — never
    document text. Returns distinct (id_a, id_b) pairs (id_a < id_b).
    """
    sig = minhash_signatures(
        df, id_col, text_col, shingle_n, num_hashes,
        shingle_rows=shingle_rows,
    )
    banded = band_signatures(sig, num_hashes, bands).persist()
    a = banded.select(
        "band", "bucket", F.col("__id__").alias("id_a")
    )
    b = banded.select(
        F.col("band").alias("__band2__"),
        F.col("bucket").alias("__bucket2__"),
        F.col("__id__").alias("id_b"),
    )
    return (
        a.join(
            b,
            (F.col("band") == F.col("__band2__"))
            & (F.col("bucket") == F.col("__bucket2__"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )


def band_signatures(
    sigs: DataFrame, num_hashes: int = 12, bands: int = 4
) -> DataFrame:
    """Banded LSH projection of a ``minhash_signatures`` table:
    (__id__, band, bucket), one row per (doc, band). This is the STORED
    ARTIFACT shape of a recurring-ingest pipeline at scale — materialize
    it bucketed by (band, bucket) (``sources.parquet.write_bucketed``)
    and every future incremental candidate join reads the corpus side
    with no exchange (see ``minhash_lsh_pairs_incremental``'s
    ``base_banded`` parameter; plan-asserted in tests)."""
    r = num_hashes // bands
    return sigs.select(
        "__id__",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|", *[F.col(f"h{b * r + j}") for j in range(r)]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    base_sigs: DataFrame | None,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    cache_registry: list[DataFrame] | None = None,
    base_banded: DataFrame | None = None,
) -> DataFrame:
    """Incremental MinHash-LSH: near-dup candidates between a NEW batch
    and an already-deduped corpus — the production shape of corpus dedup
    at 100 TB, where re-running all-corpus LSH for a daily increment
    would re-shingle petabytes that cannot have produced new pairs.
    Emits (new × base) and (new × new) candidates, never (base × base):
    identical to ``minhash_lsh_pairs(base ∪ new)`` minus the base-only
    pairs (the banding function is per-doc, so the identity is exact —
    unit-tested).

    ``base_sigs`` is the corpus's PRECOMPUTED signature table
    (``minhash_signatures`` schema: __id__, h0..h{n-1}) — the stored
    artifact an incremental pipeline maintains; only the new batch is
    ever shingled here. Caller contract: base and new id spaces are
    disjoint (returned pairs orient id_a < id_b, which is only a total
    order across batches when ids never collide).

    Scale shape: the new batch's banded projection is tiny next to the
    corpus's, and the cross join is a (band, bucket) equi-join — pass
    ``base_banded`` (the ``band_signatures`` projection, stored BUCKETED
    by (band, bucket)) instead of ``base_sigs`` and the join is
    exchange-free on the big side, shuffling only the increment
    (plan-asserted: tests/test_extensions.py bucketed-signature-store
    test). Same parameters MUST be used as when the base artifact was
    built, or buckets never match (shingle_n/num_hashes/bands are part
    of the artifact's schema contract).
    """
    bn = band_signatures(
        minhash_signatures(new_df, id_col, text_col, shingle_n, num_hashes),
        num_hashes,
        bands,
    ).persist()
    # scoped callers (per-micro-batch) free this via cache_registry —
    # see verify_pairs_jaccard's docstring for the contract
    if cache_registry is not None:
        cache_registry.append(bn)
    if base_banded is not None:
        bb = base_banded.select("__id__", "band", "bucket")
    elif base_sigs is not None:
        bb = band_signatures(base_sigs, num_hashes, bands)
    else:
        raise ValueError(
            "minhash_lsh_pairs_incremental needs base_sigs or base_banded"
        )
    a = bn.select("band", "bucket", F.col("__id__").alias("id_a"))
    b = bn.select(
        F.col("band").alias("__band2__"),
        F.col("bucket").alias("__bucket2__"),
        F.col("__id__").alias("id_b"),
    )
    new_new = a.join(
        b,
        (F.col("band") == F.col("__band2__"))
        & (F.col("bucket") == F.col("__bucket2__"))
        & (F.col("id_a") < F.col("id_b")),
    ).select("id_a", "id_b")
    bbase = bb.select(
        F.col("band").alias("__band2__"),
        F.col("bucket").alias("__bucket2__"),
        F.col("__id__").alias("__base_id__"),
    )
    new_base = (
        a.join(
            bbase,
            (F.col("band") == F.col("__band2__"))
            & (F.col("bucket") == F.col("__bucket2__")),
        )
        .select(
            F.least("id_a", "__base_id__").alias("id_a"),
            F.greatest("id_a", "__base_id__").alias("id_b"),
        )
    )
    return new_new.unionAll(new_base).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs via shingle inverted index.

    explode shingles → inverted index (group by shingle — only docs sharing
    ≥1 shingle ever meet, never the O(n²) cross join) → in-posting-list
    pair expansion → |A∩B| per pair → Jaccard with |A|,|B| → threshold.

    Single-lineage shape: a self-join formulation would execute the whole
    shingle subtree twice and the sizes agg a third time (Spark self-joins
    duplicate lineage). Here the shingle tree runs ONCE: the window inside
    word_shingle_rows leaves rows hash-partitioned by __id__, which already
    satisfies both the per-doc distinct and the per-doc size window below
    (partitioning on a subset of the grouping keys — zero extra exchanges,
    verified via .explain), and doc sizes ride along in the posting-list
    struct so no join is ever needed. Shuffles: by __id__ (shingling), by
    shingle (inverted index), by pair (intersection count) — keys only,
    never document text.

    ``max_df`` is the hot-shingle (stop-gram skew) guard: shingles
    appearing in more than ``max_df`` documents are dropped from the
    shingle universe BEFORE sizes and posting lists are computed, so the
    Jaccard is exact over the pruned universe (both intersection and the
    size denominators see the same set — a consistent, oracle-mirrorable
    rule). Rationale: a shingle shared by k docs expands to k(k-1)/2
    pair rows — a stop-gram with k ~ corpus size is a quadratic bucket,
    and it carries no Jaccard discrimination precisely because everyone
    has it. The hot list is tiny by Zipf (few shingles exceed any sane
    max_df), so it broadcasts: the pruning anti-join never reshuffles
    the shingle rows, which stay partitioned by __id__ for the size
    window below.

    ``shingle_rows`` optionally reuses a precomputed (persisted)
    ``word_shingle_rows`` table so a pipeline running BOTH this exact
    truth computation and MinHash candidates (dedup_lsh_recall) shingles
    the corpus once.
    """
    sh = (
        shingle_rows
        if shingle_rows is not None
        else word_shingle_rows(df, id_col, text_col, shingle_n)
    )
    shd = sh.dropDuplicates(["__id__", "shingle"])
    from pyspark.sql import Window

    if max_df is not None:
        # persist: the hot-list aggregate and the main pipeline would
        # otherwise each execute the tokenize+window shingle subtree
        shd = shd.persist()
        hot = (
            shd.groupBy("shingle")
            .agg(F.count("*").alias("__df__"))
            .filter(F.col("__df__") > max_df)
            .select("shingle")
        )
        shd = shd.join(F.broadcast(hot), "shingle", "left_anti")
    with_size = shd.withColumn(
        "__size__", F.count("*").over(Window.partitionBy("__id__"))
    )
    buckets = (
        with_size.groupBy("shingle")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("__id__", "__size__"))
            ).alias("members")
        )
        .filter(F.size("members") > 1)
    )
    pairs = (
        buckets.select(
            F.posexplode("members").alias("i", "a"), F.col("members")
        )
        .select(
            "a",
            F.explode(
                F.slice(
                    F.col("members"),
                    F.col("i") + F.lit(2),
                    F.size("members") - F.col("i") - F.lit(1),
                )
            ).alias("b"),
        )
    )
    inter = pairs.groupBy(
        F.col("a.__id__").alias("id_a"),
        F.col("a.__size__").alias("size_a"),
        F.col("b.__id__").alias("id_b"),
        F.col("b.__size__").alias("size_b"),
    ).agg(F.count("*").alias("intersection"))
    return (
        inter.withColumn(
            "jaccard",
            F.col("intersection")
            / (F.col("size_a") + F.col("size_b") - F.col("intersection")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "intersection", "size_a", "size_b", "jaccard")
    )


def verify_pairs_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    id_a: str = "id_a",
    id_b: str = "id_b",
    shingle_rows: DataFrame | None = None,
    cache_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard refinement of CANDIDATE pairs — the verify
    step between LSH candidate generation and any destructive use of the
    pairs (clustering + deletion). Banded MinHash buckets are
    probabilistic: with r hashes/band docs at Jaccard j collide with
    probability 1-(1-j^r)^bands, so moderately-similar NON-duplicates
    leak through, and transitive closure then chains them into one
    cluster (ADVICE r4, medium). Returns only pairs whose exact distinct-
    shingle Jaccard ≥ ``threshold``: (id_a, id_b, jaccard).

    Scale shape: shingling is restricted to docs that appear in ≥1
    candidate pair (semi-join — at healthy LSH precision this is a small
    fraction of the corpus), the per-doc distinct shingle rows persist
    once and feed both the size aggregate and the two intersection
    probes, and every join key is (id) or (id, shingle) — candidate-
    bounded, never all-pairs, never full documents. Pairs sharing no
    shingle drop out at the inner probe, which is correct for any
    threshold > 0. Callers own unpersist (module convention).

    ``pairs`` is referenced three times below (both id projections and
    the intersection probe) — it persists here because each reference
    would otherwise re-execute the caller's ENTIRE candidate-generation
    subtree (a banded-LSH join, typically): the r5 plan audit measured
    73 exchanges for the unpersisted verified-pairs query vs ~10 with
    the persist.

    ``shingle_rows`` optionally reuses the (__id__, shingle) projection
    the candidate generator already computed (pass the SAME persisted
    table to ``minhash_lsh_pairs`` and here) — the corpus then tokenizes
    once for the whole candidates→verify pipeline instead of twice.
    When given, the semi-join restriction applies to the shared rows
    (cheap filter over cached data); when absent, only candidate docs
    are ever shingled here.

    ``cache_registry``: internal persists (``pairs``, the distinct
    shingle rows) are appended to this list when given, so a SCOPED
    caller — e.g. a foreachBatch running once per micro-batch — can
    unpersist them after its action without touching long-lived caches
    (ADVICE r5: a continuous stream otherwise accumulates cached
    blocks without bound, because these handles are not caller-visible).
    """
    pairs = pairs.persist()
    if cache_registry is not None:
        cache_registry.append(pairs)
    ids = (
        pairs.select(F.col(id_a).alias(id_col))
        .unionAll(pairs.select(F.col(id_b).alias(id_col)))
        .distinct()
    )
    if shingle_rows is not None:
        base = shingle_rows.join(
            ids.withColumnRenamed(id_col, "__id__"), "__id__", "semi"
        )
    else:
        cand_docs = docs.join(ids, id_col, "semi")
        base = word_shingle_rows(cand_docs, id_col, text_col, shingle_n)
    sh = base.dropDuplicates(["__id__", "shingle"]).persist()
    if cache_registry is not None:
        cache_registry.append(sh)
    sizes = sh.groupBy("__id__").agg(F.count(F.lit(1)).alias("__sz__"))
    sh_a = sh.select(
        F.col("__id__").alias(id_a), F.col("shingle").alias("__sh__")
    )
    sh_b = sh.select(
        F.col("__id__").alias(id_b), F.col("shingle").alias("__sh__")
    )
    inter = (
        pairs.select(id_a, id_b)
        .join(sh_a, id_a)
        .join(sh_b, [id_b, "__sh__"])
        .groupBy(id_a, id_b)
        .agg(F.count(F.lit(1)).alias("__i__"))
    )
    return (
        inter.join(sizes.withColumnRenamed("__id__", id_a), id_a)
        .withColumnRenamed("__sz__", "__sza__")
        .join(sizes.withColumnRenamed("__id__", id_b), id_b)
        .withColumn(
            "jaccard",
            F.col("__i__")
            / (F.col("__sza__") + F.col("__sz__") - F.col("__i__")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select(id_a, id_b, "jaccard")
    )


def segment_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    segment_words: int = 10,
    drop_threshold_pct: int = 50,
    cache_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """Sub-document duplication statistics — the LINE-level dedup step of
    web-corpus pipelines (CCNet deduplicates at paragraph/line level;
    RefinedWeb filters documents by their duplicated-content fraction)
    adapted to token streams without line structure: split each document
    into consecutive ``segment_words``-token segments, hash each, and
    measure per document what fraction of its segments also occurs in
    OTHER documents. Doc-level dedup misses this entirely — boilerplate
    headers/footers repeat across millions of otherwise-unique pages.

    Returns (id, n_segments, n_dup_segments, dup_fraction, keep): a
    segment occurrence is duplicated when its hash appears in >1
    DISTINCT document; ``keep`` is the integer-exact drop rule
    ``n_dup*100 < n_segments*drop_threshold_pct`` (no float boundary
    can flip a doc between engines).

    Scale shape: segmentation is the same map-only explode as
    chunk_documents (no shuffle); the duplication test is one groupBy on
    the segment HASH carrying (hash, id) rows — 32-char hashes and ids,
    never text — one equi-join back on the hash, and a per-doc
    aggregation. No pair expansion anywhere: a boilerplate segment in k
    docs costs k posting rows, not k² (documents are COUNTED per
    segment, never paired), so the one skew risk of line dedup — the
    universal header — is linear by construction. The (id, hash)
    segment rows persist once: both the per-hash doc counts and the
    join's probe side read them, and without the persist the dominant
    tokenize+slice+md5 scan would execute twice (``cache_registry``
    follows the module's scoped-caller contract, see
    verify_pairs_jaccard).

    ``drop_threshold_pct`` must be 1..100: the rule is STRICT-less
    (a doc at exactly the threshold drops), so 0 would drop every
    document including fully-unique ones — rejected loudly rather than
    silently emptying a corpus.
    """
    if not 1 <= drop_threshold_pct <= 100:
        raise ValueError(
            f"drop_threshold_pct must be in 1..100, got "
            f"{drop_threshold_pct} (the keep rule is strict-less, so 0 "
            "would drop every document)"
        )
    w = segment_words
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(
        F.col(id_col), toks.alias("__toks__"), F.size(toks).alias("__n__")
    )
    # exact: small positive ints in double space (chunk_documents shape)
    n_segs = ((F.col("__n__") + (w - 1)) / w).cast("long")
    segs = base.select(
        id_col,
        "__toks__",
        F.explode(
            F.sequence(F.lit(0).cast("long"), n_segs - 1)
        ).alias("__seg__"),
    ).select(
        id_col,
        # key-only hash: 16 raw bytes, not 32 hex chars (r11, same
        # rationale as _merged_dup_spans — halves the segment shuffle)
        F.unhex(
            F.md5(
                F.array_join(
                    F.slice(
                        F.col("__toks__"),
                        (F.col("__seg__") * w + 1).cast("int"),
                        w,
                    ),
                    " ",
                )
            )
        ).alias("__h__"),
    ).persist()
    if cache_registry is not None:
        cache_registry.append(segs)
    docs_per_hash = segs.groupBy("__h__").agg(
        F.count_distinct(F.col(id_col)).alias("__docs__")
    )
    return (
        segs.join(docs_per_hash, "__h__")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(
                F.when(F.col("__docs__") > 1, 1).otherwise(0)
            ).alias("n_dup_segments"),
        )
        .select(
            id_col,
            "n_segments",
            "n_dup_segments",
            F.round(
                F.col("n_dup_segments") / F.col("n_segments"), 6
            ).alias("dup_fraction"),
            (
                F.col("n_dup_segments") * 100
                < F.col("n_segments") * drop_threshold_pct
            ).alias("keep"),
        )
    )


def _merged_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    cache_registry: list[DataFrame] | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared EXACTSUBSTR core for duplicate_span_stats and
    remove_duplicate_spans: returns ``(base, merged)`` where ``base`` is
    (id, __toks__, __n__) for every input doc and ``merged`` holds the
    maximal merged duplicated regions (id, __isl__, __ms__, __me__),
    1-based inclusive token positions. See duplicate_span_stats for the
    full scale-shape discussion — postings (md5, id, start) are the only
    text-derived thing any shuffle carries, and the posting table
    persists once for its two consumers (occurrence count + join-back).

    Window starts come from ``sequence(1, n-ngram+1)`` guarded by a
    ``n >= ngram`` filter — unguarded, Spark's sequence(1, 0) yields a
    DESCENDING [1, 0], not an empty array, and short docs would emit
    phantom windows.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(
        F.col(id_col), toks.alias("__toks__"), F.size(toks).alias("__n__")
    )
    grams = (
        base.filter(F.col("__n__") >= n)
        .select(
            id_col,
            "__toks__",
            F.explode(
                F.sequence(
                    F.lit(1).cast("long"),
                    (F.col("__n__") - (n - 1)).cast("long"),
                )
            ).alias("__s__"),
        )
        .select(
            id_col,
            "__s__",
            # r11 (guide §2.3 "narrower types"): the posting hash is a
            # join/group key only — never output — so carry the 16 raw
            # md5 bytes instead of the 32-char hex string: the dominant
            # (md5, id, start) posting shuffle halves its key bytes and
            # equality compares half the data. Collision semantics are
            # unchanged (same 128 bits).
            F.unhex(
                F.md5(
                    F.array_join(
                        F.slice(
                            F.col("__toks__"), F.col("__s__").cast("int"), n
                        ),
                        " ",
                    )
                )
            ).alias("__h__"),
        )
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(grams)
    dup_hashes = (
        grams.groupBy("__h__")
        .agg(F.count(F.lit(1)).alias("__occ__"))
        .filter(F.col("__occ__") > 1)
        .select("__h__")
    )
    spans = grams.join(dup_hashes, "__h__").select(
        id_col, "__s__", (F.col("__s__") + (n - 1)).alias("__e__")
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("__s__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("__s__")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = (
        spans.withColumn(
            "__brk__",
            F.when(
                F.col("__s__")
                > F.coalesce(
                    F.max("__e__").over(w_prev), F.lit(-1).cast("long")
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("__isl__", F.sum("__brk__").over(w_run))
        .groupBy(id_col, "__isl__")
        .agg(
            F.min("__s__").alias("__ms__"), F.max("__e__").alias("__me__")
        )
    )
    return base, merged


def duplicate_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram_words: int = 5,
    drop_threshold_pct: int = 50,
    cache_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """Exact duplicate-SUBSTRING span statistics — the EXACTSUBSTR step of
    Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    Better") re-expressed relationally: any ``ngram_words``-token window
    that occurs more than once ANYWHERE in the corpus (including twice in
    the same document — verbatim self-repetition is exactly what the
    paper targets) marks its token span as duplicated; overlapping marked
    spans merge into maximal duplicated regions. This differs from
    segment_dup_stats in both sensitivity and unit: sliding windows catch
    duplicated passages at ANY token offset (fixed segments miss a copy
    shifted by one word), and the merged-span output measures contiguous
    duplicated REGIONS, the unit a span-removal rewrite would operate on.

    Returns (id, n_tokens, n_spans, dup_tokens, dup_fraction, keep), one
    row per input document (zero-span docs included): ``n_spans`` maximal
    merged regions, ``dup_tokens`` tokens covered by them, and the
    integer-exact drop rule ``dup_tokens*100 < n_tokens*threshold`` (no
    float boundary can flip a doc between engines). Docs shorter than
    ``ngram_words`` tokens have no windows and count as clean.

    Scale shape: Lee et al. build a corpus-wide suffix array — a global
    sort no Spark cluster wants. The relational equivalent: window
    extraction is a map-only explode (one (md5, id, start) posting row
    per token — 32-char hashes, never text, in the shuffle); repeat
    detection is one groupBy on the hash with map-side combine, occurrence
    COUNTING so a boilerplate window in k docs costs k posting rows, never
    k² pairs; span merging is a per-document window function over (id,
    start, end) int triples — classic gaps-and-islands (running max(end)
    over preceding rows → break flag → running sum), shuffling ids and
    ints only, one task per doc bounded by that doc's own length. The
    posting table persists once: both the per-hash occurrence counts and
    the join-back probe read it, and without the persist the dominant
    tokenize+slice+md5 scan would run twice (``cache_registry`` follows
    verify_pairs_jaccard's scoped-caller contract).

    Window starts come from ``sequence(1, n-ngram+1)`` guarded by a
    ``n >= ngram`` filter — unguarded, Spark's sequence(1, 0) yields a
    DESCENDING [1, 0], not an empty array, and short docs would emit
    phantom windows.
    """
    if not 1 <= drop_threshold_pct <= 100:
        raise ValueError(
            f"drop_threshold_pct must be in 1..100, got "
            f"{drop_threshold_pct} (the keep rule is strict-less, so 0 "
            "would drop every document)"
        )
    if ngram_words < 2:
        raise ValueError(
            f"ngram_words must be >= 2, got {ngram_words} (a 1-token "
            "window marks every repeated word as a duplicated span)"
        )
    base, merged = _merged_dup_spans(
        df, id_col, text_col, ngram_words, cache_registry
    )
    per_doc = merged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__spans__"),
        F.sum(F.col("__me__") - F.col("__ms__") + 1).alias("__dup__"),
    )
    zero = F.lit(0).cast("long")
    return (
        base.select(id_col, F.col("__n__").cast("long").alias("n_tokens"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("__spans__", zero).alias("n_spans"),
            F.coalesce("__dup__", zero).alias("dup_tokens"),
            F.round(
                F.coalesce("__dup__", zero) / F.col("n_tokens"), 6
            ).alias("dup_fraction"),
            (
                F.coalesce("__dup__", zero) * 100
                < F.col("n_tokens") * drop_threshold_pct
            ).alias("keep"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram_words: int = 5,
    cache_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """The REWRITE half of Lee et al. 2021 EXACTSUBSTR: physically remove
    every merged duplicated region found by ``duplicate_span_stats``
    (same core, shared via ``_merged_dup_spans``) and emit the cleaned
    text. The paper's headline intervention is exactly this — not
    dropping whole documents but excising the repeated passages so the
    unique prose around boilerplate survives into training.

    Returns (id, n_tokens, clean_tokens, removed_tokens, clean_text),
    one row per input document: documents with no duplicated span pass
    through verbatim-tokenized (``clean_text`` is the single-space
    rejoin of their tokens), fully-duplicated documents come out with
    ``clean_text = ''`` — the caller decides whether an empty survivor
    is worth keeping.

    Scale shape: span detection is the posting pipeline of
    duplicate_span_stats (md5+ints in every shuffle). The rewrite adds
    ONE id-keyed equi-join of the corpus against the per-doc span
    arrays — a rewrite must touch every byte once, so that join (and
    the write behind it) is the floor, not overhead; AQE broadcasts the
    span side when few docs carry spans. Token excision itself is a
    JVM higher-order ``filter`` with a nested ``exists`` over the
    doc's own merged spans (≤ tokens × regions comparisons per row,
    no UDF, no token-level explode — positions never enter a shuffle).
    """
    if ngram_words < 2:
        raise ValueError(
            f"ngram_words must be >= 2, got {ngram_words} (a 1-token "
            "window would excise every repeated word)"
        )
    base, merged = _merged_dup_spans(
        df, id_col, text_col, ngram_words, cache_registry
    )
    spans_per_doc = merged.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("__ms__").alias("ms"), F.col("__me__").alias("me")
                )
            )
        ).alias("__spans__")
    )
    empty_spans = F.array().cast("array<struct<ms:long,me:long>>")
    # F.filter's index is 0-based while span positions are 1-based —
    # compare on i+1 (the DuckDB oracle's lambda index is 1-based, so
    # it compares on i directly).
    kept = F.filter(
        F.col("__toks__"),
        lambda x, i: ~F.exists(
            F.coalesce(F.col("__spans__"), empty_spans),
            lambda s: (i + 1 >= s["ms"]) & (i + 1 <= s["me"]),
        ),
    )
    return (
        base.join(spans_per_doc, id_col, "left")
        .withColumn("__kept__", kept)
        .select(
            id_col,
            F.col("__n__").cast("long").alias("n_tokens"),
            F.size("__kept__").cast("long").alias("clean_tokens"),
            (F.col("__n__") - F.size("__kept__"))
            .cast("long")
            .alias("removed_tokens"),
            F.array_join("__kept__", " ").alias("clean_text"),
        )
    )


def contamination_check(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 8,
) -> DataFrame:
    """Train/test contamination check (eval-set decontamination — the step
    every LLM data pipeline runs before trusting a benchmark number): for
    each TEST document, count how many of its word ``shingle_n``-grams
    also appear anywhere in the TRAIN corpus.

    Returns (id, n_shingles, n_contaminated, contamination_ratio) — one
    row per test doc; ratio 0 means clean, 1 means every n-gram of the
    test doc exists in training data (a leaked document).

    Scale shape: the train side reduces to a DISTINCT shingle set (one
    shuffle on the shingle key, carrying shingle strings only — at 100 TB
    hash the shingle to a 64-bit key first if string volume matters); the
    test side joins against it on the shingle key (second shuffle,
    test-corpus sized — typically tiny next to train) and aggregates per
    doc. Never any all-pairs product and never document text in a
    shuffle. Left join + count(non-null) keeps clean docs in the output
    with ratio 0 — an inner join would silently drop them.
    """
    tr = (
        word_shingle_rows(train, id_col, text_col, shingle_n)
        .select("shingle")
        .dropDuplicates(["shingle"])
        .withColumn("__hit__", F.lit(1))
    )
    te = word_shingle_rows(test, id_col, text_col, shingle_n).dropDuplicates(
        ["__id__", "shingle"]
    )
    return (
        te.join(tr, "shingle", "left")
        .groupBy("__id__")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("__hit__").alias("n_contaminated"),
        )
        .select(
            F.col("__id__").alias(id_col),
            "n_shingles",
            "n_contaminated",
            F.round(
                F.col("n_contaminated") / F.col("n_shingles"), 6
            ).alias("contamination_ratio"),
        )
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    out_id: str = "doc_id",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs → duplicate clusters.

    The step every dedup pipeline needs after pair generation (MinHash/
    SimHash/Jaccard/embedding pairs are edges, not an answer): group
    transitively-connected docs into one cluster and elect a canonical
    representative (the minimum id — deterministic). Returns one row per
    distinct doc appearing in ``pairs``: (out_id, cluster_id, cluster_size)
    where cluster_id = min doc id of the component, so the canonical doc is
    the row with out_id == cluster_id.

    Algorithm: iterative hash-min label propagation with path compression —
    every node starts labeled with its own id; each round a node adopts the
    minimum label among itself, its neighbors, and *its label's label*
    (pointer doubling). The compression step is what makes convergence
    O(log n) rounds instead of O(diameter): without it a duplicate CHAIN of
    length > max_iter would silently come back as several clusters. If the
    loop still hits ``max_iter`` unconverged it raises rather than return
    wrong labels. Each round shuffles only (node, label) pairs — edges
    carry ids, never document content, so a round costs O(|E|) key-size
    rows at any corpus scale. The plan is lineage-cut each round: without
    it the lineage doubles per iteration and Catalyst re-optimizes an
    exponentially growing tree. ``checkpoint_dir=None`` (default) cuts
    with ``localCheckpoint`` — fast, but a lost executor after the cut
    kills the job (fine on local[n]); a path switches to reliable
    ``checkpoint()`` rooted there, the fault-tolerant posture a real
    cluster wants for long dedup runs (``operators/lineage.py``).
    Convergence check is one tiny count per round — the same driver-side
    action pattern as the reference's conditional orphan delete
    (reference database_sqlite.py:604-612).
    """
    from bag_parser_spark.operators.lineage import cut_lineage

    edges = cut_lineage(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct(),
        checkpoint_dir,
        eager=False,
    )
    labels = cut_lineage(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id")),
        checkpoint_dir,
        eager=False,
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        stepped = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                labels["id"],
                F.least(
                    labels["lbl"], F.coalesce(F.col("nlbl"), labels["lbl"])
                ).alias("lbl"),
            )
        )
        # path compression (pointer doubling): adopt the label's own label
        parent = stepped.select(
            F.col("id").alias("p_id"), F.col("lbl").alias("p_lbl")
        )
        new_labels = (
            stepped.join(parent, stepped["lbl"] == parent["p_id"], "left")
            .select(
                stepped["id"],
                F.least(
                    stepped["lbl"], F.coalesce(F.col("p_lbl"), stepped["lbl"])
                ).alias("lbl"),
            )
        )
        new_labels = cut_lineage(new_labels, checkpoint_dir)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iter} rounds — "
            "component diameter exceeds 2^rounds; raise max_iter"
        )
    w = Window.partitionBy("cluster_id")
    return (
        labels.select(
            F.col("id").alias(out_id), F.col("lbl").alias("cluster_id")
        )
        .withColumn("cluster_size", F.count("*").over(w))
    )


def _hex_nibble_value(ch: Column) -> Column:
    """hex char → 0..15 via position arithmetic (engine-portable)."""
    return F.instr(F.lit("0123456789abcdef"), ch) - 1


def simhash_bits(text: Column, num_bits: int = 16) -> Column:
    """SimHash over word tokens, ``num_bits`` bits (≤ 32: bits are drawn
    from the first 8 md5 hex chars of each token).

    For each bit position b, sum ±1 over tokens (bit set → +1) and take the
    sign → array<int> of bits. Pure expressions; oracle-reproducible.
    """
    words = F.split(F.trim(text), r"\s+")
    hashes = F.transform(words, lambda w: F.md5(w))
    def bit_of(h: Column, b: int) -> Column:
        nibble = _hex_nibble_value(F.substring(h, b // 4 + 1, 1))
        return F.when(
            nibble.bitwiseAND(F.lit(1 << (3 - b % 4))) > 0, F.lit(1)
        ).otherwise(F.lit(-1))
    def vote_sum(b: int):
        # closure factory — a default-arg lambda would change the UDF arity
        # pyspark infers for F.aggregate's merge function
        return lambda acc, h: acc + bit_of(h, b)

    return F.array(
        *[
            F.when(
                F.aggregate(hashes, F.lit(0), vote_sum(b)) > 0, F.lit(1)
            ).otherwise(F.lit(0))
            for b in range(num_bits)
        ]
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_bits: int = 16,
) -> DataFrame:
    """(id, bits array<int>) simhash table, computed relationally (explode
    tokens → per-bit ±1 vote columns from one md5 → groupBy(id).sum →
    signs). Same rationale as minhash_signatures: the nested-expression
    form duplicates the token-hash subtree once per bit and falls out of
    codegen; this form hashes each token once and shuffles only (id, 16
    small ints) with map-side partial sums.
    """
    # ADVICE r11: at ndig >= 16 the conv value can reach 2^63 and the
    # long cast NULLs in non-ANSI mode — every bit would silently vote
    # -1. Only 16 bits are used today; fail loudly, not wrongly.
    if num_bits > 60:
        raise ValueError(
            f"num_bits={num_bits} > 60 would overflow the single conv "
            "fold (values >= 2^63 cast to NULL); split the fold into "
            "two <= 8-digit conv halves first"
        )
    from bag_parser_spark.operators.fanout import fan_out_cpu_dense

    # r12: the per-token md5+conv vote projection is CPU-dense map work
    # riding the scan — fan a small input out first (no-op at scale)
    toks = fan_out_cpu_dense(
        df.select(F.col(id_col).alias("__id__"), F.col(text_col)), "__id__"
    ).select(
        "__id__",
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    )
    # r11: fold the leading hex digits ONCE per token with JVM conv and
    # read bits with getbit, instead of one instr+substring nibble walk
    # per bit (16x fewer string ops per token; identical bit values —
    # digit i covers bits 4*ndig-1-4(i-1) .. 4*ndig-4i, same mapping
    # the nibble mask addressed). The oracle keeps the portable nibble
    # arithmetic (plans/oracles.py) — the mm_image_neardup precedent.
    ndig = (num_bits + 3) // 4
    h = toks.select(
        "__id__",
        F.conv(F.substring(F.md5(F.col("tok")), 1, ndig), 16, 10)
        .cast("long")
        .alias("__hv__"),
    )

    def vote(b: int) -> Column:
        bit = F.call_function(
            "getbit", F.col("__hv__"), F.lit(4 * ndig - 1 - b)
        )
        return F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))

    votes = h.select(
        "__id__", *[vote(b).alias(f"v{b}") for b in range(num_bits)]
    )
    sums = votes.groupBy("__id__").agg(
        *[F.sum(f"v{b}").alias(f"v{b}") for b in range(num_bits)]
    )
    return sums.select(
        "__id__",
        F.array(
            *[
                F.when(F.col(f"v{b}") > 0, F.lit(1)).otherwise(F.lit(0))
                for b in range(num_bits)
            ]
        ).alias("bits"),
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: hamming(simhash_a, simhash_b) ≤ max_hamming.

    Candidate generation blocks on the first half of the bits (a 1-band LSH
    on the sign vector) — only pairs agreeing on the prefix meet, the
    standard scale trick for ≤k hamming with k < bits/2 refined exactly
    afterwards. Pair expansion is a bucket EQUI-JOIN over the signature
    projection persisted once (same shape as embedding_neardup_pairs):
    the previous collect_list form put an entire prefix bucket's
    (id, bits) structs into ONE array cell — with 2^(bits/2)=256 fixed
    buckets, cell width grows linearly with corpus size (a 1B-doc corpus
    would put ~4M structs in one row). The equi-join keeps every row
    bounded (one candidate pair), shuffles only (prefix, id, bits), and
    ``id_a < id_b`` on the join condition halves the product and fixes
    pair orientation. persist() (not localCheckpoint) dedupes the double
    lineage execution a self-join would otherwise cause while keeping the
    plan recomputable on executor loss — simhash_signatures is
    deterministic, so recompute is safe.
    """
    half = num_bits // 2
    sig = (
        simhash_signatures(df, id_col, text_col, num_bits)
        .withColumn(
            "prefix",
            F.concat_ws("", *[F.col("bits")[i] for i in range(half)]),
        )
        .persist()
    )
    a = sig.select(
        "prefix",
        F.col("__id__").alias("id_a"),
        F.col("bits").alias("__abits__"),
    )
    b = sig.select(
        F.col("prefix").alias("__prefix2__"),
        F.col("__id__").alias("id_b"),
        F.col("bits").alias("__bbits__"),
    )
    pairs = a.join(
        b,
        (F.col("prefix") == F.col("__prefix2__"))
        & (F.col("id_a") < F.col("id_b")),
    )
    return (
        pairs.withColumn(
            "hamming",
            F.aggregate(
                F.zip_with(
                    F.col("__abits__"),
                    F.col("__bbits__"),
                    lambda x, y: F.when(x != y, 1).otherwise(0),
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def repeated_substring_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 40,
    stride: int = 1,
    max_pos: int = 4096,
    anchor_mod: int = 1,
) -> DataFrame:
    """Exact repeated-substring detection — the training-data dedup that
    set-similarity misses (Lee et al., "Deduplicating Training Data Makes
    Language Models Better": verbatim passages copied between otherwise
    different documents). MinHash/Jaccard score whole-document overlap;
    this finds any fixed-length window occurring verbatim in >= 2 docs.

    Emits every char window of length ``window`` at ``stride`` (window
    starts capped at ``max_pos`` so one pathological document cannot
    explode a task — the cap is part of the operator contract, applied
    identically in the SQL oracle), aggregates to (window, doc) ONCE,
    and reports per-doc counts of positions/windows shared with another
    document.

    Scale shape: one explode (rows x ~doc_len/stride, bounded by
    max_pos), then two hash shuffles — (window, doc) combine, then
    window — never an all-pairs document join. Groups on the LITERAL
    window text, so semantics are exact with no hash-collision caveat;
    at 100 TB shuffle xxhash64(window) instead and verify text equality
    within hash groups (documented drop-in).

    Sampling knobs, and what each one actually guarantees:

    - ``stride`` > 1 keeps every stride-th start position. CHEAP but
      alignment-sensitive: a passage shared by two docs is detected
      only when its offsets agree mod stride (p1 ≡ p2), because the
      window must begin at the same in-passage offset on both sides to
      compare equal. Right for block-aligned corpora (fixed-size chunk
      stores); wrong for free-text copies — a hypothesis test
      demonstrates the missed-detection case.
    - ``anchor_mod`` > 1 keeps a window iff the hash of its first 8
      chars selects it (xxhash64 % anchor_mod == 0) — content-defined
      chunking's anchor trick. Anchor positions depend only on the
      TEXT, so a shared passage produces the same anchors at the same
      in-passage offsets in every copy regardless of surrounding
      bytes: detection is offset-independent, with ~1/anchor_mod of
      the windows surviving to the shuffle (expected anchor spacing =
      anchor_mod chars; a passage with no anchor — probability
      (1-1/m)^L — is missed). The filter runs map-side after the
      explode, so it cuts SHUFFLE volume, which is the scale
      bottleneck, not the projection. This is the free-text scale
      path.

    The (window, doc) aggregate feeds both the shared-window set and
    the per-doc rollup, so it persists (bounded by distinct pairs;
    callers own unpersist, module convention).
    """
    eligible = docs.filter(F.length(text_col) >= window)
    starts = F.sequence(
        F.lit(1),
        F.least(F.length(text_col) - (window - 1), F.lit(max_pos)),
        F.lit(stride),
    )
    wins = eligible.select(
        F.col(id_col),
        F.explode(
            F.transform(
                starts, lambda p: F.col(text_col).substr(p, F.lit(window))
            )
        ).alias("w"),
    )
    if anchor_mod > 1:
        wins = wins.filter(
            F.pmod(F.xxhash64(F.substring("w", 1, 8)), F.lit(anchor_mod))
            == 0
        )
    wd = (
        wins.groupBy("w", id_col)
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    shared = (
        wd.groupBy("w")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("w")
    )
    return (
        wd.join(shared, "w")
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("shared_positions"),
            F.count(F.lit(1)).alias("distinct_shared_windows"),
        )
    )


def winnow_fingerprint_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_k: int = 4,
    window_w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS):
    hash every word ``gram_k``-gram, then for EVERY gram position take the
    minimum hash over the next ``window_w`` consecutive gram hashes; the
    distinct set of those minima is the document's fingerprint set. Returns
    (id, fp) rows. Unlike the single min-hash ``text.fingerprint`` this
    keeps ~n/w fingerprints per document, so two documents sharing ANY
    sufficiently long run of text share a fingerprint by construction —
    the guarantee MinHash only gives probabilistically.

    Tail windows are truncated (min over the remaining < w grams), so
    documents with fewer than ``window_w`` grams keep every gram hash;
    documents shorter than ``gram_k`` words fall back to one whole-text
    gram — mirroring ``word_shingle_rows``'s short-doc contract.

    Relational shape (the codegen-friendly form — see
    ``minhash_signatures``'s docstring for why nested array expressions
    lose): posexplode tokens → lead() k-grams → md5 → windowed min over
    the following w-1 rows. ONE exchange, on the id — and the shuffled
    payload is (id, pos, 16-byte hash), never document text. At 100 TB
    the fingerprint table is ~1/w of the gram count; downstream consumers
    join on fp, an md5-uniform key with no natural skew.
    """
    # (r12: the word_shingle_rows-style guarded fan-out was A/B'd here
    # and REVERTED with it — dedup_winnowing 1.14 -> 1.30 s min; the
    # lead() window's exchange already spreads the downstream work.)
    toks = df.select(
        F.col(id_col).alias("__id__"),
        F.posexplode(
            F.split(F.trim(F.col(text_col)), r"\s+")
        ).alias("pos", "tok"),
    )
    w_lead = Window.partitionBy("__id__").orderBy("pos")
    leads = [F.lead("tok", j).over(w_lead) for j in range(1, gram_k)]
    gram = F.concat_ws(" ", F.col("tok"), *leads)
    gh = (
        toks.withColumn(
            "gh",
            # 16 raw md5 bytes, not 32 hex chars (r11): the fingerprint
            # is a join/group key only, and byte-lexicographic min over
            # unhex(md5) selects the SAME gram as hex-string min (hex
            # and byte orderings agree for same-length lowercase hex),
            # so the fingerprint SET is representation-changed only —
            # the (id, pos, fp) shuffle halves its hash bytes.
            F.when(
                leads[-1].isNotNull() | (F.col("pos") == 0),
                F.unhex(F.md5(gram)),
            ),
        )
        .filter(F.col("gh").isNotNull())
        .select("__id__", "pos", "gh")
    )
    w_min = (
        Window.partitionBy("__id__")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window_w - 1)
    )
    return (
        gh.select("__id__", F.min("gh").over(w_min).alias("fp"))
        .distinct()
    )


def winnowing_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_k: int = 4,
    window_w: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = None,
    cache_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """Near-duplicate pairs by shared winnowing fingerprints: invert the
    (id, fp) table and equi-join on fp, keeping pairs sharing at least
    ``min_shared`` distinct fingerprints. Output (id_a, id_b, shared_fps)
    with id_a < id_b.

    ``max_fp_df`` drops fingerprints present in more than that many
    documents BEFORE pairing — the boilerplate guard: a header shared by
    100k docs would otherwise mint a 100k² bucket. With it, per-fp join
    fanout is bounded by max_fp_df² and the pair count by
    |fps|·max_fp_df²/2 — the same hot-bucket discipline as the LSH band
    join. Shuffles carry (fp, id) pairs only, never text.

    The fingerprint table is persisted once: the hot-fp anti-join and
    both self-join sides would otherwise each re-execute the tokenize →
    window lineage (Spark self-joins duplicate lineage; persist dedupes
    it, same convention as ``minhash_lsh_pairs``) — at corpus scale the
    fingerprint scan IS the dominant cost, so 4× would be the bill.
    Both persists are appended to ``cache_registry`` when given
    (ADVICE r11: long-lived sessions otherwise accumulate the blocks
    until release_cached_blocks); module convention otherwise.
    """
    fps = winnow_fingerprint_rows(
        df, id_col, text_col, gram_k, window_w
    ).persist()
    if cache_registry is not None:
        cache_registry.append(fps)
    if max_fp_df is not None:
        # hot set persisted (r11): both self-join sides anti-join it, and
        # without the persist each side re-runs the corpus-sized fp
        # document-frequency aggregate (the r11 plan audit showed the
        # Exchange + double HashAggregate subtree twice). The hot relation
        # itself is small (boilerplate fps only); the anti-join stays a
        # cheap broadcast on both sides.
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df__"))
            .filter(F.col("__df__") > max_fp_df)
            .select("fp")
            .persist()
        )
        if cache_registry is not None:
            cache_registry.append(hot)
        fps = fps.join(hot, "fp", "left_anti")
    a = fps.select(F.col("fp"), F.col("__id__").alias("id_a"))
    b = fps.select(F.col("fp"), F.col("__id__").alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
