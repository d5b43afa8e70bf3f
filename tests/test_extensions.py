"""Unit tests for the extension operators whose semantics the DuckDB oracle
can't fully pin down: approximate aggregates (error bound), P12's two
control-flow branches, LSH/IVF candidate-set containment vs brute force,
and the observe() metrics surface."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bag_parser_spark.operators import aggregates as agg
from bag_parser_spark.operators import joins, similarity
from bag_parser_spark.sources.parquet import load_table
from tests.conftest import SF_CORRECT


def test_approx_distinct_error_bound(spark):
    l = load_table(spark, SF_CORRECT, "lineitem")
    row = l.agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx"),
        F.count_distinct("l_partkey").alias("exact"),
    ).head()
    rel_err = abs(row["approx"] - row["exact"]) / row["exact"]
    assert rel_err < 0.05, f"approx={row['approx']} exact={row['exact']}"


def _orphan_fixture(spark):
    df = spark.createDataFrame(
        [(i, i % 10) for i in range(100)], "id long, fk long"
    )
    dim = spark.createDataFrame(
        [(k,) for k in range(10) if k % 3 != 0], "key long"
    )  # fks 0,3,6,9 are orphaned -> 40 orphan rows
    return df, dim


def test_p12_deletes_below_threshold(spark):
    df, dim = _orphan_fixture(spark)
    out = joins.conditional_orphan_delete(
        df, dim, on=F.col("fk") == F.col("key"), threshold=50
    )
    assert out.count() == 60
    assert out.filter(F.col("fk") % 3 == 0).count() == 0


def test_p12_refuses_mass_delete(spark):
    df, dim = _orphan_fixture(spark)
    out = joins.conditional_orphan_delete(
        df, dim, on=F.col("fk") == F.col("key"), threshold=40
    )
    assert out.count() == 100  # 40 orphans >= 40 -> unchanged


def _brute_pairs(spark, threshold):
    e = load_table(spark, SF_CORRECT, "embeddings")
    l = e.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("av"))
    r = e.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("bv"))
    return (
        l.crossJoin(r)
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.round(similarity.cosine(F.col("av"), F.col("bv")), 6).alias("cs"),
        )
        .filter(F.col("cs") >= threshold)
    )


def test_neardup_pairs_subset_of_bruteforce(spark):
    e = load_table(spark, SF_CORRECT, "embeddings")
    got = similarity.embedding_neardup_pairs(
        e, id_col="vec_id", vec_col="embedding", threshold=0.35, num_planes=6
    ).collect()
    assert len(got) > 0  # non-trivial at sf0.01
    brute = {
        (r["a_id"], r["b_id"]): r["cs"]
        for r in _brute_pairs(spark, 0.35).collect()
    }
    for r in got:
        key = (r["a_id"], r["b_id"])
        assert key in brute  # no false positives: exact verify after bucket
        assert r["cosine_sim"] == brute[key]


def test_neardup_pairs_identity_collapse_equals_pairwise(spark):
    """The r6 distinct-vector collapse must be row-identical to the plain
    bucketed pairwise form on a corpus with big exact-duplicate classes
    (8 copies of each base vector) plus near-but-not-identical vectors —
    covering cross-class expansion, within-class salted expansion, and
    orientation."""
    import math

    base = [
        [math.sin(0.7 * i + j) for j in range(8)] for i in range(6)
    ]
    rows = []
    vid = 0
    for i, v in enumerate(base):
        for _ in range(8):  # exact-duplicate class of 8
            rows.append((vid, v))
            vid += 1
        # a near (not identical) neighbor of each base vector
        rows.append((vid, [x + 0.01 for x in v]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # adaptive path picks the collapse on this dup-heavy corpus
    got = {
        (r["a_id"], r["b_id"]): r["cosine_sim"]
        for r in similarity.embedding_neardup_pairs(
            df, id_col="vec_id", vec_col="embedding",
            threshold=0.35, num_planes=4, dim=8,
        ).collect()
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="within_salt"):
        similarity.embedding_neardup_pairs(
            df, id_col="vec_id", vec_col="embedding",
            threshold=0.35, num_planes=4, dim=8, within_salt=0,
        )
    # the two explicit paths must agree with each other (and with `got`)
    for forced in (True, False):
        forced_rows = {
            (r["a_id"], r["b_id"]): r["cosine_sim"]
            for r in similarity.embedding_neardup_pairs(
                df, id_col="vec_id", vec_col="embedding",
                threshold=0.35, num_planes=4, dim=8, collapse=forced,
            ).collect()
        }
        assert forced_rows == got
    # reference: the plain pairwise bucket join (pre-collapse shape)
    planes = [similarity._pseudo_random_plane(p, 8) for p in range(4)]
    b = df.select(
        "vec_id",
        "embedding",
        similarity.lsh_bucket_expr(F.col("embedding"), planes).alias("bk"),
    )
    l = b.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("av"),
        F.col("bk"),
    )
    r = b.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("bv"),
        F.col("bk").alias("bk2"),
    )
    ref = {
        (x["a_id"], x["b_id"]): x["cs"]
        for x in l.join(
            r,
            (F.col("bk") == F.col("bk2")) & (F.col("a_id") < F.col("b_id")),
        )
        .select(
            "a_id",
            "b_id",
            F.round(
                similarity.cosine(F.col("av"), F.col("bv")), 6
            ).alias("cs"),
        )
        .filter(F.col("cs") >= 0.35)
        .collect()
    }
    assert len(ref) > 200  # classes of 8 -> at least 6*28 within pairs
    assert got == ref


def test_ivf_topk_scores_match_exact(spark):
    e = load_table(spark, SF_CORRECT, "embeddings")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).head()["embedding"]]
    cents = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    got = similarity.ivf_topk(
        e, id_col="vec_id", vec_col="embedding", query_vec=qv, k=10,
        centroids=cents, nprobe=2,
    ).collect()
    assert len(got) == 10
    q = F.array(*[F.lit(x) for x in qv])
    exact = {
        r["vec_id"]: r["cs"]
        for r in e.select(
            "vec_id",
            F.round(similarity.cosine(F.col("embedding"), q), 6).alias("cs"),
        ).collect()
    }
    for r in got:  # scores are exact even though the candidate set is pruned
        assert r["cosine_sim"] == exact[r["vec_id"]]
    assert got[0]["vec_id"] == 0  # query vector is in the corpus -> sim 1.0


def test_ivf_topk_string_centroid_ids(spark):
    """The cell-assignment argmax must be type-generic in the centroid id
    (r3 ADVICE: the old struct tiebreak negated cid, failing analysis for
    string/UUID ids). Same centroids as the numeric test but with ids like
    'cell-0000' — results must be identical to the numeric-id run."""
    e = load_table(spark, SF_CORRECT, "embeddings")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).head()["embedding"]]
    cents_num = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    # zero-padded so string min-cid ordering == numeric min-cid ordering
    cents_str = cents_num.select(
        F.format_string("cell-%04d", F.col("cid")).alias("cid"), "cv"
    )
    kw = dict(id_col="vec_id", vec_col="embedding", query_vec=qv, k=10, nprobe=2)
    got_str = similarity.ivf_topk(e, centroids=cents_str, **kw).collect()
    got_num = similarity.ivf_topk(e, centroids=cents_num, **kw).collect()
    assert [(r["vec_id"], r["cosine_sim"]) for r in got_str] == [
        (r["vec_id"], r["cosine_sim"]) for r in got_num
    ]
    assert got_str[0]["vec_id"] == 0


def test_multimodal_resize_and_frames(spark):
    from bag_parser_spark.operators import multimodal

    docs = load_table(spark, SF_CORRECT, "documents").limit(50)
    # REAL path: encode real PNGs executor-side, decode+resize them back
    png = multimodal.generate_png_payloads(docs)
    resized = multimodal.resize_images(png, target_w=8, target_h=8).collect()
    assert len(resized) == 50
    for r in resized:
        assert (r["width"], r["height"]) == (8, 8)
        assert len(r["payload"]) == 8 * 8 * 3  # raw RGB buffer
        # spot-check the corner pixel against the formula composed with the
        # nearest-neighbor floor map (dst 0 → src 0 → pixel(doc,0,0,c))
        doc = r["doc_id"]
        assert r["payload"][0] == multimodal.synthetic_pixel(doc, 0, 0, 0)
    # REAL video path: encode genuine Y4M streams, decode + sample frames
    vids = multimodal.generate_y4m_payloads(docs)
    frames = multimodal.sample_frames(vids, every_nth=2).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {r["doc_id"] for r in docs.select("doc_id").collect()}
    for doc_id, rows in by_doc.items():
        w, h, nf = multimodal.synthetic_video_spec(doc_id)
        assert all((r["width"], r["height"], r["n_frames"]) == (w, h, nf)
                   for r in rows)
        assert sorted(r["frame_no"] for r in rows) == list(range(0, nf, 2))
        for r in rows:
            expect_y = sum(
                multimodal.synthetic_plane_byte(doc_id, r["frame_no"], 0, i)
                for i in range(w * h)
            )
            assert r["y_sum"] == expect_y


def test_bucketed_join_is_exchange_free(spark):
    """Bucketed tables joined on the bucket key must plan a sort-merge join
    with NO shuffle exchange — the amortized 'index' S11 maps to. Broadcast
    is disabled for the check so the bucket path is actually exercised."""
    from bag_parser_spark.sources.parquet import write_bucketed

    o = load_table(spark, SF_CORRECT, "orders")
    l = load_table(spark, SF_CORRECT, "lineitem")
    write_bucketed(o, "t_orders_b", ["o_orderkey"], 8, ["o_orderkey"])
    write_bucketed(l, "t_lineitem_b", ["l_orderkey"], 8, ["l_orderkey"])
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("t_lineitem_b").join(
                spark.table("t_orders_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" not in plan
            assert joined.count() == l.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_observe_metrics(spark):
    l = load_table(spark, SF_CORRECT, "lineitem")
    observed, obs = agg.observed(
        l,
        "scan_metrics",
        {
            "rows_seen": F.count(F.lit(1)),
            "qty_sum": F.sum("l_quantity"),
        },
    )
    n = observed.count()  # run an action through the observed node
    assert obs.get["rows_seen"] == n
    assert obs.get["qty_sum"] > 0


def test_dup_clusters_components(spark):
    # chain 1-2-3-4 (diameter 3, needs >1 propagation round), triangle
    # 10-11-12, isolated pair 20-21 — all must resolve to min-id labels
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    from bag_parser_spark.operators import dedup

    out = dedup.dup_clusters(pairs, out_id="doc_id")
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in out.collect()
    }
    assert got == {
        1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4),
        10: (10, 3), 11: (10, 3), 12: (10, 3),
        20: (20, 2), 21: (20, 2),
    }


def test_hash_split_fractions_and_determinism(spark):
    from bag_parser_spark.operators import sampling

    df = spark.range(5000).withColumnRenamed("id", "doc_id")
    splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    a = sampling.hash_split(df, "doc_id", splits, seed=42)
    counts = {r["split"]: r["n"] for r in a.groupBy("split").agg(
        F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    # hash buckets approximate the fractions (±3% absolute at n=5000)
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    assert abs(counts["val"] / 5000 - 0.1) < 0.03
    # deterministic: same (seed, id) → same split regardless of layout
    b = sampling.hash_split(
        df.repartition(17), "doc_id", splits, seed=42)
    assert a.select("doc_id", "split").exceptAll(
        b.select("doc_id", "split")).count() == 0
    # a different seed reshuffles membership
    c = sampling.hash_split(df, "doc_id", splits, seed=43)
    assert a.select("doc_id", "split").exceptAll(
        c.select("doc_id", "split")).count() > 0


def test_pack_bins_bucketed_invariants(spark):
    """Whole-document bin packing (r11): every non-oversize bin's token
    total is <= ctx_len BY CONSTRUCTION (bin_cap * class_max <= ctx, or
    the clamp-to-1 top class), oversize docs sit alone and flagged,
    slots are dense 0..bin_cap-1 per bin, the layout is partitioning-
    independent, and the fill waste stays above the >50%-per-full-bin
    bound the docstring promises."""
    from bag_parser_spark.operators import sampling

    # adversarial lengths: power-of-two boundaries (64/65), clamp band
    # (ctx/2 < n <= ctx), oversize (> ctx), minimum (<=1 clamps to 1)
    lens = [1, 0, 2, 3, 63, 64, 65, 90, 96, 97, 200, 33, 32, 31] + [
        17 + (i % 50) for i in range(300)
    ]
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(lens)], "doc_id long, ntok long"
    )
    out = sampling.pack_bins_bucketed(
        df, "doc_id", F.col("ntok"), ctx_len=96,
        shard_col=F.pmod(F.col("doc_id"), F.lit(3)),
    ).persist()
    rows = out.collect()
    by_bin: dict = {}
    for r in rows:
        by_bin.setdefault(
            (r["len_class"], r["shard"], r["bin_no"]), []
        ).append(r)
    for key, members in by_bin.items():
        total = sum(m["n_tokens"] for m in members)
        caps = {m["bin_cap"] for m in members}
        assert len(caps) == 1
        if any(m["oversize"] for m in members):
            assert len(members) == 1  # oversize docs sit alone
        else:
            assert total <= 96, (key, total)
        # dense slots 0..len-1, within capacity
        slots = sorted(m["slot"] for m in members)
        assert slots == list(range(len(members)))
        assert len(members) <= caps.pop()
    # n<=1 clamps into class 1; boundary docs take their exact class
    cls = {r["doc_id"]: r["len_class"] for r in rows}
    assert cls[0] == 1 and cls[1] == 1  # n=1, n=0
    assert cls[5] == 64 and cls[6] == 128  # n=64 vs n=65
    over = {r["doc_id"] for r in rows if r["oversize"]}
    assert over == {9, 10}  # n=97, n=200
    # >ctx/2 docs (65, 90, 96) clamp to 1-per-bin
    for d in (6, 7, 8):
        assert [r["bin_cap"] for r in rows if r["doc_id"] == d] == [1]
    # partitioning-independent layout
    out2 = sampling.pack_bins_bucketed(
        df.repartition(13), "doc_id", F.col("ntok"), ctx_len=96,
        shard_col=F.pmod(F.col("doc_id"), F.lit(3)),
    )
    assert out.exceptAll(out2).count() == 0 and out2.count() == len(rows)
    # full bins beat the 50% fill bound
    for key, members in by_bin.items():
        cap = members[0]["bin_cap"]
        if len(members) == cap and not members[0]["oversize"] and cap > 1:
            assert sum(m["n_tokens"] for m in members) > 96 // 2
    out.unpersist()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="ctx_len"):
        sampling.pack_bins_bucketed(
            df, "doc_id", F.col("ntok"), ctx_len=0, shard_col=F.lit(0)
        )


def test_pack_sequences_stream_invariants(spark):
    from bag_parser_spark.operators import sampling

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 97 + 1).alias("ntok"),
    )
    out = sampling.pack_sequences(
        df, "doc_id", F.col("ntok"), ctx_len=64,
        shard_col=(F.col("doc_id") % 4), order_by=["doc_id"],
    ).collect()
    by_shard: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["doc_id"])):
        by_shard.setdefault(r["shard"], []).append(r)
    for rows in by_shard.values():
        offset = 0
        for r in rows:  # offsets are the contiguous token stream
            assert r["token_offset"] == offset
            assert r["first_chunk"] == offset // 64
            assert r["last_chunk"] == (offset + r["n_tokens"] - 1) // 64
            offset += r["n_tokens"]


def test_dup_clusters_long_chain_converges(spark):
    # 80-node chain: diameter 79 — plain hash-min would need 79 rounds;
    # path compression converges within the default max_iter
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(80)], "id_a long, id_b long"
    )
    from bag_parser_spark.operators import dedup

    out = dedup.dup_clusters(pairs, out_id="doc_id").collect()
    assert all(r["cluster_id"] == 0 for r in out)
    assert all(r["cluster_size"] == 81 for r in out)
    assert len(out) == 81


def test_ngram_jaccard_max_df_prunes_hot_shingles(spark):
    # Skewed corpus: every doc shares the stop-gram "the quick fox" (df=10),
    # while only pair-mates (2p, 2p+1) share discriminating shingles. The
    # hot shingle alone would make ALL C(10,2)=45 doc pairs candidates — the
    # quadratic bucket max_df exists to prevent; with it pruned, only true
    # near-dup pairs survive, and Jaccard is exact over the pruned universe.
    from bag_parser_spark.operators import dedup

    docs = []
    for i in range(10):
        p = i // 2
        toks = ["the", "quick", "fox", f"p{p}a", f"p{p}b", f"p{p}c"]
        if i % 2 == 1:
            toks.append(f"x{i}")
        docs.append((i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    uncapped = dedup.ngram_jaccard_pairs(
        df, id_col="doc_id", text_col="text", shingle_n=3, threshold=0.01
    )
    assert uncapped.count() == 45  # hot shingle makes every pair a candidate

    capped = dedup.ngram_jaccard_pairs(
        df, id_col="doc_id", text_col="text", shingle_n=3, threshold=0.01,
        max_df=5,
    ).collect()
    got = {(r["id_a"], r["id_b"]): r for r in capped}
    assert set(got) == {(2 * p, 2 * p + 1) for p in range(5)}
    for r in got.values():
        # even doc: 4 shingles - 1 hot = 3; odd doc: 5 - 1 = 4; overlap 3
        assert (r["size_a"], r["size_b"], r["intersection"]) == (3, 4, 3)
        assert abs(r["jaccard"] - 0.75) < 1e-12


def test_chunk_documents_invariants(spark):
    # every token covered, windows overlap by exactly `overlap`, last
    # window reaches the document end, no degenerate tail chunks
    from bag_parser_spark.operators import sampling

    texts = [
        (1, " ".join(f"t{i}" for i in range(100))),   # multi-chunk
        (2, " ".join(f"t{i}" for i in range(32))),    # exactly ctx
        (3, " ".join(f"t{i}" for i in range(5))),     # shorter than ctx
        (4, " ".join(f"t{i}" for i in range(33))),    # ctx + 1
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    out = sampling.chunk_documents(
        df, id_col="doc_id", text_col="text", ctx_len=32, overlap=8
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    n_tokens = {1: 100, 2: 32, 3: 5, 4: 33}
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_no"])
        n = n_tokens[doc_id]
        covered = set()
        for r in rows:
            assert r["token_start"] == r["chunk_no"] * 24
            end = min(r["token_start"] + 32, n)
            assert r["n_chunk_tokens"] == end - r["token_start"]
            assert len(r["chunk_text"].split(" ")) == r["n_chunk_tokens"]
            covered.update(range(r["token_start"], end))
        assert covered == set(range(n)), f"doc {doc_id} missed tokens"
        assert rows[-1]["token_start"] + 32 >= n  # last window hits the end
    assert len(by_doc[2]) == 1 and len(by_doc[3]) == 1
    assert len(by_doc[4]) == 2


def test_contamination_check_known_leak(spark):
    # doc 10 is a verbatim copy of train doc 0 -> ratio 1.0; doc 11 shares
    # nothing -> ratio 0.0 and must still appear in the output (left join)
    from bag_parser_spark.operators import dedup

    train = spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(20))),
         (1, " ".join(f"v{i}" for i in range(20)))],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(10, " ".join(f"w{i}" for i in range(20))),
         (11, " ".join(f"z{i}" for i in range(20)))],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.contamination_check(
            train, test, id_col="doc_id", text_col="text", shingle_n=8
        ).collect()
    }
    assert out[10]["contamination_ratio"] == 1.0
    assert out[11]["contamination_ratio"] == 0.0
    assert out[10]["n_shingles"] == 13  # 20 tokens -> 13 8-grams


# ---------------------------------------------------------------------------
# Time-series operators (operators/timeseries.py)
# ---------------------------------------------------------------------------

def _asof_fixture(spark):
    left = spark.createDataFrame(
        [
            (1, 10, "2024-01-01 02:00:00"),  # matches r@01:00
            (2, 10, "2024-01-01 01:00:00"),  # equal ts -> inclusive match
            (3, 10, "2024-01-01 00:30:00"),  # before any right -> null
            (4, 99, "2024-01-01 05:00:00"),  # user with no right rows
        ],
        "event_id long, user_id long, ts_s string",
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [
            (10, "2024-01-01 01:00:00", 7.0),
            (10, "2024-01-01 01:30:00", 8.0),
        ],
        "user_id long, ts_s string, v double",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    return left, right


def test_asof_join_backward_inclusive_and_unmatched(spark):
    from bag_parser_spark.operators import timeseries

    left, right = _asof_fixture(spark)
    out = {
        r["event_id"]: (r["matched_ts"], r["matched_v"])
        for r in timeseries.asof_join(
            left, right, on="user_id", right_payload=["v"]
        ).collect()
    }
    assert out[1][1] == 8.0          # latest right at-or-before 02:00
    assert out[2][1] == 7.0          # equal timestamp matches (inclusive)
    assert out[3] == (None, None)    # left row earlier than all right rows
    assert out[4] == (None, None)    # key absent from right side entirely
    assert len(out) == 4             # left join: every left row survives


def test_asof_join_right_tiebreak_last_write_wins(spark):
    from bag_parser_spark.operators import timeseries

    left = spark.createDataFrame(
        [(1, 5, "2024-01-01 02:00:00")], "event_id long, user_id long, ts_s string"
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(5, "2024-01-01 01:00:00", 1.0, 100), (5, "2024-01-01 01:00:00", 2.0, 200)],
        "user_id long, ts_s string, v double, seq long",
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "v", "seq"
    )
    row = timeseries.asof_join(
        left, right, on="user_id", right_payload=["v"], right_tiebreak="seq"
    ).head()
    assert row["matched_v"] == 2.0  # largest tiebreak wins among equal ts


def test_topk_per_key_bounded_and_ordered(spark):
    from bag_parser_spark.operators import timeseries

    df = spark.createDataFrame(
        [(k, i, float((i * 7) % 13)) for k in range(3) for i in range(20)],
        "key long, id long, v double",
    )
    out = timeseries.topk_per_key(
        df, key="key", order_col="v", tiebreak="id", k=4
    )
    rows = out.collect()
    assert len(rows) == 12
    for k in range(3):
        vals = sorted(
            (r["v"] for r in rows if r["key"] == k), reverse=True
        )
        top4 = sorted(
            (float((i * 7) % 13) for i in range(20)), reverse=True
        )[:4]
        assert vals == top4


def test_global_shuffle_rank_is_exact_permutation(spark):
    from bag_parser_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(977)], "doc_id long")
    out = sampling.global_shuffle_rank(df, id_col="doc_id", seed="t").collect()
    positions = sorted(r["shuffle_pos"] for r in out)
    assert positions == list(range(1, 978))  # exact, gap-free global rank
    # equals the single-window form (bucket prefix preserves hash order)
    single = {
        r["doc_id"]: r["pos"]
        for r in df.selectExpr(
            "doc_id",
            "row_number() over (order by md5(concat('t:', cast(doc_id as string))), doc_id) as pos",
        ).collect()
    }
    assert all(single[r["doc_id"]] == r["shuffle_pos"] for r in out)


def test_remove_common_lines_keeps_empty_docs(spark):
    from bag_parser_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, "boiler a boiler"), (2, "boiler b"), (3, "boiler")],
        "doc_id long, text string",
    )
    # 'boiler' in 3/3 docs -> removed at frac 0.5; doc 3 becomes ''
    out = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in T.remove_common_lines(df, max_df_frac=0.5).collect()
    }
    assert out[1] == ("a", 1, 2)
    assert out[2] == ("b", 1, 1)
    assert out[3] == ("", 0, 1)  # fully-boilerplate doc survives as ''


def test_repetition_metrics_flags_degenerate_doc(spark):
    from bag_parser_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "all words here differ")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.repetition_metrics(df).collect()}
    assert out[1]["dup_word_frac"] == 0.75
    assert out[1]["top_word_frac"] == 1.0
    assert out[1]["dup_2gram_frac"] == round(1 - 1 / 3, 6)
    assert out[2]["dup_word_frac"] == 0.0
    assert out[2]["dup_2gram_frac"] == 0.0


def test_quantile_band_filter_bounds(spark):
    from bag_parser_spark.operators import sampling

    df = spark.createDataFrame([(i, i) for i in range(1, 101)], "id long, v long")
    out = sampling.quantile_band_filter(df, "v", 0.10, 0.90)
    rows = out.collect()
    lo, hi = rows[0]["band_lo"], rows[0]["band_hi"]
    assert 1 <= lo < hi <= 100
    assert all(lo <= r["v"] <= hi for r in rows)
    # exact percentile of 1..100 at p10/p90: linear interpolation
    assert lo == round(1 + 0.10 * 99, 6) and hi == round(1 + 0.90 * 99, 6)


def test_salted_join_equals_plain_join(spark):
    from bag_parser_spark.operators import joins

    left = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"k{i}") for i in range(200)],
        "id long, key string",
    )
    right = spark.createDataFrame(
        [("hot", 1.0)] + [(f"k{i}", float(i)) for i in range(0, 200, 10)],
        "key string, payload double",
    )
    salted = joins.salted_join(left, right, on="key", salt=8, salt_source="id")
    plain = left.join(right, on="key")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # left join keeps unmatched rows exactly once
    right_missing = right.filter(F.col("key") != "hot")
    lsalted = joins.salted_join(
        left, right_missing, on="key", salt=8, salt_source="id", how="left"
    )
    lplain = left.join(right_missing, on="key", how="left")
    assert sorted(map(tuple, lsalted.collect())) == sorted(
        map(tuple, lplain.collect())
    )


def test_update_join_matched_unmatched_and_new_columns(spark):
    """Matched rows take the source value even when it is NULL, unmatched
    rows keep theirs, and a source-only column is added, NULL where
    unmatched."""
    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, s string, v int"
    )
    source = spark.createDataFrame(
        [(1, None, "x"), (2, "B", "y")], "k int, s string, extra string"
    )
    out = joins.update_join(target, source, "k")
    assert out.columns == ["k", "s", "v", "extra"]
    assert sorted(map(tuple, out.collect())) == [
        (1, None, 10, "x"), (2, "B", 20, "y"), (3, "c", 30, None)
    ]


def test_update_join_keeps_callers_broadcast_hint(spark):
    """With automatic broadcast off, a caller's F.broadcast(source) still
    plans a BroadcastHashJoin through the operator's renames."""
    target = spark.range(100).select(F.col("id").alias("k"), F.lit("t").alias("s"))
    source = spark.range(0, 100, 7).select(
        F.col("id").alias("k"), F.lit("u").alias("s")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = joins.update_join(target, F.broadcast(source), "k")
        plain = joins.update_join(target, source, "k")

        def plan(df):
            return df._jdf.queryExecution().executedPlan().toString()

        assert "BroadcastHashJoin" in plan(hinted)
        assert "BroadcastHashJoin" not in plan(plain)
        assert hinted.filter(F.col("s") == "u").count() == 15
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_scd2_intervals_chain(spark):
    from bag_parser_spark.operators import timeseries

    df = spark.createDataFrame(
        [
            (1, 10, "2024-01-01 00:00:00", "a"),
            (1, 11, "2024-01-02 00:00:00", "b"),
            (1, 12, "2024-01-03 00:00:00", "c"),
            (2, 20, "2024-01-01 00:00:00", "x"),
        ],
        "k long, seq long, ts_s string, attr string",
    ).select("k", "seq", F.col("ts_s").cast("timestamp").alias("ts"), "attr")
    rows = {
        r["seq"]: r
        for r in timeseries.scd2_intervals(
            df, key="k", change_ts="ts", tiebreak="seq", attrs=["attr"]
        ).collect()
    }
    # intervals chain: each valid_to equals the next change's valid_from
    assert rows[10]["valid_to"] == rows[11]["valid_from"]
    assert rows[11]["valid_to"] == rows[12]["valid_from"]
    assert rows[12]["valid_to"] is None and rows[12]["is_current"]
    assert rows[20]["valid_to"] is None and rows[20]["is_current"]
    assert not rows[10]["is_current"] and not rows[11]["is_current"]


def test_gapfill_resample_fills_and_ffills(spark):
    from bag_parser_spark.operators import timeseries

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", 5.0),
            (1, "2024-01-01 03:20:00", 7.0),  # 2 empty hours between
            (2, "2024-01-01 01:00:00", 1.0),
        ],
        "k long, ts_s string, value double",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    rows = {
        (r["k"], r["bucket"].hour): (r["n_events"], r["ffill_max_value"])
        for r in timeseries.gapfill_resample(
            df, key="k", ts_col="ts", value_col="value"
        ).collect()
    }
    # key 1: hours 0..3 all present; gaps carry value 5.0 forward
    assert rows[(1, 0)] == (1, 5.0)
    assert rows[(1, 1)] == (0, 5.0)
    assert rows[(1, 2)] == (0, 5.0)
    assert rows[(1, 3)] == (1, 7.0)
    # key 2: single bucket, no spine inflation
    assert rows[(2, 1)] == (1, 1.0)
    assert len(rows) == 5


def test_exact_moments_matches_statistics(spark):
    import statistics

    from bag_parser_spark.operators import aggregates as agg

    vals = [3, 1, 4, 1, 5, 9, 2, 6]
    df = spark.createDataFrame(
        [("g", v) for v in vals] + [("solo", 42)], "grp string, x long"
    )
    rows = {
        r["grp"]: r
        for r in agg.exact_moments(df, ["grp"], "x").collect()
    }
    assert rows["g"]["n"] == len(vals)
    assert rows["g"]["mean"] == statistics.fmean(vals)
    assert abs(rows["g"]["var_samp"] - statistics.variance(vals)) < 1e-9
    # singleton group: variance undefined, not a division blowup
    assert rows["solo"]["var_samp"] is None
    assert rows["solo"]["stddev_samp"] is None


def test_kmeans_converges_on_blobs(spark):
    from bag_parser_spark.operators import clustering

    # two tight blobs in 4-d; seeds (lowest ids) start one in each blob
    blob_a = [[0.9 + 0.01 * j, 0.1, 0.0, 0.0] for j in range(10)]
    blob_b = [[0.0, 0.0, 0.8, 0.2 + 0.01 * j] for j in range(10)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate([blob_a[0], blob_b[0]] + blob_a[1:] + blob_b[1:])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = clustering.kmeans(df, k=2, iters=3).collect()
    members = {r["cid"]: r["n_members"] for r in out}
    # each centroid owns exactly its blob
    assert sorted(members.values()) == [10, 10]
    # centroid 0 (seeded in blob_a) dim 1 ~ mean of 0.9..0.99
    c0 = {r["i"]: r["centroid_val"] for r in out if r["cid"] == 0}
    assert abs(c0[1] - (0.9 + sum(0.01 * j for j in range(1, 10)) / 10 - 0.0)) < 0.05
    assert c0[3] < 0.01  # no blob_b mass
    c1 = {r["i"]: r["centroid_val"] for r in out if r["cid"] == 1}
    assert c1[3] > 0.7 and c1[1] < 0.01


def test_zorder_key_known_values(spark):
    from bag_parser_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [(0b1010, 0b0101), (0, 0), (0xFFFF, 0), (0, 0xFFFF), (3, 3)],
        "a long, b long",
    )
    rows = [
        r["z"]
        for r in df.select(
            zorder_key(F.col("a"), F.col("b")).alias("z")
        ).collect()
    ]
    # a=1010 -> even bits 2,6; b=0101 -> odd bits 1,5: 0b01100110 = 68|34
    assert rows[0] == 0b01000100 | 0b00100010
    assert rows[1] == 0
    # a fills even bit positions only; b odd only — disjoint, interleaved
    assert rows[2] == 0x55555555
    assert rows[3] == 0xAAAAAAAA
    assert rows[4] == 0b1111  # (3,3) -> low two bit-pairs set


def test_audio_features_8bit_unsigned_recentering(spark):
    """8-bit WAV is unsigned (silence = 128): amplitude stats must
    recenter, or DC offset reads as signal."""
    from bag_parser_spark.functions import wav_codec
    from bag_parser_spark.operators import multimodal

    silence = wav_codec.encode_wav([128] * 40, 8000, 1, 8)
    loud = wav_codec.encode_wav([0, 255] * 20, 8000, 1, 8)
    df = spark.createDataFrame(
        [(1, bytearray(silence)), (2, bytearray(loud))],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r
            for r in multimodal.extract_audio_features(df).collect()}
    assert rows[1]["mean_abs"] == 0.0 and rows[1]["peak_abs"] == 0
    assert rows[2]["peak_abs"] == 128  # |0-128| = 128, |255-128| = 127
    assert rows[2]["mean_abs"] == 127.5


def _rss_rows(spark, stride, max_pos=4096):
    from bag_parser_spark.operators.dedup import repeated_substring_stats

    docs = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "xxabcdef"), (3, "zzzz")],
        "doc_id long, text string",
    )
    out = repeated_substring_stats(
        docs, window=4, stride=stride, max_pos=max_pos
    )
    return {r["doc_id"]: (r["shared_positions"], r["distinct_shared_windows"])
            for r in out.collect()}


def test_repeated_substrings_stride1_known_values(spark):
    """window=4: docs 1/2 share 'abcd','bcde','cdef'; doc 3's only window
    ('zzzz') is unique so it must not appear."""
    got = _rss_rows(spark, stride=1)
    assert got == {1: (3, 3), 2: (3, 3)}


def test_repeated_substrings_stride2_alignment(spark):
    """stride=2 samples positions 1,3,5: doc1 emits abcd/cdef/efgh, doc2
    xxab/abcd/cdef — the shared run starts at offsets 1 and 3, congruent
    mod 2, so the aligned-copy case stride is designed for detects abcd
    and cdef (misaligned copies are the documented miss; see
    test_properties.test_repeated_substring_stride_misalignment)."""
    got = _rss_rows(spark, stride=2)
    assert got == {1: (2, 2), 2: (2, 2)}


def test_repeated_substrings_position_cap(spark):
    """max_pos=1 keeps only each doc's first window: doc1 'abcd', doc2
    'xxab' — nothing shared, empty result. The cap must bound the explode,
    not shift window contents."""
    got = _rss_rows(spark, stride=1, max_pos=1)
    assert got == {}


def test_leakage_safe_split_never_straddles_clusters(spark):
    """The whole point of split_leakage_safe: every near-dup cluster maps
    to exactly ONE split — and the guarantee is non-vacuous, because the
    naive per-doc hash split DOES straddle clusters on the same corpus."""
    from bag_parser_spark.operators import dedup as dd
    from bag_parser_spark.operators import sampling
    from bag_parser_spark.plans import catalog_ext as CE
    from bag_parser_spark.plans.catalog import registry

    corpus = CE._corpus(spark, SF_CORRECT)
    pairs = dd.minhash_lsh_pairs(
        corpus, id_col="doc_id", text_col="text",
        shingle_n=CE._MH_N, num_hashes=CE._MH_HASHES, bands=CE._MH_BANDS,
    )
    comp = dd.dup_clusters(pairs, out_id="doc_id").select(
        "doc_id", "cluster_id"
    )

    safe = registry()["split_leakage_safe"].fn(spark, SF_CORRECT)
    straddled = (
        safe.join(comp, "doc_id")
        .groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
    )
    assert straddled.count() == 0

    naive = sampling.hash_split(
        corpus.select("doc_id"), id_col="doc_id",
        splits=CE._SPLITS, seed=CE._SPLIT_SEED,
    )
    naive_straddled = (
        naive.join(comp, "doc_id")
        .groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
    )
    assert naive_straddled.count() > 0


# ---------------------------------------------------------------------------
# round-4 additions: BM25, hashed classifier, OHLC bars
# ---------------------------------------------------------------------------

def test_bm25_ranks_matching_doc_first(spark):
    from bag_parser_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark spark spark join filler filler"),
            (2, "filler filler filler filler filler filler"),
            (3, "spark filler filler filler filler filler"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(df, ["spark", "join"], top_k=10).collect()
    ranked = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
    # doc 2 has no query term at all -> absent; doc 1 (tf=3 + 'join') first
    assert ranked == [1, 3]
    top = out[0] if out[0]["rank"] == 1 else out[1]
    assert top["n_terms_matched"] == 2 and top["bm25"] > 0


def test_bm25_topk_plan_uses_bounded_heap(spark):
    """Global top-k must be TakeOrderedAndProject (O(k) per-task heaps),
    not a single-partition global sort of every document."""
    from bag_parser_spark.plans.catalog import registry

    df = registry()["text_bm25_topk"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_hash_classifier_integer_exact(spark):
    """score_milli must equal the Python-side integer recomputation: the
    hashed-feature sum is exact integer math, independent of partitioning."""
    import hashlib

    from bag_parser_spark.operators.text import hash_classifier_scores

    def md5_mod_py(value, seed, mod):
        h = hashlib.md5(f"{seed}:{value}".encode()).hexdigest()[:8]
        return int(h, 16) % mod

    docs = [(1, "alpha beta gamma alpha"), (2, "delta epsilon")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in hash_classifier_scores(
            df, n_buckets=64, seed="clf", w_mod=1000
        ).collect()
    }
    for doc_id, textv in docs:
        expected = sum(
            md5_mod_py(md5_mod_py(t, "clf:b", 64), "clf:w", 1000) - 500
            for t in textv.lower().split()
        )
        assert out[doc_id]["score_milli"] == expected
        assert out[doc_id]["n_tokens"] == len(textv.split())
        assert 0.0 <= out[doc_id]["prob"] <= 1.0


def test_hash_classifier_repartition_invariant(spark):
    from bag_parser_spark.operators.text import hash_classifier_scores
    from bag_parser_spark.sources.parquet import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = hash_classifier_scores(d).orderBy("doc_id").collect()
    b = (
        hash_classifier_scores(d.repartition(13))
        .orderBy("doc_id")
        .collect()
    )
    assert a == b


def test_ohlc_open_close_deterministic_under_ts_ties(spark):
    """Two events share the same timestamp: open/close must follow the
    ordinal (event_id) tiebreak, not arrival/partition order."""
    import datetime

    from bag_parser_spark.operators.timeseries import ohlc_bars

    t0 = datetime.datetime(2024, 1, 1, 10, 15, 0)
    rows = [
        (2, t0, "click", 50.0),          # same ts as event 1 — id breaks tie
        (1, t0, "click", 10.0),
        (3, t0.replace(minute=40), "click", 99.0),
        (4, t0.replace(minute=50), "click", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, event_type string, value double"
    )
    for n_parts in (1, 7):
        out = ohlc_bars(
            df.repartition(n_parts),
            key_cols=["event_type"],
            ordinal_col="event_id",
        ).collect()
        assert len(out) == 1
        bar = out[0]
        assert bar["open"] == 10.0   # event_id 1 wins the ts tie
        assert bar["close"] == 5.0   # latest ts
        assert bar["high"] == 99.0 and bar["low"] == 5.0
        assert bar["n_events"] == 4


def test_bpe_pair_counts_single_char_words_and_weighting(spark):
    """Single-char words contribute no pairs (Spark sequence(1,0) is
    DESCENDING, not empty — the guard matters), and counts weight by
    word frequency, not unique words."""
    from bag_parser_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "ab ab a"), (2, "ab bc")], "doc_id long, text string"
    )
    out = {r["pair"]: r["pair_count"] for r in bpe_pair_counts(df).collect()}
    assert out == {"ab": 3, "bc": 1}  # 'a' alone contributes nothing


def test_k_anonymity_report_counts(spark):
    from bag_parser_spark.operators.governance import k_anonymity_report

    df = spark.createDataFrame(
        [
            ("nl", "a", 1.0), ("nl", "a", 2.0), ("nl", "a", 2.0),
            ("de", "b", 5.0),                      # singleton -> at risk
        ],
        "nation string, seg string, bal double",
    )
    r = k_anonymity_report(
        df, quasi_cols=["nation", "seg"], sensitive_col="bal", k=2
    ).collect()[0]
    assert r["n_groups"] == 2
    assert r["n_violating_groups"] == 1 and r["rows_at_risk"] == 1
    assert r["min_group_size"] == 1
    assert r["min_l_diversity"] == 1  # the singleton group


def test_multimodal_honors_caller_id_column(spark):
    """id_col must flow through to the OUTPUT schema — a caller keyed on
    vec_id must not get rows silently renamed to doc_id."""
    from bag_parser_spark.operators import multimodal
    from bag_parser_spark.sources.parquet import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(5)
    png = multimodal.generate_png_payloads(e, id_col="vec_id")
    assert png.columns[0] == "vec_id"
    feats = multimodal.extract_image_features(png, id_col="vec_id")
    assert feats.columns[0] == "vec_id"
    joined = feats.join(e, "vec_id")
    assert joined.count() == 5


def test_sample_frames_c420_plane_sums(spark):
    """Subsampled chroma: a real C420 stream's U/V sums must come from
    the decoder's plane sizes, not w*h arithmetic (which mixes planes and
    reads past the frame)."""
    from bag_parser_spark.operators import multimodal

    header = b"YUV4MPEG2 W4 H4 F25:1 C420jpeg\n"
    f0 = bytes(range(24))  # Y=16 bytes, U=4, V=4
    df = spark.createDataFrame(
        [(1, header + b"FRAME\n" + f0)], "doc_id long, payload binary"
    )
    row = multimodal.sample_frames(df, every_nth=1).collect()[0]
    assert row["y_sum"] == sum(range(16))
    assert row["u_sum"] == sum(range(16, 20))
    assert row["v_sum"] == sum(range(20, 24))


def test_ohlc_order_key_survives_int64_scale_ordinals(spark):
    """Snowflake-scale (19-digit) ordinals must still give a total order:
    a 12-char pad would truncate them to equal keys and make open/close
    nondeterministic under equal timestamps."""
    import datetime

    from bag_parser_spark.operators.timeseries import ohlc_bars

    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)
    big = 1_000_000_000_000_000_17  # 18 digits, differs past position 12
    rows = [(big + 1, t0, "click", 50.0), (big, t0, "click", 10.0)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, event_type string, value double"
    )
    for n_parts in (1, 5):
        bar = ohlc_bars(
            df.repartition(n_parts),
            key_cols=["event_type"],
            ordinal_col="event_id",
        ).collect()[0]
        assert bar["open"] == 10.0 and bar["close"] == 50.0


def test_image_ahash_handles_grayscale_and_rgba(spark):
    """aHash must index by the image's REAL channel count: grayscale
    thumbnails are 64 bytes (a 3-wide stride reads past the buffer) and
    RGBA's 4th byte is alpha, not color. A gray image and its RGB
    expansion must hash identically; an RGBA image must ignore alpha."""
    from bag_parser_spark.functions.png_codec import encode_png
    from bag_parser_spark.operators import multimodal

    w, h = 8, 8
    gray = bytes((17 * (x + y)) % 256 for y in range(h) for x in range(w))
    rgb = b"".join(bytes([v, v, v]) for v in gray)
    rgba = b"".join(bytes([v, v, v, (v * 7) % 256]) for v in gray)
    df = spark.createDataFrame(
        [
            (1, encode_png(w, h, gray, channels=1)),
            (2, encode_png(w, h, rgb, channels=3)),
            (3, encode_png(w, h, rgba, channels=4)),
        ],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in multimodal.image_ahash(df).collect()}
    # gray: luma = v; rgb: luma = 3v — mean test is scale-invariant
    assert out[1]["ahash"] == out[2]["ahash"]
    # rgba alpha excluded -> same bits as the rgb image
    assert out[3]["ahash"] == out[2]["ahash"]
    assert 0 < out[1]["n_ones"] < 64


def test_mm_neardup_hamming_builtin_equivalence(spark):
    """VERDICT r10 #6: mm_image_neardup's hamming refine now uses JVM
    conv/xor/bit_count instead of the 16-nibble arithmetic emulation
    whose ~600-node tree Janino could not compile (the one codegen
    ERROR in every bench run). Pin value equivalence against Python's
    popcount over adversarial + random 64-bit hex pairs, and that the
    refine join's generated code actually COMPILES (no interpreted
    fallback: a fresh run of the query emits no CodeGenerator error —
    checked via the plan executing with codegen.fallback disabled)."""
    import random

    from bag_parser_spark.plans.catalog import registry

    rng = random.Random(11)
    pairs = [
        ("0" * 16, "f" * 16),
        ("8000000000000000", "0000000000000001"),
        ("ffffffffffffffff", "ffffffffffffffff"),
    ] + [
        (f"{rng.getrandbits(64):016x}", f"{rng.getrandbits(64):016x}")
        for _ in range(50)
    ]
    df = spark.createDataFrame(pairs, "ha string, hb string")

    def half(col, start):
        return F.conv(F.substring(col, start, 8), 16, 10).cast("long")

    ham = (
        F.bit_count(half("ha", 1).bitwiseXOR(half("hb", 1)))
        + F.bit_count(half("ha", 9).bitwiseXOR(half("hb", 9)))
    ).cast("long")
    for r in df.withColumn("h", ham).collect():
        expect = bin(int(r["ha"], 16) ^ int(r["hb"], 16)).count("1")
        assert r["h"] == expect, (r["ha"], r["hb"], r["h"], expect)
    # the full query must run with codegen fallback DISABLED — if the
    # refine expression ever regresses past Janino's limits again, this
    # raises instead of silently interpreting
    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        out = registry()["mm_image_neardup"].fn(
            spark, "/root/testdata/sf0.001"
        )
        assert out.count() > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


def test_verify_pairs_jaccard_refines_candidates(spark):
    # doc0/doc1 share 2 of 4 distinct shingles (J=0.5); doc0/doc2 share
    # none — a candidate generator that emitted both pairs must keep only
    # the first at tau=0.5 and neither at tau=0.6
    from bag_parser_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (0, "a b c d e"),   # shingles {abc, bcd, cde}
            (1, "a b c d x"),   # shingles {abc, bcd, cdx}
            (2, "p q r s t"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2)], "id_a long, id_b long"
    )
    kept = dedup.verify_pairs_jaccard(
        docs, pairs, id_col="doc_id", text_col="text", threshold=0.5
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in kept] == [(0, 1)]
    assert abs(kept[0]["jaccard"] - 0.5) < 1e-12
    assert (
        dedup.verify_pairs_jaccard(
            docs, pairs, id_col="doc_id", text_col="text", threshold=0.6
        ).count()
        == 0
    )


def test_prepare_corpus_keeps_lsh_false_positives(spark, tmp_path):
    """ADVICE r4 (medium): raw banded-LSH candidates must NOT merge
    clusters directly — a bucket collision between docs at true Jaccard
    < tau would delete a non-duplicate document. This fixture is a
    PRECOMPUTED deterministic false positive: doc1/doc2 share 60 of 100
    tokens (shingle Jaccard 0.4203 < 0.5) yet collide in band 0 of the
    12-hash/4-band scheme (verified against the md5 family offline).
    doc3 is a true near-dup of doc1 and must still be dropped."""
    from bag_parser_spark.operators import dedup
    from bag_parser_spark.plans.corpus_prep import prepare_corpus

    shared = [f"s{i}" for i in range(60)]
    d1 = " ".join(shared + [f"a3_{i}" for i in range(40)])
    d2 = " ".join(shared + [f"b3_{i}" for i in range(40)])
    d3 = " ".join(shared + [f"a3_{i}" for i in range(39)] + ["zz"])
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    # premise guards: the false pair IS an LSH candidate, and its exact
    # Jaccard is below the clustering threshold
    cand = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, id_col="doc_id", text_col="text"
        ).collect()
    }
    assert (1, 2) in cand and (1, 3) in cand
    truth = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.verify_pairs_jaccard(
            docs, spark.createDataFrame(
                [(1, 2), (1, 3)], "id_a long, id_b long"
            ),
            id_col="doc_id", text_col="text", threshold=0.0,
        ).collect()
    }
    assert truth[(1, 2)] < 0.5 < truth[(1, 3)]

    summary = prepare_corpus(
        spark,
        docs,
        str(tmp_path / "corpus"),
        min_quality=0.0,
        lang=None,
    )
    out = spark.read.parquet(str(tmp_path / "corpus"))
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    # doc2 (false positive) survives; doc3 (true near-dup of doc1) is
    # canonicalized away
    assert kept == {1, 2}
    assert summary["n_out"] == 2


def test_events_pattern_match_token_boundaries(spark, tmp_path):
    """Regression for ADVICE r4: 'preview,click,purchase' must NOT count
    as a view→click→purchase match (substring scans false-positive on
    token suffixes); true contiguous triples still count."""
    import datetime

    from bag_parser_spark.plans.catalog import registry

    t0 = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    for uid, types in [
        (1, ["preview", "click", "purchase"]),          # no match
        (2, ["view", "click", "purchase"]),             # one match
        (3, ["view", "click", "view", "click", "purchase"]),  # one match
        (4, ["view", "error", "click", "purchase"]),    # interleaved: none
        (5, ["view", "click"]),                          # too short
    ]:
        for i, ty in enumerate(types):
            rows.append((eid, t0 + datetime.timedelta(minutes=i), uid, ty, 1.0))
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["user_id"]: (r["n_patterns"], r["converted"])
        for r in registry()["events_pattern_match"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert got == {
        1: (0, False), 2: (1, True), 3: (1, True),
        4: (0, False), 5: (0, False),
    }


def test_release_cached_blocks_drops_persists_and_checkpoints(spark):
    """VERDICT r4 #5: bench reps must not accumulate cached blocks. A
    persist-using catalog query (lm_doc_score) plus a localCheckpoint
    user (dup_clusters) both leave blocks behind by design (callers own
    cleanup); release_cached_blocks must return the session to zero
    persistent RDDs — including the checkpoint blocks clearCache alone
    never touches."""
    from bag_parser_spark.operators import dedup
    from bag_parser_spark.plans.catalog import registry
    from bag_parser_spark.session import release_cached_blocks

    release_cached_blocks(spark)  # clean slate from earlier tests

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    registry()["lm_doc_score"].fn(spark, SF_CORRECT).write.format(
        "noop"
    ).mode("overwrite").save()
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    dedup.dup_clusters(pairs, out_id="doc_id").count()
    assert n_persistent() > 0  # premise: blocks really were left behind
    release_cached_blocks(spark)
    assert n_persistent() == 0


def test_minhash_incremental_identity(spark):
    """minhash_lsh_pairs_incremental(new, sig(base)) must equal
    full-corpus LSH over base ∪ new MINUS the base-only pairs — banding
    is per-doc, so the candidate set identity is exact."""
    from bag_parser_spark.operators import dedup

    base = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    new = base.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" zz"), (F.col("doc_id") % 7).cast("string")
        ).alias("text"),
    )
    kw = dict(id_col="doc_id", text_col="text", shingle_n=3,
              num_hashes=12, bands=4)
    pairs = lambda df: {
        (r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(
            df, **kw).collect()
    }
    full = pairs(base.unionAll(new))
    base_only = pairs(base)
    inc = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs_incremental(
            new, dedup.minhash_signatures(base, "doc_id", "text", 3, 12),
            **kw,
        ).collect()
    }
    assert inc == full - base_only
    assert len(inc) > 0


def test_mixture_sample_exact_targets_and_determinism(spark):
    from bag_parser_spark.operators import sampling

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias("source"),
    )
    pct = {"s0": 100, "s1": 50, "s2": 10}  # s3 absent -> dropped
    out = sampling.mixture_sample(
        df, id_col="doc_id", source_col="source", percents=pct, seed=7
    )
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(
        F.count("*").alias("n")).collect()}
    assert counts == {"s0": 250, "s1": 125, "s2": 25}  # floor(250*pct/100)
    # layout-stable: repartitioned input selects the identical rows
    again = sampling.mixture_sample(
        df.repartition(13), id_col="doc_id", source_col="source",
        percents=pct, seed=7,
    )
    assert out.select("doc_id").exceptAll(again.select("doc_id")).count() == 0
    assert again.count() == out.count()


def test_semantic_dedup_salts_giant_cells(spark):
    """Cell-size skew guard (VERDICT r5 #3): one degenerate cell holding
    every vector — the viral-template collapse — must route through the
    salted self-join. Output (pairs AND cosines) must be identical to
    the plain equi-join, and the quadratic pair work must be keyed
    across multiple (cell, salt) groups instead of one straggler key."""
    from bag_parser_spark.operators import similarity

    n = 60
    rows = [(i, [1.0, float(i % 7) / 100.0]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "cid long, cv array<double>"
    )
    kw = dict(
        id_col="vec_id", vec_col="embedding", centroids=cents, threshold=0.9
    )
    plain = similarity.semantic_dedup_pairs(df, **kw, big_cell_cutoff=10**9)
    salted = similarity.semantic_dedup_pairs(
        df, **kw, big_cell_cutoff=10, salt=8
    )
    pv = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in plain.collect()}
    srows = salted.collect()
    sv = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in srows}
    assert len(pv) == n * (n - 1) // 2  # near-identical vectors: all pairs
    assert sv == pv
    # the salted join is actually in the plan…
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt__" in plan and "__salt2__" in plan
    # …and the giant cell's pairs are spread across many salt keys (the
    # join key that determines task placement), not concentrated in one
    import pyspark.sql.functions as SF

    groups = (
        salted.select(
            SF.pmod(SF.xxhash64("id_b"), SF.lit(8)).alias("k")
        )
        .groupBy("k")
        .count()
        .collect()
    )
    assert len(groups) >= 6  # 8 salt keys, allow hash collisions
    assert max(g["count"] for g in groups) < len(sv)
    # a salt below 1 is rejected up front: 0 would fail only at
    # execution (REMAINDER_BY_ZERO) and -2 would silently drop pairs
    for bad in (0, -2):
        with pytest.raises(ValueError, match="salt must be >= 1"):
            similarity.semantic_dedup_pairs(
                df, **kw, big_cell_cutoff=10, salt=bad
            )


def test_segment_dup_stats_known_values(spark):
    """3 docs of 2 segments each (10-word segments): docs a and b share
    their first segment (boilerplate header), all tails unique, doc c
    fully unique. Exact counts, fraction, and the integer keep rule."""
    from bag_parser_spark.operators import dedup

    header = " ".join(f"h{i}" for i in range(10))
    mk = lambda tag: " ".join(f"{tag}{i}" for i in range(10))  # noqa: E731
    df = spark.createDataFrame(
        [
            (1, header + " " + mk("a")),
            (2, header + " " + mk("b")),
            (3, mk("c") + " " + mk("d")),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in dedup.segment_dup_stats(
            df, id_col="doc_id", text_col="text",
            segment_words=10, drop_threshold_pct=50,
        ).collect()
    }
    for d in (1, 2):
        assert rows[d]["n_segments"] == 2
        assert rows[d]["n_dup_segments"] == 1
        assert rows[d]["dup_fraction"] == 0.5
        # 1*100 < 2*50 is FALSE: at exactly the threshold the doc drops
        assert rows[d]["keep"] is False
    assert rows[3]["n_segments"] == 2
    assert rows[3]["n_dup_segments"] == 0
    assert rows[3]["dup_fraction"] == 0.0
    assert rows[3]["keep"] is True


def test_duplicate_span_stats_known_values(spark):
    """EXACTSUBSTR hand-computed cases (3-token windows): overlapping
    spans merge into one region (d1/d2 share a 4-token passage), a
    WITHIN-doc verbatim repeat counts (d4), adjacent-but-not-overlapping
    duplicated regions stay separate islands (d8), short docs (< n
    tokens) and unique docs are clean."""
    from bag_parser_spark.operators import dedup

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),         # shares "a b c d" with d2
            (2, "x a b c d y"),
            (3, "p q r"),               # unique
            (4, "m n o z1 z2 m n o"),   # within-doc repeat of "m n o"
            (5, "s t"),                 # shorter than the window
            (6, "g1 g2 g3 u1 u2"),      # plants "g1 g2 g3"
            (7, "v1 v2 g4 g5 g6"),      # plants "g4 g5 g6"
            (8, "g1 g2 g3 g4 g5 g6"),   # two ADJACENT duplicated regions
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in dedup.duplicate_span_stats(
            df, id_col="doc_id", text_col="text",
            ngram_words=3, drop_threshold_pct=50,
        ).collect()
    }
    assert len(rows) == 8  # zero-span docs included
    # d1: dup windows [1,3] and [2,4] merge into ONE region [1,4]
    assert (rows[1]["n_spans"], rows[1]["dup_tokens"]) == (1, 4)
    assert rows[1]["dup_fraction"] == round(4 / 6, 6)
    assert rows[1]["keep"] is False  # 400 < 300 fails
    assert (rows[2]["n_spans"], rows[2]["dup_tokens"]) == (1, 4)
    # d3 unique, d5 too short: clean
    for d in (3, 5):
        assert (rows[d]["n_spans"], rows[d]["dup_tokens"]) == (0, 0)
        assert rows[d]["dup_fraction"] == 0.0
        assert rows[d]["keep"] is True
    # d4: "m n o" repeats WITHIN the doc -> spans [1,3] and [6,8],
    # non-overlapping -> two islands
    assert (rows[4]["n_spans"], rows[4]["dup_tokens"]) == (2, 6)
    assert rows[4]["n_tokens"] == 8
    assert rows[4]["keep"] is False
    # d8: spans [1,3] and [4,6] touch but do not overlap -> 2 islands
    assert (rows[8]["n_spans"], rows[8]["dup_tokens"]) == (2, 6)
    assert rows[8]["dup_fraction"] == 1.0


def test_ngram_novelty_known_values(spark):
    """First-holder novelty, hand-computed (3-token windows): a doc's
    repeats of its own window count ONCE (distinct per doc), an exact
    later copy scores 0.0, a partial overlap scores the unseen fraction,
    and short docs get NULL novelty."""
    from bag_parser_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (1, "a b c d"),              # both grams first here -> 1.0
            (2, "a b c x y"),            # 1 of 3 grams seen in d1
            (3, "a b c d"),              # exact copy, later id -> 0.0
            (4, "z z"),                  # shorter than the window
            (5, "k l m k l m k l m"),    # self-repeat: 3 DISTINCT grams
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in T.ngram_novelty(
            df, id_col="doc_id", text_col="text", ngram_words=3
        ).collect()
    }
    assert (rows[1]["n_grams"], rows[1]["n_novel"]) == (2, 2)
    assert rows[1]["novelty"] == 1.0
    assert (rows[2]["n_grams"], rows[2]["n_novel"]) == (3, 2)
    assert rows[2]["novelty"] == round(2 / 3, 6)
    assert (rows[3]["n_grams"], rows[3]["n_novel"]) == (2, 0)
    assert rows[3]["novelty"] == 0.0
    assert (rows[4]["n_grams"], rows[4]["n_novel"]) == (0, 0)
    assert rows[4]["novelty"] is None
    assert (rows[5]["n_grams"], rows[5]["n_novel"]) == (3, 3)
    assert rows[5]["novelty"] == 1.0


def test_hard_negatives_blocked_salted_path_identity(spark):
    """Hard-negative mining contracts: (a) every mined negative carries a
    DIFFERENT label than its query, (b) ranks are 1..k dense per query,
    (c) forcing every cell through the big-cell SALTED route
    (big_cell_cutoff=1) yields the exact same rows as the plain path —
    the salt split is layout-only."""
    from bag_parser_spark.operators import similarity

    # two well-separated cells on axis 0/1; labels alternate within each
    rows = []
    for i in range(12):
        base = [10.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 10.0, 0.0]
        vec = [base[0] + 0.01 * i, base[1] + 0.02 * i, 0.1 * (i % 3)]
        rows.append((i, vec, i % 4))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "cid long, cv array<float>",
    )
    kw = dict(
        id_col="vec_id", vec_col="embedding", label_col="label",
        centroids=cents, k=3,
    )
    plain = similarity.hard_negatives_blocked(df, **kw).collect()
    labels = {i: i % 4 for i in range(12)}
    assert plain, "expected some negatives"
    per_q: dict[int, list[int]] = {}
    for r in plain:
        assert labels[r["query_id"]] != labels[r["neg_id"]]
        per_q.setdefault(r["query_id"], []).append(r["neg_rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3
    salted = similarity.hard_negatives_blocked(
        df, **kw, big_cell_cutoff=1, salt=4
    ).collect()
    key = lambda t: (t[0], t[4])  # (query_id, neg_rank)  # noqa: E731
    assert sorted(map(tuple, salted), key=key) == sorted(
        map(tuple, plain), key=key
    )
    for bad in (0, -2):
        with pytest.raises(ValueError, match="salt must be >= 1"):
            similarity.hard_negatives_blocked(
                df, **kw, big_cell_cutoff=1, salt=bad
            )


def test_remove_duplicate_spans_known_values(spark):
    """The EXACTSUBSTR rewrite on the same fixture as the stats test:
    merged regions are excised (d1 keeps 'e f'), a fully-duplicated doc
    empties out (d8), clean docs pass through as their single-space
    token rejoin, and a within-doc repeat loses BOTH copies (d4)."""
    from bag_parser_spark.operators import dedup

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "x a b c d y"),
            (3, "p q r"),
            (4, "m n o z1 z2 m n o"),
            (5, "s t"),
            (6, "g1 g2 g3 u1 u2"),
            (7, "v1 v2 g4 g5 g6"),
            (8, "g1 g2 g3 g4 g5 g6"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in dedup.remove_duplicate_spans(
            df, id_col="doc_id", text_col="text", ngram_words=3
        ).collect()
    }
    assert len(rows) == 8
    assert rows[1]["clean_text"] == "e f"
    assert (rows[1]["clean_tokens"], rows[1]["removed_tokens"]) == (2, 4)
    assert rows[2]["clean_text"] == "x y"
    assert rows[3]["clean_text"] == "p q r"
    assert rows[3]["removed_tokens"] == 0
    assert rows[4]["clean_text"] == "z1 z2"
    assert rows[5]["clean_text"] == "s t"
    assert rows[8]["clean_text"] == ""
    assert (rows[8]["clean_tokens"], rows[8]["removed_tokens"]) == (0, 6)
    # stats/rewrite coherence: removed_tokens == dup_tokens per doc
    stats = {
        r["doc_id"]: r["dup_tokens"]
        for r in dedup.duplicate_span_stats(
            df, id_col="doc_id", text_col="text", ngram_words=3
        ).collect()
    }
    for d, r in rows.items():
        assert r["removed_tokens"] == stats[d]


def test_duplicate_span_stats_rejects_bad_params(spark):
    """pct=0 would drop everything under the strict-less rule; a 1-token
    window marks every repeated WORD as a span — both rejected loudly."""
    import pytest

    from bag_parser_spark.operators import dedup

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="drop_threshold_pct"):
        dedup.duplicate_span_stats(
            df, id_col="doc_id", text_col="text", drop_threshold_pct=0
        )
    with pytest.raises(ValueError, match="ngram_words"):
        dedup.duplicate_span_stats(
            df, id_col="doc_id", text_col="text", ngram_words=1
        )


def test_incremental_lsh_bucketed_signature_store_exchange_free(spark):
    """The recurring-ingest storage layout the docstrings promise: the
    corpus's BANDED signature projection materialized bucketed by
    (band, bucket) makes the incremental candidate join read the big
    side with NO exchange — only the new batch shuffles. Asserts (a)
    candidate sets identical to the unbucketed path, (b) the bucketed
    plan scans buckets and carries strictly fewer shuffles."""
    from bag_parser_spark.operators import dedup
    from bag_parser_spark.sources.parquet import write_bucketed

    base = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(25))) for i in range(40)]
        + [(90, " ".join(f"shared{j}" for j in range(25)))],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(101, " ".join(f"shared{j}" for j in range(25)) + " tail"),
         (102, " ".join(f"q{j}" for j in range(25)))],
        "doc_id long, text string",
    )
    kw = dict(id_col="doc_id", text_col="text",
              shingle_n=3, num_hashes=12, bands=4)
    sigs = dedup.minhash_signatures(base, "doc_id", "text", 3, 12)
    write_bucketed(
        dedup.band_signatures(sigs, 12, 4),
        "t_sig_banded", ["band", "bucket"], 8, ["band", "bucket"],
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = dedup.minhash_lsh_pairs_incremental(new, sigs, **kw)
        bucketed = dedup.minhash_lsh_pairs_incremental(
            new, None, **kw, base_banded=spark.table("t_sig_banded")
        )
        key = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
        got_b = sorted(map(key, bucketed.collect()))
        assert got_b == sorted(map(key, plain.collect()))
        assert (90, 101) in got_b  # the cross-corpus near-dup is found
        pb = bucketed._jdf.queryExecution().executedPlan().toString()
        pp = plain._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in pb
        n_ex = lambda p: p.count("Exchange hashpartitioning")  # noqa: E731
        assert n_ex(pb) < n_ex(pp), (n_ex(pb), n_ex(pp))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_sig_banded")


def test_pq_encode_known_values_and_broadcast_plan(spark):
    """Hand-checkable PQ: 4-dim vectors, 2 subspaces of 2 dims, 2
    codebook entries per subspace. Nearest entry per subvector with
    code-id tie-break; the codebook join must be a broadcast (PQ
    codebooks are tiny by construction — shuffling vectors against them
    would defeat the point)."""
    from bag_parser_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 5.0, 5.0]), (2, [1.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cb = spark.createDataFrame(
        [
            (0, 10, [0.0, 0.0]), (0, 11, [2.0, 2.0]),
            (1, 10, [5.0, 5.0]), (1, 11, [0.0, 1.0]),
        ],
        "subspace long, code long, cv array<double>",
    )
    out = {
        (r["vec_id"], r["subspace"]): (r["code"], r["err"])
        for r in similarity.pq_encode(
            df, id_col="vec_id", vec_col="embedding",
            codebooks=cb, m=2, dim=4,
        ).collect()
    }
    assert out[(1, 0)] == (10, 0.0)    # [0,0]: dist 0 vs 8
    assert out[(1, 1)] == (10, 0.0)    # [5,5]: dist 0 vs 41
    assert out[(2, 0)] == (10, 2.0)    # [1,1]: 2 vs 2 -> tie, lower code
    assert out[(2, 1)] == (11, 1.0)    # [0,0]: 50 vs 1
    plan = (
        similarity.pq_encode(
            df, id_col="vec_id", vec_col="embedding",
            codebooks=cb, m=2, dim=4,
        )._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pq_adc_topk_known_values_and_heap_plan(spark):
    """ADC over hand-checkable codes: vectors that ARE codebook entries
    get approximate distance equal to the true L2² between their codes'
    entries and the query. Top-k must be a heap (TakeOrderedAndProject),
    and the LUT join a broadcast."""
    from bag_parser_spark.operators import similarity

    cb = spark.createDataFrame(
        [
            (0, 10, [0.0, 0.0]), (0, 11, [3.0, 0.0]),
            (1, 10, [0.0, 0.0]), (1, 11, [0.0, 4.0]),
        ],
        "subspace long, code long, cv array<double>",
    )
    # vec 1 → codes (10, 10) = [0,0,0,0]; vec 2 → (11, 11) = [3,0,0,4]
    codes = spark.createDataFrame(
        [(1, 0, 10), (1, 1, 10), (2, 0, 11), (2, 1, 11)],
        "vec_id long, subspace long, code long",
    )
    out = similarity.pq_adc_topk(
        codes, cb, query_vec=[0.0, 0.0, 0.0, 0.0],
        id_col="vec_id", k=10, m=2, dim=4,
    )
    rows = [(r["vec_id"], r["approx_l2sq"]) for r in out.collect()]
    assert rows == [(1, 0.0), (2, 25.0)]  # 3²+4² for vec 2; sorted asc
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_arrow_pair_l2sq_bit_identical_to_column_fold(spark):
    """r11: ivfpq_topk's coarse assignment swapped the interpreted
    higher-order l2sq lambda for the Arrow kernel. The kernel's contract
    is BIT-identity with the Column left fold (same subtract/multiply/add
    sequence per element, vectorized across rows only) — pin it on
    adversarial magnitudes where pairwise/reordered summation would
    diverge in the last ulp."""
    import random
    import struct

    from bag_parser_spark.operators.similarity import _arrow_pair_l2sq, _l2sq

    rng = random.Random(11)
    dim = 64
    rows = []
    for i in range(40):
        # mix huge/tiny magnitudes so accumulation ORDER matters
        a = [rng.uniform(-1, 1) * 10 ** rng.randint(-12, 12) for _ in range(dim)]
        b = [rng.uniform(-1, 1) * 10 ** rng.randint(-12, 12) for _ in range(dim)]
        rows.append((i, a, b))
    df = spark.createDataFrame(
        rows, "i long, a array<double>, b array<double>"
    )
    out = df.select(
        "i",
        _l2sq(F.col("a"), F.col("b")).alias("fold"),
        _arrow_pair_l2sq()(F.col("a"), F.col("b")).alias("arrow"),
    ).collect()
    assert len(out) == len(rows)
    for r in out:
        fold_bits = struct.pack("<d", r["fold"])
        arrow_bits = struct.pack("<d", r["arrow"])
        assert fold_bits == arrow_bits, (r["i"], r["fold"], r["arrow"])


def test_pagerank_step_known_values(spark):
    """Hand-computed one-step PageRank on a 3-edge bipartite graph:
    customer 1 buys from suppliers A,A,B (outdeg 3, A twice), customer
    2 from B (outdeg 1). Integer micro-unit arithmetic, exact."""
    from bag_parser_spark.plans.catalog import registry
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(100, 7, 1), (100, 7, 2), (100, 8, 3), (200, 8, 1)],
            "l_orderkey long, l_suppkey long, l_linenumber long",
        ).write.parquet(os.path.join(d, "lineitem.parquet"))
        spark.createDataFrame(
            [(100, 1), (200, 2)], "o_orderkey long, o_custkey long"
        ).write.parquet(os.path.join(d, "orders.parquet"))
        got = {
            r["suppkey"]: r["rank_micro"]
            for r in registry()["ml_pagerank_step"].fn(spark, d).collect()
        }
    # cust1: od=3, per-edge 1000000 div 3 = 333333; cust2: od=1 -> 1000000
    # A: s=666666 -> 150000 + (85*666666) div 100 = 150000 + 566666
    # B: s=333333+1000000 -> 150000 + (85*1333333) div 100
    assert got == {
        7: 150000 + (85 * 666666) // 100,
        8: 150000 + (85 * 1333333) // 100,
    }


def test_prepare_corpus_segment_dup_gate(spark, tmp_path):
    """prepare_corpus --max-segment-dup-pct: two docs sharing a 10-token
    boilerplate header (half their content — below the whole-doc
    near-dup bar, invisible to exact dedup) are dropped by the
    sub-document gate; the fully-unique doc survives."""
    from bag_parser_spark.plans.corpus_prep import prepare_corpus

    header = " ".join(f"h{i}" for i in range(10))
    mk = lambda t: " ".join(f"{t}{i}" for i in range(10))  # noqa: E731
    docs = spark.createDataFrame(
        [
            (1, header + " " + mk("a")),
            (2, header + " " + mk("b")),
            (3, mk("c") + " " + mk("d")),
        ],
        "doc_id long, text string",
    )
    out = str(tmp_path / "corpus")
    summary = prepare_corpus(
        spark, docs, out,
        min_quality=0.0, lang=None, max_segment_dup_pct=50,
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {3}
    assert summary["n_out"] == 1
    assert summary["max_segment_dup_pct"] == 50
    # gate off: all three survive (they are neither exact nor near dups)
    out2 = str(tmp_path / "corpus2")
    prepare_corpus(spark, docs, out2, min_quality=0.0, lang=None)
    assert {r["doc_id"] for r in spark.read.parquet(out2).collect()} == {1, 2, 3}


@pytest.mark.slow
def test_prepare_corpus_decontamination_gate(spark, tmp_path):
    """prepare_corpus --decontaminate: a doc that is mostly eval text is
    dropped at any threshold; a doc sharing ONE 8-gram of many is dropped
    only at pct=0 (the strict default); a clean doc always survives —
    and the Bloom prefilter must never cause a false drop (exact verify
    follows it)."""
    from bag_parser_spark.plans.corpus_prep import prepare_corpus

    ev = " ".join(f"e{i}" for i in range(20))  # 13 8-gram shingles
    docs = spark.createDataFrame(
        [
            (1, ev + " x1 x2"),  # 13/15 shingles contaminated (86%)
            (2, " ".join(f"b{i}" for i in range(30))),  # clean
            # 1/41 shingles contaminated (~2.4%)
            (3, " ".join(f"e{i}" for i in range(8)) + " "
                + " ".join(f"c{i}" for i in range(40))),
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame([(ev,)], "text string")

    out = str(tmp_path / "strict")
    summary = prepare_corpus(
        spark, docs, out,
        min_quality=0.0, lang=None, near_dedup=False,
        decontaminate_docs=eval_docs, max_contamination_pct=0,
    )
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {2}
    assert summary["decontaminated"] and summary["max_contamination_pct"] == 0

    out2 = str(tmp_path / "loose")
    prepare_corpus(
        spark, docs, out2,
        min_quality=0.0, lang=None, near_dedup=False,
        decontaminate_docs=eval_docs, max_contamination_pct=50,
    )
    assert {r["doc_id"] for r in spark.read.parquet(out2).collect()} == {2, 3}

    out3 = str(tmp_path / "off")
    summary3 = prepare_corpus(
        spark, docs, out3, min_quality=0.0, lang=None, near_dedup=False,
    )
    assert {r["doc_id"] for r in spark.read.parquet(out3).collect()} == {1, 2, 3}
    assert not summary3["decontaminated"]
    assert summary3["max_contamination_pct"] is None

    # out-of-domain thresholds are rejected loudly (-1 would silently
    # drop every document; 100 would silently drop none)
    import pytest as _pytest

    for bad in (-1, 100):
        with _pytest.raises(ValueError, match="max_contamination_pct"):
            prepare_corpus(
                spark, docs, str(tmp_path / "bad"),
                min_quality=0.0, lang=None, near_dedup=False,
                decontaminate_docs=eval_docs, max_contamination_pct=bad,
            )


def test_bpe_merge_step_known_values(spark):
    """Hand-computed BPE iteration on {aaa, abab, banana x2, band}: the
    argmax first merge is (a,n) with corpus count 5; post-merge counts
    include the merged 'an' symbol pairs and the greedy-non-overlapping
    (a,a) count of 2 for 'aaa' (not 2 overlapping merges)."""
    from bag_parser_spark.operators.text import bpe_merge_step

    df = spark.createDataFrame(
        [(1, "aaa abab banana"), (2, "banana band")],
        "doc_id long, text string",
    )
    got = {
        (r["pair_a"], r["pair_b"]): (r["pair_count"], r["rank"])
        for r in bpe_merge_step(df, top_k=10).collect()
    }
    assert got[("b", "an")] == (3, 1)
    assert got[("a", "a")][0] == 2       # aaa -> [a,a,a]: two pairs
    assert got[("an", "an")][0] == 2     # banana -> [b,an,an,a] x2
    assert got[("an", "a")][0] == 2
    assert got[("an", "d")][0] == 1
    assert ("a", "n") not in got         # merged symbol never re-pairs


def test_bpe_merge_step_pipe_tokens_and_blank_doc(spark):
    """Review regressions: (a) a token containing '|' is an ordinary
    character to the merge encoding (the delimiter is U+001F, not a
    printable char); (b) a whitespace-only document (whose tokens()
    yield one empty token) contributes nothing — Spark's descending
    sequence(1, 0) must not fabricate ('','') pairs."""
    from bag_parser_spark.operators.text import bpe_merge_step

    df = spark.createDataFrame(
        [(1, "a|b a|b cc cc cc"), (2, "   ")],
        "doc_id long, text string",
    )
    got = {
        (r["pair_a"], r["pair_b"]): r["pair_count"]
        for r in bpe_merge_step(df, top_k=10).collect()
    }
    # top pair is ('c','c') count 3 -> merge; a|b keeps its pipe pairs
    assert got == {("a", "|"): 2, ("|", "b"): 2}
    assert ("", "") not in got


def test_segment_dup_stats_rejects_pct_zero(spark):
    """pct=0 under the strict-less keep rule would drop every document
    (review finding) — rejected loudly instead."""
    import pytest

    from bag_parser_spark.operators import dedup

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="drop_threshold_pct"):
        dedup.segment_dup_stats(
            df, id_col="doc_id", text_col="text", drop_threshold_pct=0
        )


def test_temperature_sample_rates_and_determinism(spark):
    """sqrt-flattening contract: the smallest source's rate is exactly
    1.0 (keeps everything), a 4x larger source's rate is exactly 0.5
    (sqrt(1/4) is an exact double), and the kept set is identical under
    any input partitioning (md5 membership, no RNG)."""
    from bag_parser_spark.operators import sampling

    # sources: s0 -> 100 rows, s1 -> 400 rows
    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 100, "s0").otherwise("s1").alias("source"),
    )
    kept = sampling.temperature_sample(
        df, id_col="doc_id", source_col="source", seed=11
    )
    rates = {
        r["source"]: (r["__n__"], r["__rate__"])
        for r in kept.select("source", "__n__", "__rate__")
        .distinct()
        .collect()
    }
    assert rates["s0"] == (100, 1.0)
    assert rates["s1"] == (400, 0.5)
    s0 = kept.filter(F.col("source") == "s0").count()
    assert s0 == 100  # rate 1.0 keeps every row
    again = sampling.temperature_sample(
        df.repartition(13), id_col="doc_id", source_col="source", seed=11
    )
    assert (
        kept.select("doc_id").exceptAll(again.select("doc_id")).count() == 0
    )
    assert again.count() == kept.count()


def test_file_skipping_stats_clustered_vs_scattered(spark):
    """Zone-map audit on a hand-built table: column a cycles 0..9 row by
    row (scattered under the natural layout), so a box on a keeps every
    natural file but only the z-clustered files; rows_matching is
    layout-invariant; file counts are exact."""
    from bag_parser_spark.operators.layout import file_skipping_stats

    n = 4000
    df = spark.range(n).select(
        F.col("id").alias("rid"),
        (F.col("id") % 10).alias("a"),
        (F.col("id") % 7).alias("b"),
    )
    out = {
        r["layout"]: r
        for r in file_skipping_stats(
            df,
            a=F.col("a"),
            b=F.col("b"),
            natural_order=F.col("rid"),
            a_lo=3,
            a_hi=3,
            b_lo=0,
            b_hi=6,
            num_files=8,
        ).collect()
    }
    nat, zo = out["natural"], out["zorder"]
    assert nat["rows_matching"] == zo["rows_matching"] == n // 10
    # every natural file contains a=3 rows -> zero pruning
    assert nat["n_files"] == 8 and nat["files_read"] == 8
    assert nat["rows_read"] == n
    # z-clustered files isolate the a=3 band -> most files pruned
    assert zo["files_read"] < zo["n_files"]
    assert zo["rows_read"] < n // 2


def test_bpe_encode_known_values(spark):
    """Hand-computed encode on {banana x2, band}: initial pair counts
    an:5, na:4, ba:3, nd:1 -> merge list [an, na]. Greedy-left 'an'
    turns banana into [b,an,an,a] (4 symbols) and band into [b,an,d]
    (3); 'na' then finds no singleton n+a left. A whitespace-only doc
    (one empty token) encodes to 0 symbols, not a phantom symbol."""
    from bag_parser_spark.operators.text import bpe_encode

    df = spark.createDataFrame(
        [(1, "banana banana band"), (2, "   ")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"], r["n_chars"])
        for r in bpe_encode(df, num_merges=2).collect()
    }
    assert out[1] == (3, 11, 16)
    assert out[2] == (1, 0, 0)


def test_ivfpq_topk_prunes_unprobed_cells(spark):
    """Hand-built 2-cell index (dim=4, m=2): query lands in cell c0 with
    nprobe=1, so the vector in cell c1 must NOT appear (cell pruning),
    and the two cell-c0 vectors quantize to the query's own residual
    codeword -> approximate distance exactly 0.0."""
    from bag_parser_spark.operators.similarity import ivfpq_topk

    rows = [
        (100, [0.0, 0.0, 0.0, 0.0]),   # centroid c0
        (1, [1.0, 0.0, 0.0, 0.0]),     # near c0, donor
        (200, [10.0, 10.0, 10.0, 10.0]),  # centroid c1
        (2, [11.0, 10.0, 10.0, 10.0]),    # near c1, donor
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = df.filter(F.col("vec_id") >= 100).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    out = ivfpq_topk(
        df,
        id_col="vec_id",
        vec_col="embedding",
        query_vec=[1.0, 0.0, 0.0, 0.0],
        centroids=cents,
        donor_filter=lambda c: c < 100,
        k=5,
        nprobe=1,
        m=2,
        dim=4,
    ).collect()
    got = [(r["vec_id"], r["approx_l2sq"]) for r in out]
    assert got == [(1, 0.0), (100, 0.0)]  # cell c1 (ids 2, 200) pruned


def test_bpe_train_multi_iteration_known_values(spark):
    """Hand-computed 4-iteration training on {aaab x2, aab}: iteration 1
    merges (a,a) [count 5, greedy non-overlapping]; iteration 2 is a
    count tie (aa,a)=2 vs (a,b)=2 broken by pair_a asc -> (a,b);
    iterations 3-4 merge MULTI-CHAR symbols (aa,ab) then (aa,b) —
    pinning that the delimiter replace handles symbols, not just
    chars."""
    from bag_parser_spark.operators.text import bpe_train

    df = spark.createDataFrame(
        [(1, "aaab aaab aab")], "doc_id long, text string"
    )
    got = [
        (r["step"], r["pair_a"], r["pair_b"], r["pair_count"])
        for r in bpe_train(df, num_iters=4).orderBy("step").collect()
    ]
    assert got == [
        (1, "a", "a", 5),
        (2, "a", "b", 2),
        (3, "aa", "ab", 2),
        (4, "aa", "b", 1),
    ]


def test_gopher_rules_flags_and_summary(spark):
    """Each Gopher rule fires on its designed violator and nowhere else;
    the summary unpivot reports per-rule rejection counts + kept/total."""
    from bag_parser_spark.operators import text as T

    good = (
        "the quick brown fox jumps over the lazy dog and then it runs "
        "off to the river where this good animal rests for a while as "
        "birds sing songs about summer evenings by that old stone bridge "
        "near a quiet village with warm lights glowing in windows there "
        "and people walk home slowly talking about their long pleasant day"
    )
    docs = [
        (1, good),                                   # passes every rule
        (2, "too few words"),                        # r_too_short
        (3, " ".join("spam" for _ in range(60))),    # r_top_word+r_dup_words
        (4, good + " " + " ".join("#" for _ in range(40))),  # r_symbol
        (5, " ".join(str(i) for i in range(1000, 1060))),  # r_alpha+r_stopword
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    flags = T.gopher_rules(df)
    out = {r["doc_id"]: r.asDict() for r in flags.collect()}
    assert out[1]["keep"] is True
    assert out[2]["r_too_short"] and not out[2]["keep"]
    assert out[3]["r_top_word"] and out[3]["r_dup_words"] and not out[3]["keep"]
    assert out[4]["r_symbol"] and not out[4]["keep"]
    assert out[5]["r_alpha"] and out[5]["r_stopword"] and not out[5]["keep"]
    # no cross-firing against doc 1
    assert not any(out[1][r] for r in T.GOPHER_RULE_NAMES)

    summary = {
        r["rule"]: r["n_docs"] for r in T.gopher_summary(flags).collect()
    }
    assert summary["total"] == 5 and summary["kept"] == 1
    assert summary["r_too_short"] == 1
    assert summary["r_symbol"] == 1
    # rules overlap: top-word dominance also trips the 3-word doc (1/3 >
    # 20%) and the '#'-padded doc (40 copies), not just the spam doc
    assert summary["r_top_word"] == 3
    assert summary["r_stopword"] >= 2  # docs 3 and 5 lack 2 distinct stops


def test_prepare_corpus_gopher_gate(spark, tmp_path):
    """prepare_corpus --gopher: rule-violating docs are dropped, the
    summary carries per-rule rejection counts observed on the write job
    (rules overlap, so counts need not sum to total-kept)."""
    from bag_parser_spark.plans.corpus_prep import prepare_corpus

    good_base = (
        "the quick brown fox jumps over the lazy dog and then it runs "
        "off to the river where this good animal rests for a while as "
        "birds sing songs about summer evenings by that old stone bridge "
        "near a quiet village with warm lights glowing in windows there "
        "and people walk home slowly talking about their long pleasant day "
    )
    rows = [(i, good_base + f"extra word number w{i} u{i}") for i in range(8)]
    rows += [(100, "short junk"), (101, " ".join("spam" for _ in range(80)))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "corpus")
    summary = prepare_corpus(
        spark, docs, out, min_quality=0.0, lang=None,
        near_dedup=False, gopher=True,
    )
    kept_ids = {
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    }
    assert 100 not in kept_ids and 101 not in kept_ids
    assert kept_ids == set(range(8))
    gc = summary["gopher_counts"]
    assert gc["total"] == 10 and gc["kept"] == 8
    # overlap: the 2-word doc also trips top-word dominance (1/2 > 20%)
    assert gc["r_too_short"] == 1 and gc["r_top_word"] == 2
    # off by default
    out2 = str(tmp_path / "corpus2")
    s2 = prepare_corpus(
        spark, docs, out2, min_quality=0.0, lang=None, near_dedup=False
    )
    assert s2["gopher_counts"] is None and s2["gopher"] is False


def test_sample_per_group_salted_route_is_output_identical(spark):
    """The salted two-stage top-k must reproduce the plain window's
    output EXACTLY (rows and rank values) on a skewed input — one giant
    group (spread across every salt cell) plus several small groups
    (each smaller than salt*k, so stage 1 passes them through whole)."""
    from bag_parser_spark.operators import sampling

    rows = [(i, "giant") for i in range(500)]
    rows += [(1000 + i, f"g{i % 5}") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, grp string")
    plain = sampling.sample_per_group(
        df, keys=["grp"], id_col="id", k=3, seed="s"
    )
    want = sorted(map(tuple, plain.collect()))
    for n_salt in (2, 8):
        got = sampling.sample_per_group(
            df, keys=["grp"], id_col="id", k=3, seed="s",
            salted=True, salt=n_salt,
        )
        assert sorted(map(tuple, got.collect())) == want, n_salt


def test_c4_line_filter_branches(spark):
    """Every C4 rule fires on its designed line and nowhere else; the
    doc-level drop flags fire on 'lorem ipsum' / '{' / the < 3 kept-line
    gate; clean_text preserves original line order."""
    from bag_parser_spark.operators import text as T

    doc1 = "\n".join([
        "This first line ends with a period.",      # kept
        "Please enable JavaScript to continue.",    # bad phrase
        "no punct at the end here",                 # no terminal punct
        "Too short.",                               # < 4 words
        'She said "stop right there."',             # kept (quote end)
        "Is this a real question?",                 # kept -> 3 kept, keep doc
    ])
    doc2 = "\n".join([
        "Lorem ipsum dolor sit amet consectetur.",  # line kept; DOC dropped
        "A perfectly fine second line here.",
        "Another perfectly fine third line here.",
    ])
    doc3 = "\n".join([
        "Some code follows right after this line.",
        "function f() { return 1; }",               # '{' -> DOC dropped
        "And a closing remark sentence here.",
    ])
    doc4 = "\n".join([                              # only 2 survive -> drop
        "This one is a good line.",
        "Sign in",
        "This other one is also good.",
    ])
    df = spark.createDataFrame(
        [(1, doc1), (2, doc2), (3, doc3), (4, doc4)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in T.c4_line_filter(df).collect()
    }
    assert out[1]["n_lines"] == 6 and out[1]["n_kept"] == 3
    assert not out[1]["drop_doc"]
    assert out[1]["clean_text"] == "\n".join([
        "This first line ends with a period.",
        'She said "stop right there."',
        "Is this a real question?",
    ])
    assert out[2]["n_kept"] == 3 and out[2]["drop_doc"]   # lorem ipsum
    assert out[3]["drop_doc"]                             # curly brace
    assert out[4]["n_kept"] == 2 and out[4]["drop_doc"]   # 3-line gate


def test_html_to_text_blocks_entities_whitespace(spark):
    """script/style contents vanish entirely, tags strip, the six
    entities decode exactly once ('&amp;lt;' -> literal '&lt;' text, not
    '<'), and whitespace collapses."""
    from bag_parser_spark.operators import text as T

    html = (
        '<html><head><title>My   Page</title>'
        "<style>p { color: red; }</style></head><body>"
        '<h1 class="big">Hello &amp; welcome</h1>'
        "<SCRIPT type='text/javascript'>var x = 1 < 2;</SCRIPT>"
        "<p>a &lt; b &gt; c &quot;q&quot; &#39;s&#39;&nbsp;end</p>"
        "<p>escaped: &amp;lt;</p></body></html>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    got = df.select(T.html_to_text(F.col("html")).alias("t")).head()["t"]
    assert got == (
        "My Page Hello & welcome a < b > c \"q\" 's' end escaped: &lt;"
    )
    assert "color" not in got and "var x" not in got


def test_token_budget_sample_prefix_sum_identity(spark):
    """The bucketed two-pass prefix sum must equal the naive per-source
    cumsum window EXACTLY (rows and cum_tokens), boundary-crossing docs
    drop, absent sources drop, and an over-total budget keeps a whole
    source."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bag_parser_spark.operators import sampling
    from bag_parser_spark.operators.text import token_count_ws

    rows = [
        (i, "a" if i % 3 == 0 else ("b" if i % 3 == 1 else "c"),
         " ".join(f"w{i}x{j}" for j in range(1 + i % 7)))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    budgets = {"a": 120, "b": 10_000}  # c absent; b over-total
    got = sampling.token_budget_sample(df, budgets, seed="t")
    # naive reference: single window per source
    order = F.md5(F.concat(F.lit("t:"), F.col("doc_id").cast("string")))
    w = (
        Window.partitionBy("source")
        .orderBy(order.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bmap = F.create_map(*[F.lit(x) for kv in budgets.items() for x in kv])
    want = (
        df.withColumn("__b__", bmap[F.col("source")])
        .filter(F.col("__b__").isNotNull())
        .withColumn("n_tokens", token_count_ws(F.col("text")).cast("long"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .filter(F.col("cum_tokens") <= F.col("__b__"))
        .drop("__b__")
    )
    cols = ["doc_id", "source", "text", "n_tokens", "cum_tokens"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )
    out = {r["source"] for r in got.select("source").distinct().collect()}
    assert out == {"a", "b"}  # c dropped
    n_b_in = sum(1 for _, s, _ in rows if s == "b")
    assert got.filter(F.col("source") == "b").count() == n_b_in  # all kept
    a_cum = got.filter(F.col("source") == "a").agg(
        F.max("cum_tokens")
    ).head()[0]
    assert a_cum <= 120  # budget respected, boundary doc dropped


def test_main_content_extract_block_scoring(spark):
    """Readability-style scoring on one handcrafted page: the link-dense
    nav (long enough in words — only density kills it), a too-short
    paragraph (zero links — only min_words kills it), the related-links
    list, and the footer are dropped; prose paragraphs survive, one WITH
    its inline link text; entities decode inside kept blocks; and the
    result provably DIFFERS from plain tag-stripping."""
    from bag_parser_spark.operators import text as T

    html = (
        '<html><body>'
        '<div><a href="/">Home page</a> <a href="/a">About this</a> '
        '<a href="/c">Contact the team</a></div>'
        '<p>The quick brown fox jumps over a lazy dog &amp; runs.</p>'
        '<ul><li><a href="/1">First related link</a></li></ul>'
        '<p>Too short here.</p>'
        '<p>Read more in <a href="/g">this guide</a> about block '
        'scoring every single day.</p>'
        '<div>Copyright 2024 by the site owners '
        '<a href="/t">Terms of use</a> <a href="/p">Privacy policy</a> '
        '<a href="/k">Cookie settings</a></div>'
        '</body></html>'
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    row = T.main_content_extract(df).head()
    assert row["main_text"] == (
        "The quick brown fox jumps over a lazy dog & runs.\n"
        "Read more in this guide about block scoring every single day."
    )
    assert row["n_kept"] == 2
    assert row["n_blocks"] == 6  # nav, 3 paragraphs, li text, footer
    stripped = df.select(T.html_to_text(F.col("html")).alias("t")).head()["t"]
    assert "Privacy policy" in stripped and "Home page" in stripped
    assert "Privacy policy" not in row["main_text"]


def test_main_content_differs_from_strip_on_fixture(spark):
    """The text_main_content catalog fixture must make tag-strip and
    content-extract give DIFFERENT outputs for EVERY document — the
    oracle then proves the scoring, not the stripping."""
    from bag_parser_spark.operators import text as T
    from bag_parser_spark.plans.catalog_corpus import _MAIN_HTML_EXPR
    from bag_parser_spark.sources.parquet import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", F.expr(_MAIN_HTML_EXPR).alias("html")
    )
    out = T.main_content_extract(d).join(
        d.select("doc_id", T.html_to_text(F.col("html")).alias("stripped")),
        "doc_id",
    )
    assert out.filter(F.col("main_text") == F.col("stripped")).count() == 0
    # and every doc keeps SOMETHING (the extractor isn't vacuously empty)
    assert out.filter(F.col("n_kept") < 2).count() == 0


def test_dsir_importance_ranks_targetlike_docs(spark):
    """DSIR semantics (arXiv:2302.03169): pool docs sharing the target
    corpus's vocabulary must get strictly higher importance log-weights
    than same-length docs from a disjoint vocabulary, the feature count
    is 2n-1 (unigrams + bigrams), and the Gumbel sample key is a pure
    function of (seed, id) — rerunning reproduces it exactly."""
    from bag_parser_spark.operators import sampling

    tgt_words = "alpha beta gamma delta epsilon zeta eta theta"
    junk_words = "zork quux blarg wibble frotz grue plugh xyzzy"
    pool = [(i, tgt_words) for i in range(1, 4)] + [
        (i, junk_words) for i in range(4, 7)
    ]
    docs = spark.createDataFrame(pool, "doc_id long, text string")
    target = spark.createDataFrame(
        [(100 + i, tgt_words) for i in range(5)],
        "doc_id long, text string",
    )
    out = sampling.dsir_logweights(docs, target, n_buckets=64)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert all(r["n_feats"] == 15 for r in rows.values())  # 2*8-1
    worst_tgt = min(rows[i]["dsir_logw"] for i in (1, 2, 3))
    best_junk = max(rows[i]["dsir_logw"] for i in (4, 5, 6))
    assert worst_tgt > best_junk
    rerun = {
        r["doc_id"]: r["sample_key"]
        for r in sampling.dsir_logweights(
            docs, target, n_buckets=64
        ).collect()
    }
    assert rerun == {i: rows[i]["sample_key"] for i in rows}


def test_prepare_corpus_dsir_selection_gate(spark, tmp_path):
    """DSIR as prepare_corpus's last gate: from a pool of target-like
    and junk-vocabulary docs, --dsir-keep selects exactly k and every
    selected doc is target-like (the junk docs' importance weights sit
    far below); the guard rejects a target without a keep size."""
    import pytest

    from bag_parser_spark.plans.corpus_prep import prepare_corpus

    tgt_words = " ".join(
        f"alpha{j} beta{j} gamma{j} delta{j}" for j in range(10)
    )
    junk_words = " ".join(
        f"zork{j} quux{j} blarg{j} wibble{j}" for j in range(10)
    )
    pool = [(i, f"{tgt_words} tag{i}") for i in range(1, 5)] + [
        (i, f"{junk_words} tag{i}") for i in range(5, 9)
    ]
    docs = spark.createDataFrame(pool, "doc_id long, text string")
    target = spark.createDataFrame(
        [(i, tgt_words) for i in range(3)], "doc_id long, text string"
    )
    out = str(tmp_path / "corpus")
    summary = prepare_corpus(
        spark,
        docs,
        out,
        min_quality=0.0,
        lang=None,
        near_dedup=False,
        dsir_target=target,
        dsir_keep=3,
        stage_report=True,
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert len(kept) == 3 and kept <= {1, 2, 3, 4}
    assert summary["stages"]["dsir_selected"] == 3
    assert summary["dsir_keep"] == 3
    with pytest.raises(ValueError, match="dsir"):
        prepare_corpus(
            spark, docs, str(tmp_path / "x"), dsir_target=target
        )


def test_kmeans_converged_separates_and_reports_shift(spark):
    """kmeans_converged on two tight, well-separated blobs: the final
    centroids land on the blob means, every vector's blob is one
    cluster (n_members splits exactly), and shift_q — the final
    round's integer L1 centroid movement — is 0 because assignment
    stabilizes after round one on separated data. Rerun reproduces
    bit-identically (no rand anywhere)."""
    from bag_parser_spark.operators import clustering

    dim = 64
    rows = []
    for j in range(6):  # blob A around +0.5, blob B around -0.5
        base = 0.5 if j % 2 == 0 else -0.5
        vec = [base + (0.001 * ((j + i) % 3)) for i in range(dim)]
        rows.append((j, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = clustering.kmeans_converged(df, k=2, iters=3)
    rows_out = out.collect()
    by_cid = {}
    for r in rows_out:
        by_cid.setdefault(r["cid"], []).append(r)
    assert len(by_cid) == 2
    for cid, members in by_cid.items():
        assert len(members) == dim  # one row per dimension
        assert all(m["n_members"] == 3 for m in members)
        assert all(m["shift_q"] == 0 for m in members)
        sign = 1.0 if members[0]["centroid_val"] > 0 else -1.0
        assert all(sign * m["centroid_val"] > 0.4 for m in members)
    rerun = clustering.kmeans_converged(df, k=2, iters=3).collect()
    assert sorted(map(tuple, rerun)) == sorted(map(tuple, rows_out))


def test_prepare_corpus_jsonl_artifact(spark, tmp_path):
    """out_format='jsonl': the artifact is gzipped JSONL partitioned by
    split, directly readable with stdlib gzip+json (the tokenizer-job
    contract — no Spark needed downstream), and the summary's split
    counts match the files."""
    import glob
    import gzip
    import json

    import pytest

    from bag_parser_spark.plans.corpus_prep import prepare_corpus

    text = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(i, f"{text} u{i}") for i in range(12)],
        "doc_id long, text string",
    )
    out = str(tmp_path / "corpus")
    summary = prepare_corpus(
        spark, docs, out,
        min_quality=0.0, lang=None, near_dedup=False,
        out_format="jsonl",
    )
    assert summary["out_format"] == "jsonl"
    files = glob.glob(f"{out}/split=*/*.json.gz")
    assert files
    rows = []
    for p in files:
        with gzip.open(p, "rt") as f:
            rows += [json.loads(line) for line in f if line.strip()]
    assert {r["doc_id"] for r in rows} == set(range(12))
    assert sum(summary["splits"].values()) == 12
    with pytest.raises(ValueError, match="out_format"):
        prepare_corpus(
            spark, docs, str(tmp_path / "x"), out_format="csvx"
        )


@pytest.mark.slow
def test_checkpoint_dir_routes_are_output_identical(spark, tmp_path):
    """VERDICT r8 #3: every iterative loop exposes checkpoint_dir —
    reliable df.checkpoint() when set, localCheckpoint otherwise — and
    the two routes are OUTPUT-IDENTICAL (only the executor-loss
    recovery posture moves; operators/lineage.py). One loop of each
    operator both ways: dup_clusters, kmeans_converged, bpe_train, and
    the converged-PageRank catalog query."""
    from bag_parser_spark.operators import clustering, dedup
    from bag_parser_spark.operators.text import bpe_train
    from bag_parser_spark.plans.catalog import registry

    ck = str(tmp_path / "ckpt")

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 11), (11, 12), (12, 13)],
        "id_a long, id_b long",
    )
    local = sorted(map(tuple, dedup.dup_clusters(pairs).collect()))
    reliable = sorted(map(tuple, dedup.dup_clusters(
        pairs, checkpoint_dir=ck
    ).collect()))
    assert local == reliable and len(local) == 9

    vecs = spark.createDataFrame(
        [(i, [float(i % 2) * 10 + 0.1 * i, 1.0]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    km_local = sorted(map(tuple, clustering.kmeans_converged(
        vecs, k=2, iters=3
    ).collect()))
    km_rel = sorted(map(tuple, clustering.kmeans_converged(
        vecs, k=2, iters=3, checkpoint_dir=ck
    ).collect()))
    assert km_local == km_rel and km_local

    docs = spark.createDataFrame(
        [(i, "low lower lowest low low") for i in range(4)],
        "doc_id long, text string",
    )
    bpe_local = sorted(map(tuple, bpe_train(docs, num_iters=3).collect()))
    bpe_rel = sorted(map(tuple, bpe_train(
        docs, num_iters=3, checkpoint_dir=ck
    ).collect()))
    assert bpe_local == bpe_rel and len(bpe_local) == 3

    pr = registry()["ml_pagerank_converged"].fn
    pr_local = sorted(map(tuple, pr(
        spark, "/root/testdata/sf0.001"
    ).collect()))
    pr_rel = sorted(map(tuple, pr(
        spark, "/root/testdata/sf0.001", checkpoint_dir=ck
    ).collect()))
    assert pr_local == pr_rel and pr_local

    # the reliable route actually wrote checkpoint state under the dir
    import os

    assert any(os.scandir(ck))


def test_cut_lineage_checkpoint_root_comparison(spark, tmp_path):
    """ADVICE r9: the checkpoint-root reuse check must compare path
    COMPONENTS after scheme normalization, not substring containment.
    Two failure modes it guards: (a) a requested root that is a string
    prefix of the current one (/data/ck vs /data/ck2/<uuid>) must NOT be
    treated as already set; (b) a scheme-qualified respelling of the
    SAME root (file:///tmp/ck vs the stored file:/tmp/ck/<uuid>) must
    NOT mint a fresh UUID subdir per call."""
    from bag_parser_spark.operators.lineage import cut_lineage

    df = spark.range(3)
    sc = spark.sparkContext
    ck2 = str(tmp_path / "ck2")
    cut_lineage(df, checkpoint_dir=ck2)
    after_ck2 = sc.getCheckpointDir()
    assert "/ck2/" in after_ck2 + "/"

    # (a) /…/ck is a substring-prefix of /…/ck2/<uuid> — must reset
    ck = str(tmp_path / "ck")
    assert ck in after_ck2  # the old buggy containment would match
    cut_lineage(df, checkpoint_dir=ck)
    after_ck = sc.getCheckpointDir()
    assert after_ck != after_ck2 and "/ck/" in after_ck + "/"

    # (b) same root respelled with a scheme — must REUSE (no new UUID)
    cut_lineage(df, checkpoint_dir="file://" + ck)
    assert sc.getCheckpointDir() == after_ck
    cut_lineage(df, checkpoint_dir=ck + "/")
    assert sc.getCheckpointDir() == after_ck


def test_cut_lineage_raw_paths_with_uri_metachars(spark, tmp_path):
    """ADVICE r10: a scheme-less checkpoint root is a RAW filesystem
    path — '?' and '#' are legal POSIX dirname characters, not URI
    query/fragment separators. urlparse-ing such a path split it and
    made the root never compare equal to itself, minting a fresh UUID
    subdir per call (disk growth). The normalizer must only urlparse
    strings that actually carry a scheme."""
    from bag_parser_spark.operators.lineage import _norm_root, cut_lineage

    # component identity: raw path with metachars survives intact
    weird = str(tmp_path / "ck?v=1#frag")
    assert _norm_root(weird) == ("file", "", weird)
    assert _norm_root(weird + "/") == ("file", "", weird)
    # scheme-qualified spellings still normalize
    assert _norm_root("file://" + str(tmp_path / "a"))[2] == str(
        tmp_path / "a"
    )

    # behavioral: two calls on a metachar root reuse ONE UUID subdir
    import os

    df = spark.range(3)
    sc = spark.sparkContext
    os.makedirs(weird, exist_ok=True)
    cut_lineage(df, checkpoint_dir=weird)
    first = sc.getCheckpointDir()
    cut_lineage(df, checkpoint_dir=weird)
    assert sc.getCheckpointDir() == first


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS)
# ---------------------------------------------------------------------------


def _wn_pairs(spark, rows, **kw):
    from bag_parser_spark.operators import dedup

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in dedup.winnowing_pairs(
            df, "doc_id", "text", **kw
        ).collect()
    }


def test_winnowing_guarantee_shared_run(spark):
    """The winnowing contract: two docs sharing ANY run of >= k+w-1 words
    share a fingerprint deterministically (Schleimer et al. theorem 1) —
    with k=4, w=4 a 7-word shared run must be detected even when all
    surrounding context differs."""
    run = "alpha beta gamma delta epsilon zeta eta"  # 7 words
    rows = [
        (1, f"aa bb cc dd {run} ee ff gg hh"),
        (2, f"pp qq rr ss tt {run} uu vv"),
        (3, "unrelated words only here nothing shared at all today"),
    ]
    got = _wn_pairs(spark, rows, min_shared=1)
    assert (1, 2) in got
    assert not any(3 in p for p in got)


def test_winnowing_short_doc_fallback(spark):
    """Docs shorter than gram_k words collapse to one whole-text
    fingerprint — identical short docs still pair."""
    rows = [(1, "tiny doc"), (2, "tiny doc"), (3, "other doc")]
    got = _wn_pairs(spark, rows, min_shared=1)
    assert got == {(1, 2): 1}


def test_winnowing_max_df_prunes_boilerplate(spark):
    """A fingerprint present in > max_fp_df docs is boilerplate and must
    not mint pairs; the same corpus WITHOUT the cap pairs quadratically."""
    boiler = "copyright header line common to every single page here"
    rows = [(i, f"{boiler} unique{i} tail{i}") for i in range(1, 11)]
    capped = _wn_pairs(spark, rows, min_shared=1, max_fp_df=5)
    uncapped = _wn_pairs(spark, rows, min_shared=1)
    assert len(uncapped) == 45  # all C(10,2) pairs share the header
    # the header fps (df=10) are pruned; only fps under the cap remain,
    # and every unique{i}-anchored fp has df=1 -> no pairs survive
    assert capped == {}


def test_winnowing_fp_count_is_sublinear(spark):
    """Winnowing keeps ~2n/(w+1) of n gram hashes (expected density of
    distinct window minima) — assert the fingerprint table is materially
    smaller than the gram table, the property the 100 TB shape rests on."""
    from bag_parser_spark.operators import dedup

    words = " ".join(f"w{(i * 7919) % 701}" for i in range(400))
    df = spark.createDataFrame([(1, words)], "doc_id long, text string")
    n_fps = dedup.winnow_fingerprint_rows(
        df, "doc_id", "text", gram_k=4, window_w=8
    ).count()
    n_grams = 400 - 4 + 1
    assert n_fps < 0.5 * n_grams, (n_fps, n_grams)


# ---------------------------------------------------------------------------
# Multi-class language-profile ID
# ---------------------------------------------------------------------------


def _lang_rows(spark, texts):
    from bag_parser_spark.operators import text as tx

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return (
        df.select("doc_id", *tx.language_profile_scores(F.col("text")))
        .orderBy("doc_id")
        .collect()
    )


def test_lang_profile_scores_and_pred(spark):
    rows = _lang_rows(
        spark,
        [
            "the cat of doom went to the house and it is big",  # en 5/5
            "der hund und das kind ist nicht hier",  # de 5/5
            "rare words only zz yy xx ww",  # nothing -> und
            "the of foo bar baz",  # en 2/5 = 0.4 < floor -> und
        ],
    )
    assert rows[0]["lang_pred"] == "en" and rows[0]["score_en"] == 1.0
    assert rows[1]["lang_pred"] == "de" and rows[1]["score_de"] == 1.0
    assert rows[2]["lang_pred"] == "und"
    assert rows[3]["lang_pred"] == "und" and rows[3]["score_en"] == 0.4


def test_lang_profile_tie_breaks_in_profile_order(spark):
    """Equal coverage across languages resolves to the FIRST language in
    profile-dict order (en before de) — pinned so the DuckDB CASE chain
    and the Spark when-chain stay the same function."""
    rows = _lang_rows(
        spark,
        ["the of and to is der und nicht das ist"],  # en 5/5, de 5/5
    )
    assert rows[0]["score_en"] == 1.0 and rows[0]["score_de"] == 1.0
    assert rows[0]["lang_pred"] == "en"


def test_calibration_bins_exact_and_clamped(spark):
    """calibration_bins on a hand-built fixture: closed-form conf/rate/
    gap values; out-of-range scores clamp into the edge bins; the
    weighted gaps are n/N-scaled."""
    from bag_parser_spark.operators import aggregates as agg

    rows = (
        # bin 5 ([0, 20)): all scores 5 -> conf (5+100)/200 = 0.525;
        # 11 of 20 positive -> rate 0.55 -> gap 0.025
        [(5, 1)] * 11 + [(5, 0)] * 9
        # below lo: clamps to -100 -> bin 0, conf 0.0, none positive
        + [(-250, 0)] * 4
        # above hi: clamps to 100 -> top bin, conf 1.0, all positive
        + [(900, 1)] * 1
    )
    df = spark.createDataFrame(rows, "score long, pos long")
    got = {
        r["bin"]: r
        for r in agg.calibration_bins(
            df, "score", "pos", lo=-100, hi=100, n_bins=10
        ).collect()
    }
    assert set(got) == {0, 5, 9}
    assert got[5]["n"] == 20
    assert got[5]["avg_conf"] == 0.525  # (5*20 - 20*(-100)) / (20*200)
    assert got[5]["pos_rate"] == 0.55
    assert got[5]["gap"] == 0.025
    assert got[0]["avg_conf"] == 0.0 and got[0]["pos_rate"] == 0.0
    assert got[9]["avg_conf"] == 1.0 and got[9]["pos_rate"] == 1.0
    # weighted gaps: n/N * gap, N = 25
    assert got[5]["weighted_gap"] == round(0.025 * 20 / 25, 6)
    assert got[9]["weighted_gap"] == 0.0


def test_md5_mod_conv_fold_equals_nibble_fold(spark):
    """ADVICE r11 #3: the docstring's promised conv-vs-nibble equivalence
    test. md5_mod's JVM conv(substring(md5,1,8),16,10) fold must equal
    the portable nibble arithmetic the DuckDB oracle keeps, value for
    value — including values whose leading hex digit >= 8 (sign-bit
    territory for a 32-bit reading) and across mod sizes."""
    from pyspark.sql import functions as F

    from bag_parser_spark.operators.sampling import md5_mod

    df = spark.range(5000).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("s")
    )
    h = F.md5(F.concat(F.lit("t:"), F.col("s")))
    nibble = F.lit(0).cast("long")
    for i in range(1, 9):
        nibble = nibble * 16 + (
            F.instr(F.lit("0123456789abcdef"), F.substring(h, i, 1)) - 1
        )
    for mod in (2, 512, 10_000, 65_536):
        bad = (
            df.select(
                md5_mod(F.col("s"), "t", mod).alias("a"),
                (nibble.cast("long") % mod).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .count()
        )
        assert bad == 0, f"mod={mod}: conv fold diverged from nibble fold"


def test_simhash_num_bits_guard():
    """ADVICE r11 #1: num_bits > 60 would overflow the single conv fold
    (>= 2^63 casts to NULL in non-ANSI mode -> every bit votes -1,
    silently wrong signatures). Must raise, not corrupt."""
    import pytest as _pytest

    from bag_parser_spark.operators import dedup

    with _pytest.raises(ValueError, match="num_bits=64 > 60"):
        dedup.simhash_signatures(None, "id", "text", num_bits=64)


def test_bloom_bitmap_broadcast_path_matches_literal(spark):
    """VERDICT r11 #5: above 2^20 bits the Bloom bitmap rides a one-row
    broadcast relation instead of a plan literal. Same counts either
    way — pin the two paths against each other at the boundary, and
    pin that the small-m plan embeds a literal while the large-m plan
    does NOT carry the 2 MB array in its string."""
    from bag_parser_spark.operators import sketches

    probe = spark.createDataFrame(
        [(1, "k1"), (1, "k2"), (2, "k2"), (2, "zzz")],
        "pid long, key string",
    )
    members = spark.createDataFrame([("k1",), ("k2",)], "key string")

    def run(m):
        rows = sketches.bloom_confirmed_counts(
            probe, "pid", "key", members, k=3, m=m
        )
        got = {
            r["pid"]: (r["n_keys"], r["n_candidates"], r["n_confirmed"])
            for r in rows.collect()
        }
        return rows, got

    small_df, small = run(1 << 20)        # literal path (boundary)
    big_df, big = run((1 << 20) + 64)     # broadcast path
    # confirmed counts are exact and path-independent; candidates may
    # differ across m (different bit positions), so compare confirmed
    assert {p: v[2] for p, v in small.items()} == {1: 2, 2: 1}
    assert {p: v[2] for p, v in big.items()} == {1: 2, 2: 1}
    assert big[2][1] >= big[2][2]  # candidates >= confirmed (no false negatives)
    big_plan = big_df._jdf.queryExecution().optimizedPlan().toString()
    assert "__bm__" in big_plan


def test_fan_out_cpu_dense_guard(spark, monkeypatch):
    """The fan-out helper must repartition small inputs to the default
    parallelism, pass large inputs through UNTOUCHED (same plan object),
    and treat a threshold of 0 as off."""
    from bag_parser_spark.operators import fanout
    from bag_parser_spark.session import default_parallelism

    df = spark.range(100).selectExpr("id", "cast(id as string) s")
    out = fanout.fan_out_cpu_dense(df, "id")
    logical = out._jdf.queryExecution().logical().toString()
    assert f"RepartitionByExpression ['id], {default_parallelism()}" in logical
    # big input (estimate above threshold): untouched
    monkeypatch.setattr(fanout, "FANOUT_MAX_BYTES", 1)
    assert fanout.fan_out_cpu_dense(df, "id") is df
    # kill-switch
    monkeypatch.setattr(fanout, "FANOUT_MAX_BYTES", 0)
    assert fanout.fan_out_cpu_dense(df, "id") is df
