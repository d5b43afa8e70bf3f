"""Similarity search over embedding columns (extension, BASELINE.json north
star: ANN over array<float> embeddings).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed variant is
the 100 TB path: random-hyperplane signatures turn the O(n·q) scan into a
bucket equi-join, shuffling only (bucket, id) pairs. IVF adds data-driven
cells (and SemDeDup-style within-cell dedup with a salted giant-cell
guard); product quantization adds the billion-vector memory story —
encode to m small codes, search via broadcast lookup tables without ever
reading raw vectors at query time — and ``ivfpq_topk`` composes the two
(residual PQ inside coarse cells, per-probed-cell lookup tables, the
FAISS IndexIVFPQ serving layout). All arithmetic is sequential-order
double math (left folds, or IEEE-equivalent unrolled chains for fixed
widths) so a single-threaded oracle computes bit-identical similarities.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bag_parser_spark.operators.fanout import fan_out_cpu_dense


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Left-fold dot product — deterministic accumulation order.

    The fold (default) is the fast path: measured 3.0s vs 4.9s for the
    dim=64 unrolled sum over 200k rows — Spark 4 evaluates higher-order
    lambdas efficiently while a 64-term expression tree bloats codegen.
    ``dim`` keeps the unrolled left-associated alternative available for
    engines/versions where the opposite holds; both are IEEE-identical:
    (0+p1)+p2+… ≡ (p1+p2)+… .
    """
    if dim is not None:
        terms = [
            a.getItem(i).cast("double") * b.getItem(i).cast("double")
            for i in range(dim)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column, dim: int | None = None) -> Column:
    if dim is not None:
        return F.sqrt(dot(a, a, dim))
    return F.sqrt(
        F.aggregate(
            F.transform(_as_double(a), lambda x: x * x),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int,
) -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector.

    The query vector is a literal array (broadcast in the plan, not a join);
    the scan is embarrassingly parallel and TakeOrderedAndProject keeps only
    k rows per partition. Ties break on id for determinism.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 6).alias("cosine_sim"),
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc()).limit(k)


def _pseudo_random_plane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from a hash of (plane, dim
    index) — reproducible in any engine, no RNG state. Values in [-1, 1]."""
    out = []
    for d in range(dim):
        h = 0
        for ch in f"plane:{plane}:{d}":
            h = (h * 1000003 + ord(ch)) % (2**31)
        out.append((h / float(2**31 - 1)) * 2.0 - 1.0)
    return out


def lsh_bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature string over the given hyperplanes — the LSH bucket
    key shared by lsh_bucket_topk and embedding_neardup_pairs."""
    bits = [
        F.when(
            dot(vec, F.array(*[F.lit(w) for w in plane])) >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def lsh_bucket_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int,
    num_planes: int = 8,
) -> DataFrame:
    """Random-hyperplane LSH ANN: bucket = sign bits of ⟨v, plane_i⟩.

    Only vectors in the query's bucket are scored — at corpus scale the
    candidate set is ~n/2^planes per bucket and the scan prunes via a
    pushed-down bucket filter. Recall < 1 by construction (documented
    approximate operator); same scoring math as cosine_topk.
    """
    dim = len(query_vec)
    planes = [_pseudo_random_plane(p, dim) for p in range(num_planes)]

    def bucket_of(vec: Column) -> Column:
        return lsh_bucket_expr(vec, planes)

    qb = "".join(
        "1" if sum(q * w for q, w in zip(query_vec, plane)) >= 0 else "0"
        for plane in planes
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = (
        df.withColumn("__bucket__", bucket_of(F.col(vec_col)))
        .filter(F.col("__bucket__") == F.lit(qb))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cosine_sim"),
        )
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc()).limit(k)


def _arrow_pair_cosine():
    """Arrow-batched cosine over vector pairs with per-vector norms
    precomputed: the vectorized twin of ``dot(a,b)/(norm_a*norm_b)``.

    Bit-exactness contract: the accumulation is an explicit left fold over
    dimensions (``acc = acc + a[:,d]*b[:,d]``), vectorized across ROWS —
    numpy's own ``dot``/``reduce`` use pairwise summation and would round
    differently than the Column fold / the DuckDB oracle. Inputs upcast to
    float64 before multiplying, exactly like ``_as_double``.

    Why a UDF here when the engine's rule is "expressions first": Spark
    evaluates higher-order-function lambdas interpreted, one expression
    tree per element — measured ~2s for 30k pair-dots at dim 64. The Arrow
    path moves the same arithmetic to numpy at ~100 ns/dot, and at 100 TB
    it rides mapInPandas batches with zero extra shuffle.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_cosine(
        va: pd.Series, vb: pd.Series, na: pd.Series, nb: pd.Series
    ) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        a = np.stack(va.to_numpy()).astype(np.float64)
        b = np.stack(vb.to_numpy()).astype(np.float64)
        acc = np.zeros(len(a), dtype=np.float64)
        for d in range(a.shape[1]):
            acc = acc + a[:, d] * b[:, d]
        return pd.Series(acc / (na.to_numpy() * nb.to_numpy()))

    return pair_cosine


def _arrow_pair_l2sq():
    """Arrow-batched squared-L2 over vector pairs: the vectorized twin of
    the no-width ``_l2sq(a, b)`` fold.

    Bit-exactness contract (same as ``_arrow_pair_cosine``): an explicit
    left fold over dimensions, vectorized across ROWS —
    ``acc = acc + (a[:,d] - b[:,d])**2`` performs per element exactly the
    subtract / multiply / add sequence of the Column fold (which starts at
    ``F.lit(0.0)``) and of the DuckDB ``list_dot_product`` over the
    difference list, so every engine rounds identically. numpy's own
    ``einsum``/``dot`` reductions use pairwise summation and would NOT.

    r11 optimization (guide §4.1): the IVF-PQ coarse assignment evaluates
    squared-L2 on the |corpus|x|cells| crossJoin product (80k dim-64
    evaluations at sf0.1), and Spark runs higher-order-function lambdas
    interpreted — one expression tree per element. Arrow moves the same
    arithmetic to numpy, the exact trade ``_arrow_pair_cosine`` measured
    for the IVF cosine assignment (~100 ns/row-dot); at 100 TB it rides
    the same broadcast-join batches with zero extra shuffle.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_l2sq(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        a = np.stack(va.to_numpy()).astype(np.float64)
        b = np.stack(vb.to_numpy()).astype(np.float64)
        acc = np.zeros(len(a), dtype=np.float64)
        for d in range(a.shape[1]):
            diff = a[:, d] - b[:, d]
            acc = acc + diff * diff
        return pd.Series(acc)

    return pair_l2sq


def _py_cosine(a: list[float], b: list[float]) -> float:
    """Driver-side cosine with the SAME left-fold accumulation order as the
    Column form, so centroid orderings computed on the driver match the
    distributed (and oracle) orderings bit-for-bit."""
    d = 0.0
    for x, y in zip(a, b):
        d = d + float(x) * float(y)
    na = 0.0
    for x in a:
        na = na + float(x) * float(x)
    nb = 0.0
    for y in b:
        nb = nb + float(y) * float(y)
    return d / (math.sqrt(na) * math.sqrt(nb))


def _assign_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest-centroid (cosine) cell of every vector: the coarse
    assignment shared by ``ivf_topk``, ``semantic_dedup_pairs`` and
    ``hard_negatives_blocked``. Returns (__vid__, cell, __vec__, *carry).

    ``centroids`` is (cid, cv) and small by design (~√n cells), so the
    pass is a broadcast crossJoin + per-vector argmax as a map-side
    partial aggregation: every copy of a vector lives in the partition
    that produced it (broadcast join never splits a left row's
    fan-out), so the partial min collapses the |corpus|×|cells| product
    back to one row per vector BEFORE the exchange — the shuffle moves
    n rows, not n·√n (a row_number() window here would shuffle the
    whole product; round-1 flaw). Norms are computed once per
    vector/centroid (Column-side, tiny); the product scoring itself
    runs Arrow-vectorized — the hot stage.

    ``carry`` names columns that ride the argmax struct to the output:
    ``__vnorm__`` (the vector norm computed here) or a column of ``df``.
    """
    c = centroids.select("cid", "cv")
    # argmax = min over struct(-sim, cid, vec, …): field-order comparison
    # gives max sim (negated — sim is always a double, so the negation
    # lives on the numeric field) with deterministic min-cid tiebreak for
    # ANY orderable cid type (long, string, UUID-as-string, date); the
    # vector and carried columns ride along so no second join is needed
    best = F.min(
        F.struct(
            (-F.col("__sim__")).alias("__negsim__"),
            F.col("cid").alias("c"),
            F.col("__vec__").alias("v"),
            *carry,
        )
    ).alias("__best__")
    pair_cos = _arrow_pair_cosine()
    return (
        fan_out_cpu_dense(
            df.select(
                F.col(id_col).alias("__vid__"),
                F.col(vec_col).alias("__vec__"),
                *[k for k in carry if k != "__vnorm__"],
                norm(F.col(vec_col)).alias("__vnorm__"),
            ),
            "__vid__",
        )
        .crossJoin(F.broadcast(c.withColumn("__cnorm__", norm(F.col("cv")))))
        .withColumn(
            "__sim__",
            pair_cos(
                F.col("__vec__"), F.col("cv"),
                F.col("__vnorm__"), F.col("__cnorm__"),
            ),
        )
        .groupBy("__vid__")
        .agg(best)
        .select(
            "__vid__",
            F.col("__best__.c").alias("cell"),
            F.col("__best__.v").alias("__vec__"),
            *[F.col(f"__best__.{k}").alias(k) for k in carry],
        )
    )


def _block_pairs(
    rows: DataFrame,
    block: str,
    ids: tuple[str, str],
    pred: Column,
    threshold: float | None = None,
    big_cell_cutoff: int | None = None,
    salt: int = 1,
) -> DataFrame:
    """Exact Arrow cosine of every pair of ``rows`` that share a
    ``block`` value and satisfy ``pred`` — the partition-first,
    score-locally step of the similarity family, as one block
    equi-join.

    ``rows`` holds (block, __vid__, __vec__, __vnorm__, …). The right
    side of the self-join carries every column renamed with a ``2``
    suffix (``cell`` → ``__cell2__``, ``__vid__`` → ``__vid2__``), so
    ``pred`` compares the two sides, e.g. ``F.col("__vid__") <
    F.col("__vid2__")``. Returns (ids[0], ids[1], block, cosine_sim,
    __salt2__) with the cosine rounded to 6 and, given ``threshold``,
    only pairs at or above it (the cut runs on the ROUNDED value, so it
    is engine-reproducible). ``__salt2__`` is the right id's hash into
    ``salt`` sub-keys.

    Big-block guard (with ``big_cell_cutoff``): blocks larger than the
    cutoff — a degenerate giant cell concentrates its quadratic
    expansion in few tasks, the identity-collapse lesson of the
    image-hash dedup (SCALE.md r5) — route through a SALTED join: the
    left side replicated across ``salt`` sub-keys, the right side
    hashed into them, spreading each giant block's output over ``salt``
    tasks instead of one. Small blocks keep the plain equi-join:
    salting everything would replicate every vector ``salt``x for no
    benefit. Every pair matches under exactly one salt value, so the
    split is layout-only and the result is identical with or without
    it. The guard is EAGER: one Spark job (per-block counts; the list is
    bounded by the number of blocks, so it collects) runs at call time —
    persist ``rows`` first. Without ``big_cell_cutoff`` the helper is
    lazy.
    """
    if big_cell_cutoff is not None and salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")

    def renamed(k: str) -> str:
        return f"__{k.strip('_')}2__"

    right = rows.select(
        *[F.col(k).alias(renamed(k)) for k in rows.columns],
        F.pmod(F.xxhash64("__vid__"), F.lit(salt)).alias("__salt2__"),
    )
    on = (F.col(block) == F.col(renamed(block))) & pred
    pair_cos = _arrow_pair_cosine()

    def join(left: DataFrame, cond: Column) -> DataFrame:
        out = left.join(right, cond).select(
            F.col("__vid__").alias(ids[0]),
            F.col("__vid2__").alias(ids[1]),
            block,
            F.round(
                pair_cos(
                    F.col("__vec__"), F.col("__vec2__"),
                    F.col("__vnorm__"), F.col("__vnorm2__"),
                ),
                6,
            ).alias("cosine_sim"),
            "__salt2__",
        )
        if threshold is None:
            return out
        return out.filter(F.col("cosine_sim") >= threshold)

    if big_cell_cutoff is None:
        return join(rows, on)
    big = [
        r[block]
        for r in rows.groupBy(block)
        .agg(F.count(F.lit(1)).alias("__n__"))
        .filter(F.col("__n__") > big_cell_cutoff)
        .collect()
    ]
    if not big:
        return join(rows, on)
    small = join(rows.filter(~F.col(block).isin(big)), on)
    salted = rows.filter(F.col(block).isin(big)).withColumn(
        "__salt__", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return small.unionAll(
        join(salted, on & (F.col("__salt__") == F.col("__salt2__")))
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int,
    centroids: DataFrame,
    nprobe: int = 2,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize every vector to its nearest
    centroid cell, then probe only the ``nprobe`` cells nearest the query.

    ``centroids`` is (cid, cv) and small by design (~√n cells), so the
    assignment pass (``_assign_cells``) is a broadcast crossJoin +
    per-vector argmax as a map-side partial aggregation — the shuffle
    moves n rows, not n·√n. At 100 TB the cell id becomes a partition
    column of the stored corpus, so probing prunes partitions at the
    scan and the per-query cost is |cell|·nprobe, not n. Probe-cell
    selection runs on the driver over the collected centroid set
    (tiny). Approximate by construction — recall < 1 when the true
    neighbor lands in an unprobed cell; cosine math matches cosine_topk
    bitwise.
    """
    assigned = _assign_cells(df, id_col, vec_col, centroids)
    cents = [
        (r["cid"], [float(x) for x in r["cv"]])
        for r in centroids.select("cid", "cv").collect()
    ]
    ranked = sorted(
        cents, key=lambda t: (-_py_cosine(t[1], query_vec), t[0])
    )
    probe_cids = [cid for cid, _ in ranked[:nprobe]]
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = (
        assigned.filter(F.col("cell").isin(probe_cids))
        .select(
            F.col("__vid__").alias(id_col),
            F.round(cosine(F.col("__vec__"), q), 6).alias("cosine_sim"),
        )
    )
    return scored.orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    ).limit(k)


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    threshold: float,
    big_cell_cutoff: int = 100_000,
    salt: int = 32,
    cache_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication"):
    cluster embeddings to coarse cells, then search for near-duplicate
    pairs ONLY within each cell — the cluster-then-compare shape that
    bounds pair cost by cell size instead of corpus size.

    ``centroids`` is (cid, cv), small by design; assignment is the same
    broadcast-crossJoin + map-side argmax as ``ivf_topk`` (the shuffle
    moves one row per vector, never the |corpus|x|cells| product), the
    assigned projection persists once (self-join would otherwise execute
    the assignment twice), and the pair stage is a cell equi-join under
    ``id_a < id_b`` with the exact Arrow left-fold cosine verifying
    each candidate against the ROUNDED threshold (engine-reproducible
    cut). Returns (id_a, id_b, cell, cosine_sim).

    Scale: pick |cells| ∝ n / target_cell_size so per-cell pair cost
    stays bounded as the corpus grows; store the corpus partitioned by
    cell and the pair join is partition-local. A degenerate giant cell
    concentrates its quadratic expansion in few tasks — at 100 TB a
    when, not an if (one viral template embeds to one point). Guard:
    cells larger than ``big_cell_cutoff`` rows route through a SALTED
    self-join spreading each giant cell's pairs over ``salt`` tasks
    (``salt`` >= 1, else ValueError); small cells keep the plain
    equi-join. The split is layout-only, so the result — and the
    oracle — is identical with or without it. Approximate by
    construction: a near-dup pair straddling a cell boundary is missed
    (SemDeDup accepts this; raise |cells| recall via multi-probe
    assignment if needed).

    NOTE — construction is EAGER: the big-cell guard runs one Spark job
    (per-cell counts over the cached assignment) at call time, before
    the returned plan executes. Plan-only tooling should expect that
    scan. The assignment persist() is appended to ``cache_registry``
    when given, so scoped callers (per-micro-batch loops, long-lived
    sessions) can unpersist it; without a registry the cached blocks
    live until the session evicts them.
    """
    assigned = _assign_cells(
        df, id_col, vec_col, centroids, carry=("__vnorm__",)
    ).persist()
    if cache_registry is not None:
        cache_registry.append(assigned)
    return _block_pairs(
        assigned, "cell", ("id_a", "id_b"),
        F.col("__vid__") < F.col("__vid2__"),
        threshold=threshold, big_cell_cutoff=big_cell_cutoff, salt=salt,
    ).select("id_a", "id_b", "cell", "cosine_sim")


def hard_negatives_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    centroids: DataFrame,
    k: int,
    big_cell_cutoff: int = 100_000,
    salt: int = 32,
    cache_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """ANN-neighborhood hard-negative mining (the ANCE/DPR training-data
    step: for every labeled query vector, the top-``k`` most-similar
    vectors carrying a DIFFERENT label — "hard" because they look like
    the query but aren't its class). Mining runs inside coarse
    nearest-centroid cells only — the ANCE insight that useful negatives
    come from the query's ANN neighborhood, which also bounds pair cost
    by cell size instead of corpus size.

    Returns (query_id, neg_id, cell, cosine_sim, neg_rank) — exactly
    ``k`` rows per query when its cell holds enough different-label
    candidates, fewer otherwise; rank ties break on (rounded cosine
    DESC, neg_id ASC), fully deterministic.

    Scale shape mirrors ``semantic_dedup_pairs`` (same broadcast-argmax
    assignment — one row per vector ever shuffles; same guarded big-cell
    routing — cells above ``big_cell_cutoff`` mine through a salted
    left-replicated join so a degenerate giant cell spreads over
    ``salt`` tasks; ``salt`` >= 1, else ValueError). On top, top-k
    selection is TWO-stage everywhere:
    a partial row_number per (query, candidate-salt) keeps ≤k rows per
    sub-bucket, then the global per-query rank runs over ≤ salt·k
    survivors — so no window task ever holds a whole giant cell's
    candidate list (a single-stage per-query window would re-concentrate
    exactly what the salted join just spread out). Both stages order
    identically, so the composition is exact, not approximate. A
    same-label near-twin in another cell is never considered —
    intended: it wouldn't be a negative; a DIFFERENT-label neighbor in
    another cell is missed, the standard ANN-mining recall tradeoff.

    NOTE — construction is EAGER: the big-cell guard runs one Spark job
    (per-cell counts over the cached assignment) at call time. The
    assignment persist() is appended to ``cache_registry`` when given so
    scoped callers can free it (same contract as the dedup/text
    helpers).
    """
    from pyspark.sql import Window

    assigned = _assign_cells(
        df.withColumn("__lab__", F.col(label_col)), id_col, vec_col,
        centroids, carry=("__vnorm__", "__lab__"),
    ).persist()
    if cache_registry is not None:
        cache_registry.append(assigned)
    scored = _block_pairs(
        assigned, "cell", ("query_id", "neg_id"),
        F.col("__lab__") != F.col("__lab2__"),
        big_cell_cutoff=big_cell_cutoff, salt=salt,
    )
    order = (F.col("cosine_sim").desc(), F.col("neg_id").asc())
    w_partial = Window.partitionBy("query_id", "__salt2__").orderBy(*order)
    w_final = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("__pr__", F.row_number().over(w_partial))
        .filter(F.col("__pr__") <= k)
        .withColumn("neg_rank", F.row_number().over(w_final).cast("long"))
        .filter(F.col("neg_rank") <= k)
        .select("query_id", "neg_id", "cell", "cosine_sim", "neg_rank")
    )


def _l2sq(a: Column, b: Column, w: int | None = None) -> Column:
    """Squared-L2 distance as a sequential-order double sum over the
    squared differences — same engine-reproducibility contract as
    ``dot`` (the DuckDB mirror is ``list_dot_product(d, d)`` over the
    difference list, which accumulates in list order).

    ``w`` unrolls the sum into a left-associated expression chain for a
    KNOWN width: higher-order lambdas are interpreted, not codegen'd,
    and for the PQ subvector width (16) the unrolled form measured
    ~2.5x faster on the corpus-side encode join (3.0 s -> 1.2 s at
    sf0.1) — the opposite trade from ``dot`` at dim=64, where the
    64-term tree bloats codegen. Both forms are IEEE-identical:
    (0+t1)+t2+… ≡ (t1+t2)+… , so the oracle never sees a difference."""
    if w is not None:
        terms = [
            (a.getItem(i) - b.getItem(i)) * (a.getItem(i) - b.getItem(i))
            for i in range(w)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    diff = F.zip_with(a, b, lambda x, y: x - y)
    return F.aggregate(
        F.zip_with(diff, diff, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: DataFrame,
    m: int,
    dim: int,
) -> DataFrame:
    """Product-quantization encoding (Jégou, Douze & Schmid 2011,
    "Product Quantization for Nearest Neighbor Search") — the memory
    trick behind billion-vector ANN indexes (IVF-PQ): each vector
    splits into ``m`` contiguous ``dim/m``-dim subvectors and each
    subvector is replaced by the id of its nearest (squared-L2)
    codebook entry in that subspace, tie-broken by code id. A dim-float
    vector compresses to ``m`` small integers; asymmetric distance
    against the codebook then approximates L2 without touching raw
    vectors. ``codebooks`` is (subspace, code, cv) — m·k rows, tiny by
    construction.

    Returns one row per (id, subspace): (id, subspace, code, err) with
    ``err`` the squared-L2 residual of the chosen entry rounded to 6
    (the packed code array is a trivial groupBy-collect away; rows keep
    the oracle exact and the shuffle key simple).

    Scale shape: the subvector explode is map-only (m rows per vector,
    each carrying dim/m doubles); the codebook join is a BROADCAST (the
    whole point of PQ is that codebooks stay tiny); the argmin is a
    min-of-struct aggregate with map-side partials, so the one shuffle
    carries ≤ one candidate row per (vector, subspace) per map
    partition. Distances are left-fold double sums over the squared
    differences — engine-reproducible, same contract as ``dot``.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    w = dim // m
    subs = (
        fan_out_cpu_dense(
            df.select(
                F.col(id_col), _as_double(F.col(vec_col)).alias("__v__")
            ),
            id_col,
        )
        .select(
            id_col,
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(m - 1).cast("long"))
            ).alias("subspace"),
            "__v__",
        )
        .select(
            id_col,
            "subspace",
            F.slice(
                F.col("__v__"),
                (F.col("subspace") * w + 1).cast("int"),
                w,
            ).alias("__sv__"),
        )
    )
    cb = codebooks.select(
        F.col("subspace").cast("long").alias("subspace"),
        F.col("code"),
        _as_double(F.col("cv")).alias("__cv__"),
    )
    dist = _l2sq(F.col("__sv__"), F.col("__cv__"), w)
    best = F.min(
        F.struct(F.col("__d__").alias("d"), F.col("code").alias("c"))
    ).alias("__best__")
    return (
        subs.join(F.broadcast(cb), "subspace")
        .withColumn("__d__", dist)
        .groupBy(id_col, "subspace")
        .agg(best)
        .select(
            id_col,
            "subspace",
            F.col("__best__.c").alias("code"),
            F.round(F.col("__best__.d"), 6).alias("err"),
        )
    )


def ivfpq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    centroids: DataFrame,
    donor_filter,
    k: int = 10,
    nprobe: int = 3,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ: the coarse-quantizer + product-quantizer composition that
    billion-vector indexes (FAISS ``IndexIVFPQ``, Jégou et al. 2011 §V)
    actually serve from — IVF alone still reads raw vectors inside
    probed cells, PQ alone still scans every code; composed, a query
    reads only the probed cells' codes and never a raw vector.

    Index build (all relational): every vector is assigned to its
    nearest (squared-L2, min-cid tiebreak) coarse centroid via a
    broadcast crossJoin + min-of-struct partial aggregate (one shuffle
    of n skinny rows, exactly the ``ivf_topk`` shape but expression-only
    — no Python anywhere); its RESIDUAL (vector minus centroid — the
    residual trick is what makes shared codebooks tight across cells)
    is PQ-encoded against per-subspace codebooks drawn from the
    residuals of ``donor_filter`` rows (deterministic stand-in for
    k-means training, as in ``pq_encode``).

    Query: the ``nprobe`` cells nearest the query are ranked
    relationally (|cells| rows — no driver round-trip, unlike
    ``ivf_topk``); each probed cell gets its own m·k lookup table from
    the QUERY's residual in that cell; the codes⋈LUT broadcast join on
    (cid, subspace, code) prunes unprobed cells for free, and each
    surviving vector costs m lookups + a fixed-order left-associated
    sum (engine-reproducible floats). Top-k is a TakeOrderedAndProject
    heap. At 100 TB, cid is the stored table's partition column, so the
    probe prunes at the SCAN — per-query work is nprobe·|cell| code
    rows, not n.

    Returns (id, approx_l2sq) rounded 6, ascending, ties by id.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    w = dim // m
    cb0 = centroids.select(
        F.col("cid"), _as_double(F.col("cv")).alias("__cv__")
    )
    # (r12: the family's guarded fan-out was A/B'd here and REVERTED —
    # decisive 10-rep interleaved run: min flat 1.91 vs 1.93 s, median
    # WORSE 2.18 -> 2.33 s. Unlike ivf_topk/semantic_dedup/pq_encode,
    # the unpersisted `v` projection feeds several downstream subtrees
    # (assignment, residuals, donor codebooks), so the pinned-width
    # repartition multiplies through re-planned references instead of
    # paying off once.)
    v = df.select(
        F.col(id_col).alias("__vid__"),
        _as_double(F.col(vec_col)).alias("__v__"),
    )
    assign_best = F.min(
        F.struct(
            F.col("__d__").alias("d"),
            F.col("cid").alias("c"),
            F.col("__v__").alias("v"),
        )
    ).alias("__b__")
    # r11: the |corpus|x|cells| product is the hot stage — Arrow-fold
    # squared-L2 (bit-identical left fold, see _arrow_pair_l2sq) instead
    # of the interpreted higher-order lambda; the min-struct partial agg
    # still collapses the product map-side before the one exchange.
    pair_l2 = _arrow_pair_l2sq()
    assigned = (
        v.crossJoin(F.broadcast(cb0))
        .withColumn("__d__", pair_l2(F.col("__v__"), F.col("__cv__")))
        .groupBy("__vid__")
        .agg(assign_best)
        .select(
            "__vid__",
            F.col("__b__.c").alias("cid"),
            F.col("__b__.v").alias("__v__"),
        )
        .join(F.broadcast(cb0), "cid")
    )
    resid = assigned.select(
        "__vid__",
        "cid",
        F.zip_with("__v__", "__cv__", lambda x, y: x - y).alias("__r__"),
    )
    sub_ids = F.explode(
        F.sequence(F.lit(0).cast("long"), F.lit(m - 1).cast("long"))
    ).alias("subspace")
    cbk = (
        resid.filter(donor_filter(F.col("__vid__")))
        .select(sub_ids, F.col("__vid__").alias("code"), "__r__")
        .select(
            "subspace",
            "code",
            F.slice(
                F.col("__r__"), (F.col("subspace") * w + 1).cast("int"), w
            ).alias("cv"),
        )
    )
    subs = resid.select("__vid__", "cid", sub_ids, "__r__").select(
        "__vid__",
        "cid",
        "subspace",
        F.slice(
            F.col("__r__"), (F.col("subspace") * w + 1).cast("int"), w
        ).alias("__sv__"),
    )
    enc_best = F.min(
        F.struct(F.col("__d__").alias("d"), F.col("code").alias("c"))
    ).alias("__b__")
    codes = (
        subs.join(F.broadcast(cbk), "subspace")
        .withColumn("__d__", _l2sq(F.col("__sv__"), F.col("cv"), w))
        .groupBy("__vid__", "cid", "subspace")
        .agg(enc_best)
        .select("__vid__", "cid", "subspace", F.col("__b__.c").alias("code"))
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qcells = (
        cb0.withColumn("__qd__", _l2sq(q, F.col("__cv__")))
        .orderBy(F.col("__qd__").asc(), F.col("cid").asc())
        .limit(nprobe)
        .select(
            "cid",
            F.zip_with(q, F.col("__cv__"), lambda x, y: x - y).alias(
                "__qr__"
            ),
        )
    )
    lut = qcells.crossJoin(F.broadcast(cbk)).select(
        "cid",
        "subspace",
        "code",
        _l2sq(
            F.slice(
                F.col("__qr__"), (F.col("subspace") * w + 1).cast("int"), w
            ),
            F.col("cv"),
            w,
        ).alias("__ld__"),
    )
    per = (
        codes.join(F.broadcast(lut), ["cid", "subspace", "code"])
        .groupBy("__vid__")
        .agg(
            *[
                F.min(
                    F.when(F.col("subspace") == i, F.col("__ld__"))
                ).alias(f"__l{i}__")
                for i in range(m)
            ]
        )
    )
    total = F.col("__l0__")
    for i in range(1, m):
        total = total + F.col(f"__l{i}__")
    return (
        per.select(F.col("__vid__").alias(id_col), total.alias("__t__"))
        .orderBy(F.col("__t__").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round(F.col("__t__"), 6).alias("approx_l2sq"))
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    k: int = 10,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """PQ asymmetric-distance top-k search — how a PQ index is actually
    queried (Jégou et al. 2011 §IV): the query stays UNQUANTIZED; its
    squared-L2 distance to every codebook entry is computed ONCE into a
    lookup table of m·k values, and each encoded vector's approximate
    distance is then m table lookups + a sum. Raw vectors are never
    touched at query time — that is the entire memory story of
    billion-vector search.

    ``codes`` is ``pq_encode`` output (id, subspace, code);
    ``codebooks`` the same (subspace, code, cv) used to encode. Returns
    the ``k`` ids with smallest approximate squared L2 (ties by id):
    (id, approx_l2sq) rounded 6.

    Scale shape: the LUT is m·k rows built from the codebook alone —
    BROADCAST; the per-vector sum folds the m subspace distances in
    FIXED subspace order (per-subspace min-when pivot then a
    left-associated add chain, never F.sum whose accumulation order is
    partition-dependent — engine-reproducible floats); top-k is a
    TakeOrderedAndProject heap, never a global sort.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    w = dim // m
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    lut = codebooks.select(
        F.col("subspace").cast("long").alias("subspace"),
        F.col("code"),
        _l2sq(
            F.slice(q, (F.col("subspace") * w + 1).cast("int"), w),
            _as_double(F.col("cv")),
            w,
        ).alias("__ld__"),
    )
    per = (
        codes.select(id_col, "subspace", "code")
        .join(F.broadcast(lut), ["subspace", "code"])
        .groupBy(id_col)
        .agg(
            *[
                F.min(
                    F.when(F.col("subspace") == i, F.col("__ld__"))
                ).alias(f"__l{i}__")
                for i in range(m)
            ]
        )
    )
    total = F.col("__l0__")
    for i in range(1, m):
        total = total + F.col(f"__l{i}__")
    return (
        per.select(F.col(id_col), total.alias("__t__"))
        .orderBy(F.col("__t__").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round(F.col("__t__"), 6).alias("approx_l2sq"))
    )


def pq_adc_topk_batch(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    qid_col: str = "qid",
    qvec_col: str = "qv",
    k: int = 10,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Batched PQ asymmetric-distance search — the serving shape:
    ``queries`` is a DataFrame of (qid, qvec) and every query gets its
    own m·k lookup table in ONE pass (queries × codebooks, both tiny —
    the LUT table is |Q|·m·k rows and broadcasts), then every encoded
    vector's distance to every query is m lookups + a fixed-order sum,
    and a per-query rank window keeps k. Returns (qid, id,
    approx_l2sq) rounded 6, k rows per query, ties by id.

    Scale shape: same as ``pq_adc_topk`` per query — raw vectors never
    read; the only per-corpus-row work is the broadcast LUT join and
    the (qid, id) aggregate (map-side partials). The top-k is a rank
    window PARTITIONED by qid (never a global sort); with |Q| queries
    the shuffle carries |Q|·|corpus| skinny rows — batch your queries
    to what the cluster's shuffle comfortably holds, exactly how ANN
    serving batches work.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    w = dim // m
    from pyspark.sql import Window

    cb = codebooks.select(
        F.col("subspace").cast("long").alias("subspace"),
        F.col("code"),
        _as_double(F.col("cv")).alias("__cv__"),
    )
    lut = (
        queries.select(
            F.col(qid_col).alias("__qid__"),
            _as_double(F.col(qvec_col)).alias("__qv__"),
        )
        .crossJoin(F.broadcast(cb))
        .select(
            "__qid__",
            "subspace",
            "code",
            _l2sq(
                F.slice(
                    F.col("__qv__"),
                    (F.col("subspace") * w + 1).cast("int"),
                    w,
                ),
                F.col("__cv__"),
                w,
            ).alias("__ld__"),
        )
    )
    per = (
        codes.select(id_col, "subspace", "code")
        .join(F.broadcast(lut), ["subspace", "code"])
        .groupBy("__qid__", id_col)
        .agg(
            *[
                F.min(
                    F.when(F.col("subspace") == i, F.col("__ld__"))
                ).alias(f"__l{i}__")
                for i in range(m)
            ]
        )
    )
    total = F.col("__l0__")
    for i in range(1, m):
        total = total + F.col(f"__l{i}__")
    ranked = per.select(
        F.col("__qid__"), F.col(id_col), total.alias("__t__")
    ).withColumn(
        "__rn__",
        F.row_number().over(
            Window.partitionBy("__qid__").orderBy(
                F.col("__t__").asc(), F.col(id_col).asc()
            )
        ),
    )
    return (
        ranked.filter(F.col("__rn__") <= k)
        .select(
            F.col("__qid__").alias(qid_col),
            id_col,
            F.round(F.col("__t__"), 6).alias("approx_l2sq"),
        )
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    num_planes: int = 6,
    dim: int = 64,
    within_salt: int = 32,
    collapse: bool | None = None,
    cache_registry: list[DataFrame] | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup-family member the
    MinHash/SimHash variants can't cover: semantic near-dups).

    All-pairs cosine is O(n²); instead vectors are bucketed by their
    random-hyperplane sign signature and paired ONLY within buckets
    (~n/2^planes candidates per bucket), then exact cosine verifies each
    candidate. The equi-join keeps every row bounded (one member pair),
    shuffles only (bucket, id, vec, norm), and persist() kills the usual
    self-join objection while — unlike localCheckpoint, whose
    executor-local storage makes executor loss fatal — staying
    recomputable (_pseudo_random_plane is deterministic). Approximate by
    construction (a pair straddling a hyperplane is missed — standard
    LSH recall/planes trade-off); comparison happens on the ROUNDED
    similarity so the threshold cut is reproducible across engines.

    Identity collapse (the r5 mm_image_neardup lesson applied here, r6):
    exact-duplicate vectors all share every bucket, so a corpus with big
    exact-dup classes makes the plain bucket self-join expand each
    class's quadratic pair set inside single tasks AND pay one Arrow
    cosine per member pair. The collapsed path searches over DISTINCT
    vectors only (canonical rep = min id per identical-vector class):
    cross-class pairs verify ONE cosine per rep pair and re-expand
    through two member equi-joins (distributing by rep key,
    least/greatest orientation); within-class pairs need no verification
    beyond one self-cosine per class (identical vectors — also covers
    the zero-vector NaN case exactly as the pairwise form does) and
    expand through a ``within_salt``-way salted self-join so a giant
    class spreads its output over many reducers. Measured: 7.8x -> 0.74x
    time at 4x replicated vectors, output row-identical (pinned by the
    forced-duplicate-classes unit test).

    ``collapse=None`` decides adaptively from one cheap map-side
    aggregate (exact count vs approx-distinct of the hashed vector —
    the estimate only steers the PLAN, both plans are row-identical):
    a near-duplicate-free corpus keeps the plain single-shuffle
    pairwise shape with zero overhead; >5% exact duplication switches
    to the collapsed shape. The same driver-side-stats-pick-the-plan
    move AQE makes for join strategies. NOTE — with ``collapse=None``
    construction is EAGER (that probe job runs at call time); pass
    ``collapse`` explicitly for plan-only/lazy contexts. All persist()
    handles are appended to ``cache_registry`` when given so scoped
    callers can free them.
    """
    from pyspark.sql import Window

    if within_salt < 1:
        raise ValueError(f"within_salt must be >= 1, got {within_salt}")
    planes = [_pseudo_random_plane(p, dim) for p in range(num_planes)]
    if collapse is None:
        # NOTE: the adaptive probe makes construction EAGER — one
        # map-side aggregate job runs here, before any plan exists.
        # Pass collapse explicitly for plan-only contexts.
        stats = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(F.xxhash64(F.col(vec_col))).alias("d"),
        ).head()
        collapse = stats["n"] * 100 > stats["d"] * 105

    if not collapse:
        b = fan_out_cpu_dense(
            df.select(
                F.col(id_col).alias("__vid__"),
                F.col(vec_col).alias("__vec__"),
                norm(F.col(vec_col)).alias("__vnorm__"),
                lsh_bucket_expr(F.col(vec_col), planes).alias("__bucket__"),
            ),
            "__vid__",
        ).persist()
        if cache_registry is not None:
            cache_registry.append(b)
        return _block_pairs(
            b, "__bucket__", ("a_id", "b_id"),
            F.col("__vid__") < F.col("__vid2__"), threshold=threshold,
        ).select("a_id", "b_id", "cosine_sim")
    # one shuffle assigns every instance its class rep (min id over the
    # identical-vector class) — a groupBy + join-back would shuffle the
    # vectors twice for the same information
    w = Window.partitionBy("__mvec__")
    mem_full = (
        df.select(
            F.col(id_col).alias("__mid__"), F.col(vec_col).alias("__mvec__")
        )
        .withColumn("__rid__", F.min("__mid__").over(w))
        .withColumn("__csz__", F.count(F.lit(1)).over(w))
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(mem_full)
    mem = mem_full.select("__rid__", "__mid__", "__csz__")
    reps = (
        mem_full.filter(F.col("__mid__") == F.col("__rid__"))
        .select(
            F.col("__rid__").alias("__vid__"),
            F.col("__mvec__").alias("__vec__"),
            norm(F.col("__mvec__")).alias("__vnorm__"),
            lsh_bucket_expr(F.col("__mvec__"), planes).alias("__bucket__"),
        )
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(reps)
    rep_pairs = _block_pairs(
        reps, "__bucket__", ("__ra__", "__rb__"),
        F.col("__vid__") < F.col("__vid2__"), threshold=threshold,
    )
    ma = mem.select(F.col("__rid__").alias("__ra__"), F.col("__mid__").alias("__ida__"))
    mb = mem.select(F.col("__rid__").alias("__rb__"), F.col("__mid__").alias("__idb__"))
    cross = (
        rep_pairs.join(ma, "__ra__")
        .join(mb, "__rb__")
        .select(
            F.least("__ida__", "__idb__").alias("a_id"),
            F.greatest("__ida__", "__idb__").alias("b_id"),
            "cosine_sim",
        )
    )
    self_cos = (
        reps.select(
            F.col("__vid__").alias("__rid__"),
            F.round(
                _arrow_pair_cosine()(
                    F.col("__vec__"),
                    F.col("__vec__"),
                    F.col("__vnorm__"),
                    F.col("__vnorm__"),
                ),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
    # only members of real duplicate classes (>= 2) enter the salted
    # expansion — singleton classes (the vast majority of a mostly-unique
    # corpus) can never emit a pair, so exploding them within_salt-ways
    # would inflate the shuffle by that factor for nothing
    dup_mem = mem.filter(F.col("__csz__") >= 2)
    left = dup_mem.select(
        "__rid__",
        F.col("__mid__").alias("a_id"),
        F.explode(F.sequence(F.lit(0), F.lit(within_salt - 1))).alias(
            "__salt__"
        ),
    )
    right = dup_mem.select(
        F.col("__rid__").alias("__rid2__"),
        F.col("__mid__").alias("b_id"),
        F.pmod(F.xxhash64("__mid__"), F.lit(within_salt)).alias("__salt2__"),
    )
    within = left.join(
        right,
        (F.col("__rid__") == F.col("__rid2__"))
        & (F.col("__salt__") == F.col("__salt2__"))
        & (F.col("a_id") < F.col("b_id")),
    ).join(self_cos, "__rid__").select("a_id", "b_id", "cosine_sim")
    return cross.unionAll(within)


def knn_join_brute(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """All-pairs k-NN join (broadcast the smaller probe side, per-probe
    top-k via window). Exact; quadratic — the LSH variant is the scale path."""
    from pyspark.sql import Window

    l = left.select(F.col(left_id).alias("qid"), F.col(vec_col).alias("qv"))
    r = right.select(F.col(right_id).alias("cid"), F.col(vec_col).alias("cv"))
    pairs = F.broadcast(l).crossJoin(r).filter(F.col("qid") != F.col("cid"))
    scored = pairs.select(
        "qid",
        "cid",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine_sim").desc(), F.col("cid").asc()
    )
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the storage/serving
    compression every embedding index applies before ANN: per vector,
    ``scale = 127 / max|x|``, each component becomes
    ``clamp(round(x * scale), -127, 127)``.

    Output is EXPLODED to (id, i, q, scale) rows — one per component,
    1-based index — because the harness (like the driver) cannot hash
    array cells; the flat form also lets the oracle recompute every
    component value-level instead of rows-only.

    Cross-engine exactness: scale and the pre-round product are computed
    with an identical expression tree over the same float32 inputs
    (float→double cast, one divide, one multiply), and both engines round
    half-away-from-zero, so q and scale hash-match to the bit. Zero
    vectors get scale=1.0 (guarded CASE on both sides) instead of an
    inf/NaN cascade.

    Scale shape: map-only — a projection plus posexplode, no exchange
    anywhere; at 100 TB this runs at scan speed and the output feeds the
    (id, i)-keyed index writer directly. The un-exploded production
    variant returns ``array<tinyint>`` + scale in one row; the flat form
    here exists for the value-level gate.
    """
    m = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    scale = F.when(
        m.cast("double") > 0.0, F.lit(127.0) / m.cast("double")
    ).otherwise(F.lit(1.0))
    ex = df.select(
        F.col(id_col),
        scale.alias("scale"),
        F.posexplode(F.col(vec_col)).alias("i", "x"),
    )
    q = F.round(F.col("x").cast("double") * F.col("scale")).cast("long")
    return ex.select(
        id_col,
        (F.col("i") + 1).cast("long").alias("i"),
        F.greatest(F.lit(-127), F.least(F.lit(127), q)).alias("q"),
        "scale",
    )
