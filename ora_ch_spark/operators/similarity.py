"""Similarity search over embedding columns (``array<float>``).

Determinism contract: embeddings are quantized to integers
(``floor(x * 10000)``) so dot products and norms are **exact integer
sums** — order-independent, identical on every engine — and the final
cosine is a single double division. This makes ANN results
bit-reproducible across Spark and the DuckDB oracle, which float
accumulation order would not be.

Scale design:
- ``cosine_topk_bruteforce`` is the exact baseline: a broadcast join
  of the (small) query set against the corpus — one pass, no N²
  among corpus vectors, no shuffle beyond the top-k window.
- ``lsh_bucket_assign`` + ``cosine_topk_lsh_multiprobe`` is the scale path:
  sign-random-projection buckets (hyperplane signs derived from md5 —
  seed-free deterministic) prune candidates to same-bucket vectors;
  bucket assignment is embarrassingly parallel and the join key is
  the bucket id. On 100 TB you'd additionally store bucket as a
  partition column. The dot products run JVM-side via higher-order
  array functions (zip_with/aggregate) — no Python in the loop.
- ``embedding_near_dup_pairs``: all-pairs near-dup gated by LSH
  bucket equality (never a full cross join at scale).

Recall ladder (r12/r13): candidates from sign-LSH are scored EXACTLY,
so an exact re-rank cannot help them — their recall knob is CANDIDATE
generation, carried by ONE entry point:
``cosine_topk_lsh_multiprobe`` with its explicit ``n_probes`` knob
(``n_probes=1`` = the old single-bucket probe, recall@5 ~0.08 at 4
planes on the gate corpus; the default ``LSH_DEFAULT_PROBES`` sits at
the measured recall-ladder elbow, ~0.86 recall@5) →
``banded_lsh_buckets`` (OR of tables). The
COMPRESSED paths (PQ/ADC distances) lose recall in SCORING instead —
their knob is :func:`rerank_exact` (``rerank=R`` on ``pq_topk`` /
``ivfadc_topk``): shortlist by the compressed metric, exact-refine
only those R rows. ``ivf_sq8_topk`` needs neither — per-dimension
decode is near-exact, so routing is its only loss. The
``sim_recall_rerank`` catalog entry gates all of this as data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ora_ch_spark.functions.hashes import lsh_plane_signs
from ora_ch_spark.session import overlap

# hard cap on driver-collected coarse quantizers (64k centroid rows ≈
# a few MB at typical dims — far above any sane n_lists, far below
# driver-OOM territory)
_SEEDS_COLLECT_MAX = 65_536

QUANT = 10000

# default probe count for the LSH top-k entry point: the measured
# recall-ladder elbow (recall@5 0.24 @ 2 probes → 0.86 @ 11 on the
# gate corpus, r12) — a caller who doesn't think about probes gets
# useful neighbors, not the 0.08-recall single bucket
LSH_DEFAULT_PROBES = 11


def quantize(df: DataFrame, emb_col: str = "embedding", out_col: str = "qe") -> DataFrame:
    """floor(x·10⁴) per dimension → array<bigint> (exact arithmetic)."""
    return df.withColumn(
        out_col,
        F.expr(f"transform({emb_col}, x -> cast(floor(cast(x as double) * {QUANT}) as bigint))"),
    )


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )


def _norm2(a: str):
    return F.expr(f"aggregate(transform({a}, x -> x * x), 0L, (acc, v) -> acc + v)")


def with_cosine(joined: DataFrame, qa: str = "qa", qb: str = "qb") -> DataFrame:
    """cosine = dot/(√na·√nb) — all inputs exact ints ≤ 2⁵³, so the
    doubles (and their product/quotient) are engine-identical."""
    return (
        joined.withColumn("__dot", _dot(qa, qb))
        .withColumn("__na", _norm2(qa))
        .withColumn("__nb", _norm2(qb))
        .withColumn(
            "cosine",
            F.col("__dot").cast("double")
            / (F.sqrt(F.col("__na").cast("double")) * F.sqrt(F.col("__nb").cast("double"))),
        )
        .drop("__dot", "__na", "__nb")
    )


def cosine_topk_bruteforce(
    emb: DataFrame,
    query_ids: DataFrame | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors for each query vector (brute force over
    the corpus; the query side is broadcast). Rank ties break on
    neighbor id for determinism."""
    q = quantize(emb, emb_col, "qe")
    corpus = q.select(F.col(id_col).alias("n_id"), F.col("qe").alias("qb"))
    queries = q.select(F.col(id_col).alias("q_id"), F.col("qe").alias("qa"))
    if query_ids is not None:
        queries = queries.join(
            F.broadcast(query_ids.select(F.col(id_col).alias("q_id"))), "q_id"
        )
    pairs = F.broadcast(queries).crossJoin(corpus).filter(F.col("q_id") != F.col("n_id"))
    # narrow projection before the rank window — don't shuffle arrays
    scored = with_cosine(pairs).select("q_id", "n_id", "cosine")
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cosine")
    )


def lsh_bucket_assign(
    emb: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_planes: int = 8,
    dims: int = 64,
) -> DataFrame:
    """Sign-random-projection bucket id per vector: bit p = sign of
    ⟨w_p, qe⟩ with w_p ∈ {±1}^dims derived from md5 (seed-free).
    Integer dot → exact; bucket ∈ [0, 2^n_planes)."""
    signs = lsh_plane_signs(n_planes, dims)
    q = quantize(emb, emb_col, "qe")
    bucket = None
    for p in range(n_planes):
        warr = "array(" + ",".join(str(s) for s in signs[p]) + ")"
        dot_p = F.expr(
            f"aggregate(zip_with({warr}, qe, (w, x) -> w * x), 0L, (acc, v) -> acc + v)"
        )
        bit = F.when(dot_p > 0, F.lit(1 << p).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        bucket = bit if bucket is None else bucket + bit
    return q.withColumn("bucket", bucket)


def _probe_masks(n_planes: int) -> list[int]:
    """Perturbation masks the multi-probe ranking considers: all
    2^P for small P; for wide hashes (P > 6, where 2^P explodes)
    only masks flipping ≤ 3 planes — the low-cost region every
    useful probe sequence lives in (Lv et al. §4.1 shows probe
    quality decays with perturbation size)."""
    if n_planes <= 6:
        return list(range(1 << n_planes))
    return [m for m in range(1 << n_planes) if bin(m).count("1") <= 3]


def cosine_topk_lsh_multiprobe(
    emb: DataFrame,
    query_ids: DataFrame | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    dims: int = 64,
    n_probes: int = LSH_DEFAULT_PROBES,
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., "Multi-Probe LSH"): each
    query probes the ``n_probes`` buckets with the lowest
    *perturbation cost* — for a flip mask ``m``, the sum of
    |⟨w_p, qe⟩| over its flipped planes ``p`` (the distance the
    vector sits from each flipped hyperplane, hence how unlikely
    that flip is to cross a true boundary). Mask 0 costs 0, so the
    query's own bucket is always probe #1; ``n_probes=2`` adds
    exactly the single least-confident bit flip (any multi-bit mask
    costs at least its cheapest member plus more), and the default
    ``LSH_DEFAULT_PROBES`` sits at the measured recall-ladder elbow.
    Buys back the recall extra hash tables would, at zero
    extra index cost: the corpus is still hashed ONCE into one
    bucket; only the (tiny, broadcast) query side fans out
    ``n_probes``×. Ties rank by lowest mask — deterministic,
    replayed bit-for-bit by the oracle's mask-enumeration replay.

    Raising ``n_probes`` is the recall knob: probe count is
    independent of corpus size, so at scale (more planes → smaller
    buckets) the candidate set stays ~``n_probes``·N/2^P rows."""
    if n_probes <= 1:
        # single probe degenerates to the query's own bucket: mask 0
        # costs 0 and ties rank by lowest mask, so it always wins —
        # skip the per-plane dot columns, mask enumeration and probe
        # rank entirely (bit-equal output; the shape of the pre-r13
        # single-bucket entry point, now a fast path of the one API)
        b = lsh_bucket_assign(emb, id_col, emb_col, n_planes, dims).persist()
        corpus1 = b.select(
            F.col(id_col).alias("n_id"), F.col("qe").alias("qb"), "bucket"
        )
        probe = b.select(
            F.col(id_col).alias("q_id"), F.col("qe").alias("qa"), "bucket"
        )
        if query_ids is not None:
            probe = probe.join(
                F.broadcast(query_ids.select(F.col(id_col).alias("q_id"))),
                "q_id",
            )
        pairs = F.broadcast(probe).join(corpus1, "bucket").filter(
            F.col("q_id") != F.col("n_id")
        )
        scored = with_cosine(pairs).select("q_id", "n_id", "cosine")
        w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "rank", "cosine")
        )
    signs = lsh_plane_signs(n_planes, dims)
    q = quantize(emb, emb_col, "qe")
    dot_cols = []
    for p in range(n_planes):
        warr = "array(" + ",".join(str(s) for s in signs[p]) + ")"
        dot_cols.append(
            F.expr(
                f"aggregate(zip_with({warr}, qe, (w, x) -> w * x), 0L, (acc, v) -> acc + v)"
            ).alias(f"__d{p}")
        )
    base = q.select(F.col(id_col), F.col("qe"), *dot_cols)
    bucket = None
    for p in range(n_planes):
        bit = F.when(F.col(f"__d{p}") > 0, F.lit(1 << p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        bucket = bit if bucket is None else bucket + bit
    base = base.withColumn("bucket", bucket).persist()
    corpus = base.select(
        F.col(id_col).alias("n_id"), F.col("qe").alias("qb"), "bucket"
    )
    queries = base
    if query_ids is not None:
        queries = queries.join(
            F.broadcast(
                query_ids.select(F.col(id_col).alias("__qid")).withColumnRenamed(
                    "__qid", id_col
                )
            ),
            id_col,
        )
    # (mask, cost) structs per query — exact integer costs, ranked
    # (cost asc, mask asc); explode is over the tiny query side only
    entries = []
    for m in _probe_masks(n_planes):
        cost = F.lit(0).cast("bigint")
        for p in range(n_planes):
            if m & (1 << p):
                cost = cost + F.abs(F.col(f"__d{p}"))
        entries.append(
            F.struct(cost.alias("cost"), F.lit(m).cast("bigint").alias("mask"))
        )
    probe_ranked = queries.select(
        F.col(id_col).alias("q_id"),
        F.col("qe").alias("qa"),
        F.col("bucket").alias("__b0"),
        F.explode(F.array(*entries)).alias("pm"),
    )
    wp = Window.partitionBy("q_id").orderBy(
        F.asc("pm.cost"), F.asc("pm.mask")
    )
    probe = (
        probe_ranked.withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= n_probes)
        .select(
            "q_id",
            "qa",
            F.expr("cast(__b0 as bigint) ^ pm.mask").alias("bucket"),
        )
    )
    pairs = F.broadcast(probe).join(corpus, "bucket").filter(F.col("q_id") != F.col("n_id"))
    scored = with_cosine(pairs).select("q_id", "n_id", "cosine")
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cosine")
    )


def rerank_exact(
    shortlist: DataFrame,
    emb: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact-cosine re-rank of an ANN shortlist — the standard
    recall-recovery stage for compressed indexes (FAISS's refine /
    ``IndexRefineFlat`` shape): the compressed metric (ADC, SQ8)
    proposes top-R candidates per query, and only those R rows are
    re-scored against the RAW vectors, so the quality of the final
    top-k is the exact metric's while the full-corpus scan stays on
    the compressed representation.

    ``shortlist`` is ``(q_id, n_id)`` (extra columns ignored),
    |Q|·R rows — tiny by construction. Both vector fetches broadcast
    the shortlist side onto the corpus scan (two broadcast hash
    joins, no shuffle of corpus rows, never a full-corpus rejoin);
    only the final per-query top-k window shuffles |Q|·R rows.
    Returns (q_id, n_id, rank, cosine), ties → lowest n_id."""
    q = quantize(emb, emb_col, "qe")
    sl = shortlist.select("q_id", "n_id")
    with_nb = F.broadcast(sl).join(
        q.select(F.col(id_col).alias("n_id"), F.col("qe").alias("qb")), "n_id"
    )
    pairs = F.broadcast(with_nb).join(
        q.select(F.col(id_col).alias("q_id"), F.col("qe").alias("qa")), "q_id"
    )
    scored = with_cosine(pairs).select("q_id", "n_id", "cosine")
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cosine")
    )


def banded_lsh_buckets(
    emb: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_tables: int = 4,
    planes_per_table: int = 8,
    dims: int = 64,
    q: DataFrame | None = None,
) -> DataFrame:
    """Banded multi-table sign-LSH (the OR-of-ANDs structure the
    MinHash path uses): table *t* buckets on ``planes_per_table``
    hyperplane sign bits (its own slice of the deterministic plane
    matrix). More planes per table → exponentially smaller buckets
    (pair space ~N²/2^r per table); OR over ``n_tables`` tables
    restores recall. Returns one row per (vector, table):
    ``(id, qe, tbl, bucket)``.

    ``q`` lets a caller pass an already-quantized (persisted,
    well-partitioned) frame so the corpus pass isn't recomputed."""
    signs = lsh_plane_signs(n_tables * planes_per_table, dims)
    if q is None:
        q = quantize(emb, emb_col, "qe")
    entries = []
    for t in range(n_tables):
        bucket = None
        for p in range(planes_per_table):
            row = signs[t * planes_per_table + p]
            warr = "array(" + ",".join(str(s) for s in row) + ")"
            dot_p = F.expr(
                f"aggregate(zip_with({warr}, qe, (w, x) -> w * x), 0L, (acc, v) -> acc + v)"
            )
            bit = F.when(dot_p > 0, F.lit(1 << p).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
            bucket = bit if bucket is None else bucket + bit
        entries.append(
            F.struct(F.lit(t).alias("tbl"), bucket.alias("bucket"))
        )
    return q.select(
        F.col(id_col), F.col("qe"), F.explode(F.array(*entries)).alias("e")
    ).select(id_col, "qe", "e.tbl", "e.bucket")


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.45,
    use_lsh_blocking: bool = False,
    n_planes: int = 4,
    dims: int = 64,
    n_tables: int = 1,
) -> DataFrame:
    """All-pairs near-duplicates by cosine ≥ threshold. With
    ``use_lsh_blocking`` the pair space is gated by banded LSH:
    candidates share a full ``n_planes``-bit bucket in ANY of
    ``n_tables`` tables, then exact (quantized-integer) cosine
    verifies candidates only. Per-table pair space ≈ N²/2^n_planes —
    raise ``n_planes`` to bound the blow-up and ``n_tables`` to buy
    recall back (1−(1−s^r)^b S-curve), never an unbounded
    within-bucket quadratic. Without blocking: an ordered cross join
    (exact; small corpora / verification only)."""
    if use_lsh_blocking:
        # one quantization pass, spread across the pool (a small corpus
        # arrives as one parquet split, which would serialize the plane
        # dot-products AND the candidate verify onto a single task),
        # persisted so it feeds bucket build + both verify sides.
        # Norms ride along per VECTOR (N values), so the pair-verify
        # computes only the dot per candidate — the two norm folds
        # would otherwise re-run per PAIR (~2^planes × more rows).
        par = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
        q = (
            quantize(emb.repartition(par), emb_col, "qe")
            .withColumn("__n2", _norm2("qe"))
            .persist()
        )
        bb = banded_lsh_buckets(
            emb, id_col, emb_col, n_tables, n_planes, dims, q=q
        ).persist()
        a = bb.select(F.col(id_col).alias("id_a"), "tbl", "bucket")
        c = bb.select(F.col(id_col).alias("id_b"), "tbl", "bucket")
        cand = (
            a.join(c, ["tbl", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        va = q.select(
            F.col(id_col).alias("id_a"),
            F.col("qe").alias("qa"),
            F.col("__n2").alias("__na"),
        )
        vb = q.select(
            F.col(id_col).alias("id_b"),
            F.col("qe").alias("qb"),
            F.col("__n2").alias("__nb"),
        )
        pairs = cand.join(va, "id_a").join(vb, "id_b")
        # same double ops in the same order as with_cosine — values
        # bit-identical, the norms are just computed once per vector
        cos = F.col("__dot").cast("double") / (
            F.sqrt(F.col("__na").cast("double"))
            * F.sqrt(F.col("__nb").cast("double"))
        )
        return (
            pairs.withColumn("__dot", _dot("qa", "qb"))
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )
    q = quantize(emb, emb_col, "qe")
    a = q.select(F.col(id_col).alias("id_a"), F.col("qe").alias("qa"))
    c = q.select(F.col(id_col).alias("id_b"), F.col("qe").alias("qb"))
    pairs = a.crossJoin(c).filter(F.col("id_a") < F.col("id_b"))
    return (
        with_cosine(pairs)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ivf_assign(
    emb: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_lists: int = 16,
    q: DataFrame | None = None,
    assign_impl: str = "pandas",
) -> DataFrame:
    """IVF (inverted-file) list assignment: each vector joins the
    list of its nearest centroid. Centroids here are the first
    ``n_lists`` vectors by id — a deterministic, engine-replayable
    seeding (production would plug in offline k-means centroids; the
    plan shape is identical: broadcast centroids, one narrow pass
    over the corpus, argmax cosine with id tie-break).

    ``q`` lets a caller pass an already-quantized (persisted) frame so
    the corpus-wide quantization isn't recomputed."""
    if q is None:
        q = quantize(emb, emb_col, "qe")
    seeds = F.broadcast(
        q.filter(F.col(id_col) < n_lists).select(
            F.col(id_col).alias("c_id"), F.col("qe").alias("qc")
        )
    )
    return _argmax_centroid(q, seeds, id_col, impl=assign_impl)


def _argmax_centroid(
    q: DataFrame,
    seeds,
    id_col: str,
    impl: str = "pandas",
    carry_cols: tuple[str, ...] = (),
    carry_cosine: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment (argmax cosine, tie → lowest
    c_id). Two value-identical implementations (asserted equal by
    tests/test_units.py):

    - ``pandas`` (default): Arrow-batched numpy — each batch is ONE
      int64 matmul (B×dims @ dims×L) against the driver-collected
      seed matrix (L×dims ints — tiny by contract), cosines as the
      same exact-int → IEEE-double formula the JVM path uses, argmax
      per row with first-max = lowest c_id. This is the legitimate
      vectorized-UDF case: the corpus×centroids product through
      Spark's interpreted higher-order functions measured 5 s+ for
      4.8M pairs at 60 k × 80 lists, where one BLAS matmul is
      milliseconds; no shuffle at all — the assignment is a narrow
      map.
    - ``jvm``: pure built-ins — the scored product (narrow
      projection, no arrays) partial-aggregates ``max(cosine)`` then
      resolves ties with ``min(c_id)`` at the max. (The earlier
      row_number-window form shuffled the full product WITH both
      embedding arrays — measured 84 s at the same scale; at 100 TB
      that is a multi-TB shuffle. Kept as the no-Python fallback.)
    """
    if impl == "pandas":
        import numpy as np
        import pandas as pdl

        srows = sorted(seeds.collect(), key=lambda r: r["c_id"])
        c_ids = np.array([r["c_id"] for r in srows], dtype=np.int64)
        S_arr = np.array([r["qc"] for r in srows], dtype=np.int64)
        s_norm = np.sqrt((S_arr * S_arr).sum(axis=1).astype(np.float64))

        def batches(it):
            for pdf in it:
                M = np.array(pdf["qe"].tolist(), dtype=np.int64)
                dots = (M @ S_arr.T).astype(np.float64)
                qn = np.sqrt((M * M).sum(axis=1).astype(np.float64))
                cos = dots / (qn[:, None] * s_norm[None, :])
                best = cos.argmax(axis=1)  # first max = lowest c_id
                out = {id_col: pdf[id_col], "centroid": c_ids[best]}
                for cc in carry_cols:
                    out[cc] = pdf[cc]
                out["qe"] = pdf["qe"]
                if carry_cosine:
                    # the winner's cosine IS the row's best cosine —
                    # same doubles the JVM with_cosine fold produces
                    # (bit-equality asserted by the dual-impl tests);
                    # carrying it out makes the build-time routing
                    # stat a plain aggregate instead of a
                    # centroids join (r15, guide §2.4)
                    out["cosine"] = cos[np.arange(len(best)), best]
                yield pdl.DataFrame(out)

        # id type taken from the frame (ids are not always bigint),
        # and qe + carry_cols ECHO through the batch — re-attaching
        # them with a corpus join would be exactly the array-carrying
        # shuffle this path exists to avoid
        dtypes = dict(q.dtypes)
        carry_schema = "".join(f", {cc} {dtypes[cc]}" for cc in carry_cols)
        cos_schema = ", cosine double" if carry_cosine else ""
        return q.select(id_col, *carry_cols, "qe").mapInPandas(
            batches,
            schema=f"{id_col} {dtypes[id_col]}, centroid bigint"
                   f"{carry_schema}, qe array<bigint>{cos_schema}",
        )
    scored = with_cosine(
        q.select(F.col(id_col), F.col("qe")).crossJoin(seeds), qa="qe", qb="qc"
    ).select(id_col, "c_id", "cosine").persist()
    best = scored.groupBy(id_col).agg(F.max("cosine").alias("cosine"))
    resolved = (
        scored.join(best, [id_col, "cosine"])
        .groupBy(id_col)
        .agg(
            F.min("c_id").alias("centroid"),
            # cosine is a join key here — constant within the group
            F.min("cosine").alias("cosine"),
        )
    )
    out_cols = [id_col, "centroid", *carry_cols, "qe"]
    if carry_cosine:
        out_cols.append("cosine")
    return resolved.join(q, id_col).select(*out_cols)


def ivf_topk(
    emb: DataFrame,
    query_ids: DataFrame | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 2,
    seeds: DataFrame | None = None,
    assign_impl: str = "pandas",
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` nearest inverted
    lists per query, rank candidates within them. At scale the
    corpus is stored partitioned by ``centroid`` so a probe reads
    only its lists (partition pruning); the candidate join shuffles
    on the small uniform centroid key.

    ``seeds`` plugs in an externally-trained coarse quantizer as
    (c_id int, qc array<bigint>) — e.g. ``cluster.kmeans_centroids``
    renamed — in place of the default first-``n_lists``-by-id pick;
    the index plan is identical, only the list geometry improves."""
    q = quantize(emb, emb_col, "qe").persist()  # feeds seeds, assign, queries
    if seeds is None:
        seeds = q.filter(F.col(id_col) < n_lists).select(
            F.col(id_col).alias("c_id"), F.col("qe").alias("qc")
        )
    seeds = F.broadcast(seeds)
    assign = _argmax_centroid(q, seeds, id_col, impl=assign_impl)
    queries = q.select(F.col(id_col).alias("q_id"), F.col("qe").alias("qa"))
    if query_ids is not None:
        queries = queries.join(
            F.broadcast(query_ids.select(F.col(id_col).alias("q_id"))), "q_id"
        )
    qprobe = with_cosine(queries.crossJoin(seeds), qa="qa", qb="qc")
    wq = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    probes = (
        qprobe.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= n_probe)
        .select("q_id", F.col("qa"), F.col("c_id").alias("centroid"))
    )
    corpus = assign.select(
        F.col(id_col).alias("n_id"), "centroid", F.col("qe").alias("qb")
    )
    cands = probes.join(corpus, "centroid").filter(F.col("q_id") != F.col("n_id"))
    # narrow projection BEFORE the rank window — candidate rows must
    # not drag both embedding arrays through the q_id shuffle
    scored = with_cosine(cands, qa="qa", qb="qb").select("q_id", "n_id", "cosine")
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cosine")
    )


def build_ivf_index(
    store,
    schema: str,
    emb: DataFrame,
    name: str = "ivf",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_lists: int = 16,
    seeds: DataFrame | None = None,
    assign_impl: str = "pandas",
    keep_cols: tuple[str, ...] = (),
    _prequantized: DataFrame | None = None,
) -> None:
    """Materialize an IVF index into store tables so recurring query
    batches never re-quantize or re-assign the corpus (same lifecycle
    as ``dedup.build_dedup_index``):

    - ``{name}_centroids``: (c_id, qc) — the coarse quantizer.
    - ``{name}_assign``: (id, centroid, qe), written hive-PARTITIONED
      BY centroid, so a probe of ``n_probe`` lists reads only those
      partition directories (Spark prunes them from the filter) — at
      100 TB a query touches n_probe/n_lists of the index bytes.

    ``seeds`` plugs in trained centroids (``cluster.kmeans_centroids``
    renamed to (c_id, qc)); default is the deterministic
    first-``n_lists``-by-id pick that :func:`ivf_topk` uses.

    ``keep_cols`` rides extra source columns into the assign table
    (e.g. the group/label column :func:`maxsim_topk_groups_ivf`
    ranks on) — carried through the assignment batch, never a
    corpus join-back.

    ``_prequantized`` (internal, r15 guide §1.2): a caller that has
    ALREADY quantized+persisted the corpus as (id_col, qe) — the
    drift guard's retrain, whose kmeans ``_fit`` holds exactly that
    frame — passes it here so the rebuild does not re-run the full
    corpus lineage through a second quantize pass. Only valid with
    empty ``keep_cols`` (the frame carries no extra columns); the
    caller owns its persist/unpersist."""
    owns_q = _prequantized is None
    if not owns_q and keep_cols:
        raise ValueError("_prequantized is (id, qe)-only — no keep_cols")
    q = quantize(emb, emb_col, "qe").persist() if owns_q else _prequantized
    if seeds is None:
        seeds = q.filter(F.col(id_col) < n_lists).select(
            F.col(id_col).alias("c_id"), F.col("qe").alias("qc")
        )
    # Collect the quantizer ONCE (k×dims ints — tiny by contract) and
    # re-expose it as a ONE-slice LOCAL relation: the assignment's
    # pandas path collects seeds anyway, and the centroids write +
    # routing-stat join would otherwise each re-run the full seeds
    # lineage (a trained-seed rebuild chains the whole Lloyd
    # trajectory) as their own Spark jobs. Same rows, same schema —
    # one lineage run instead of three (guide §1.2: remove work
    # before tuning it).
    from ora_ch_spark.io import local_df

    # bounded collect (r14 advice): the quantizer is k×dims by
    # contract, but ``seeds`` is caller-supplied — limit(cap+1)
    # detects an oversized seed frame WITHOUT materializing it on the
    # driver, failing loudly instead of risking a silent driver OOM
    seed_rows = seeds.limit(_SEEDS_COLLECT_MAX + 1).collect()
    if len(seed_rows) > _SEEDS_COLLECT_MAX:
        raise ValueError(
            f"build_ivf_index seeds exceed {_SEEDS_COLLECT_MAX} rows — "
            "a coarse quantizer this large should be a distributed "
            "table, not a driver-collected local relation"
        )
    seeds_local = local_df(q.sparkSession, seed_rows, seeds.schema)
    # persisted: the hive write AND the drift-baseline stat read this.
    # carry_cosine: the winner's cosine rides out of the assignment
    # batch, so the routing stat below is a plain aggregate — the
    # previous centroids join (broadcast build + join stage per
    # build) is gone (r15, guide §2.4); the write projects it off.
    assign = _argmax_centroid(
        q, F.broadcast(seeds_local), id_col, impl=assign_impl,
        carry_cols=keep_cols, carry_cosine=True,
    ).persist()
    # k rows — one file keeps every later read/collect a single task.
    # The write is a LOCAL relation (no corpus scan), independent of
    # the assignment chain → overlap it with the stat action (guide
    # §2.6; store data writes run outside the commit lock). The join
    # comes before the assign-table write, so the write order is kept:
    # centroids, then assignment. Each table commits on its own,
    # though: a failure after the centroids write leaves the new
    # centroids beside the old assignment until the next build
    # succeeds (there is no atomic multi-table publish).
    # The stat is the training-time routing quality, committed
    # atomically with the assign snapshot: baseline for
    # ivf_index_drift_report. The assigned centroid IS the
    # argmax-cosine winner, so the error comes from the carried
    # per-row cosine — no corpus x centroids pass at build time
    # (partial sums stay per-assign-partition in row order, exactly as
    # the broadcast-join form aggregated them)
    _, srow = overlap(
        q.sparkSession,
        lambda: store.write(schema, f"{name}_centroids", seeds_local),
        lambda: assign.agg(
            F.avg(F.lit(1.0) - F.col("cosine")).alias("err"),
            F.count(F.lit(1)).alias("n"),
        ).first(),
    )
    stat = (float(srow["err"]), int(srow["n"]))
    assign_out = assign.select(id_col, "centroid", *keep_cols, "qe")
    # cluster rows by list BEFORE the hive write: without this every
    # upstream partition writes a sliver into every centroid dir
    # (P×n_lists files — measured 512 files / 512-task probe scans at
    # 32×16); one shuffle on the list id gives ~one contiguous file
    # per list, which is the inverted-list layout the probe wants at
    # any scale (split further by maxRecordsPerFile when lists grow)
    store.write(
        schema,
        f"{name}_assign",
        assign_out.repartition(n_lists, "centroid"),
        partition_by=["centroid"],
        meta={"train_route_err": stat[0], "train_rows": stat[1]},
    )
    assign.unpersist()
    if owns_q:
        q.unpersist()


def _routing_error(
    q: DataFrame, cents: DataFrame, id_col: str, impl: str = "pandas"
) -> tuple:
    """Mean routing error (1 - best-centroid cosine) over ``q`` —
    the list-geometry quality number behind the IVF drift metric.

    ``pandas`` (default, r15): one Arrow-batched argmax pass — the
    winner's cosine is the best cosine, so the error is a plain
    aggregate over the batch output; no crossJoin, no broadcast, no
    per-id max exchange (the JVM form shuffled |batch| best-rows by
    id before the scalar agg). Per-value bit-equality of the two
    cosine paths is asserted by the dual-impl tests and the 1e-9
    full-vs-meta check in test_lines_search_cluster.

    ``jvm``: the original broadcast crossJoin + per-id max — the
    no-numpy fallback."""
    if impl == "pandas":
        assign = _argmax_centroid(
            q.select(id_col, "qe"), cents.select("c_id", "qc"), id_col,
            carry_cosine=True,
        )
        row = assign.agg(
            F.avg(F.lit(1.0) - F.col("cosine")).alias("err"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        return float(row["err"]), int(row["n"])
    scored = q.crossJoin(
        F.broadcast(cents.select("c_id", F.col("qc").alias("qb")))
    ).withColumn(
        "cosine",
        (_dot("qe", "qb").cast("double"))
        / (F.sqrt(_norm2("qe").cast("double")) * F.sqrt(_norm2("qb").cast("double"))),
    )
    row = (
        scored.groupBy(id_col)
        .agg(F.max("cosine").alias("best"))
        .agg(
            F.avg(F.lit(1.0) - F.col("best")).alias("err"),
            F.count(F.lit(1)).alias("n"),
        )
        .first()
    )
    return float(row["err"]), int(row["n"])


def _routing_error_from_assign(
    assign: DataFrame, cents: DataFrame, id_col: str
) -> tuple:
    """Same number as :func:`_routing_error` when ``assign`` is the
    argmax-cosine assignment of the corpus (the winner's cosine IS
    the best cosine) — one cosine per ROW instead of per
    row x centroid. Value-equality is pinned by the drift test."""
    scored = assign.join(
        F.broadcast(
            cents.select(F.col("c_id").alias("centroid"), F.col("qc").alias("qb"))
        ),
        "centroid",
    ).withColumn(
        "cosine",
        (_dot("qe", "qb").cast("double"))
        / (F.sqrt(_norm2("qe").cast("double")) * F.sqrt(_norm2("qb").cast("double"))),
    )
    row = scored.agg(
        F.avg(F.lit(1.0) - F.col("cosine")).alias("err"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return float(row["err"]), int(row["n"])


def ivf_index_append(
    store,
    schema: str,
    new_emb: DataFrame,
    name: str = "ivf",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    assign_impl: str = "pandas",
    keep_cols: tuple[str, ...] = (),
    _cents: DataFrame | None = None,
) -> None:
    """Incrementally add a batch to a persisted IVF index: the FROZEN
    coarse quantizer (``{name}_centroids``) assigns only the new
    vectors, and their rows append into the hive-partitioned assign
    table — O(batch), never a corpus re-assign. This is how a
    continuously-ingesting corpus keeps its ANN index current; with
    fixed centroids the result is IDENTICAL to rebuilding over the
    union (equivalence-tested), and list-geometry drift under heavy
    growth is the signal to re-train seeds and rebuild — measured by
    :func:`ivf_index_drift_report` (r13), not left to intuition.

    ``_cents`` (internal): the centroids table already loaded — the
    drift guard collects it ONCE as a local relation and shares it
    across its report + append/rebuild phases (r15, extending the
    r14 collected-quantizer pattern)."""
    cents = _cents if _cents is not None else store.read(
        schema, f"{name}_centroids"
    )
    q = quantize(new_emb, emb_col, "qe")
    assign = _argmax_centroid(
        q, F.broadcast(cents), id_col, impl=assign_impl, carry_cols=keep_cols
    )
    # manifest row count — zero Spark jobs (vs cents.count())
    n_lists = store.row_count(schema, f"{name}_centroids")
    store.append(
        schema,
        f"{name}_assign",
        assign.repartition(int(n_lists), "centroid"),
    )


# retrain threshold for ivf_index_drift_report — same rationale as
# pq.DRIFT_RETRAIN_RATIO: a batch whose mean routing error exceeds
# the training-time error by this factor lives in a region the frozen
# list geometry no longer covers well
IVF_DRIFT_RETRAIN_RATIO = 1.5


def ivf_index_drift_report(
    store,
    schema: str,
    batch_emb: DataFrame,
    name: str = "ivf",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    retrain_ratio: float = IVF_DRIFT_RETRAIN_RATIO,
    _cents: DataFrame | None = None,
) -> dict:
    """List-geometry drift metric for a persisted IVF index (the
    centroid twin of ``pq.index_drift_report``): route ``batch_emb``
    with the FROZEN centroids and compare its mean routing error
    (1 - best-centroid cosine) against the training-time error
    recorded in the assign-table snapshot meta at build. Cosine
    routing is scale-invariant, so the metric responds to
    DIRECTIONAL shift — exactly what invalidates inverted lists.
    O(batch): broadcast centroids x one pass over the new rows.
    ``_cents`` (internal): pre-loaded centroids — see
    :func:`ivf_index_append`."""
    meta = store.table_meta(schema, f"{name}_assign")
    train_err = meta.get("train_route_err")
    if train_err is None:
        raise ValueError(
            f"{schema}.{name}_assign carries no train_route_err meta — the "
            f"index predates the drift metric; rebuild with build_ivf_index"
        )
    cents = _cents if _cents is not None else store.read(
        schema, f"{name}_centroids"
    )
    q = quantize(batch_emb, emb_col, "qe").select(id_col, "qe")
    batch_err, n = _routing_error(q, cents, id_col)
    if n == 0:
        raise ValueError("empty drift batch")
    if train_err > 0:
        ratio = batch_err / train_err
    else:  # degenerate training set (every vector is a centroid)
        ratio = 1.0 if batch_err <= 0 else float("inf")
    return {
        "train_route_err": train_err,
        "batch_route_err": batch_err,
        "drift_ratio": ratio,
        "batch_rows": n,
        "retrain": ratio > retrain_ratio,
    }


def ivf_ingest_with_drift_guard(
    store,
    schema: str,
    corpus_emb: DataFrame,
    batch_emb: DataFrame,
    name: str = "ivf",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    retrain_ratio: float = IVF_DRIFT_RETRAIN_RATIO,
    **build_kwargs,
) -> dict:
    """IVF twin of ``pq.ivfadc_ingest_with_drift_guard``: route the
    incoming batch against the frozen centroids and either APPEND
    (in-distribution — O(batch)) or REBUILD over ``corpus_emb``
    (which must already include the batch rows). Same per-source
    batch caveat as the IVFADC guard: the ratio compares against the
    corpus-mean routing error. Returns the drift report plus
    ``{"action": "appended"|"rebuilt"}``."""
    # Collect the frozen quantizer ONCE as a local relation (r15,
    # extending the r14 build-time pattern): the report's routing
    # pass AND the append's pandas assignment both need the k×dims
    # centroid rows — loading them per phase re-ran the parquet read
    # (one broadcast/collect job each) per store round-trip.
    from ora_ch_spark.io import local_df

    cents_df = store.read(schema, f"{name}_centroids")
    cents = local_df(
        corpus_emb.sparkSession, cents_df.collect(), cents_df.schema
    )
    report = ivf_index_drift_report(
        store, schema, batch_emb, name, id_col, emb_col, retrain_ratio,
        _cents=cents,
    )
    if report["retrain"]:
        retrain_q = None
        if "seeds" not in build_kwargs:
            # The default first-n-by-id seed pick would reproduce the
            # STALE centroids bit-for-bit whenever the low-id rows
            # aren't the ones that drifted — a "rebuilt" action that
            # changes nothing is the worst lifecycle failure mode. A
            # drift-triggered rebuild therefore defaults to TRAINED
            # centroids over the full corpus (deterministic Lloyd,
            # same trajectory the sim_topk_ivf_kmeans gate replays)
            # so the retrain genuinely moves the list geometry.
            from ora_ch_spark.operators.cluster import _fit

            n_lists = build_kwargs.get("n_lists", 16)
            # scale-adaptive retrain width from MANIFEST row counts
            # (zero Spark jobs): corpus ≈ indexed rows + batch rows —
            # a few-hundred-row drill corpus retrains on a couple of
            # tasks instead of iters × conf-width near-empty Python
            # workers; a real corpus saturates the conf cap unchanged
            conf_par = int(
                corpus_emb.sparkSession.conf.get(
                    "spark.sql.shuffle.partitions", "32"
                )
            )
            approx_rows = (
                store.row_count(schema, f"{name}_assign")
                + report["batch_rows"]
            )
            par = max(1, min(conf_par, (approx_rows + 4095) // 4096))
            # _fit (not kmeans_centroids) so the quantized+persisted
            # corpus it builds is SHARED with the rebuild below —
            # build_ivf_index otherwise re-quantizes the same corpus
            # lineage a second time (r15, guide §1.2). Same
            # trajectory, same centroids.
            retrain_q, cents_trained = _fit(
                corpus_emb, n_lists, 3, id_col, emb_col, par=par
            )
            build_kwargs = dict(
                build_kwargs,
                seeds=cents_trained.select(
                    F.col("cluster").alias("c_id"), F.col("cq").alias("qc")
                ),
            )
            if not build_kwargs.get("keep_cols"):
                build_kwargs["_prequantized"] = retrain_q.select(
                    F.col(id_col), "qe"
                )
        build_ivf_index(
            store, schema, corpus_emb, name, id_col=id_col,
            emb_col=emb_col, **build_kwargs,
        )
        if retrain_q is not None:
            retrain_q.unpersist()
        report["action"] = "rebuilt"
    else:
        ivf_index_append(
            store, schema, batch_emb, name, id_col, emb_col, _cents=cents
        )
        report["action"] = "appended"
    return report


_FANOUT_MAX_BYTES = 512 << 20  # redistribute only sub-512 MiB slices


def _fan_out_probed(store, schema, name, corpus, probe_lists):
    """Right-size the parallelism of a partition-pruned list probe:
    a small probed slice arrives as ~one task per (single) list file,
    which serializes the candidate scoring onto 1-2 cores while the
    rest of the pool idles (measured 1.6× end-to-end on a 512k-row
    index, PLANS.md "MaxSim dispatch crossover"). When the manifest
    says the probed files number fewer than the shuffle width AND the
    slice is small (< 512 MiB — a cheap shuffle), redistribute before
    scoring. At 100 TB a probed list spans many files, the file count
    alone exceeds the pool, and this is a no-op — the gate reads only
    the manifest, zero Spark jobs."""
    par = int(
        corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    files, _rows, nbytes = store.partition_stats(
        schema, f"{name}_assign", "centroid", probe_lists
    )
    if 0 < files < par and nbytes < _FANOUT_MAX_BYTES:
        return corpus.repartition(par)
    return corpus


def ivf_topk_from_index(
    store,
    schema: str,
    queries_emb: DataFrame,
    name: str = "ivf",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Approximate top-k against a :func:`build_ivf_index` index —
    output contract identical to :func:`ivf_topk` with the same
    seeds (asserted by the equivalence test). Per query batch the
    corpus-side work is gone: centroids broadcast from the store,
    candidate lists load partition-pruned via the IN-filter on
    ``centroid``, and only the probed lists are scored."""
    cents = F.broadcast(
        store.read(schema, f"{name}_centroids").select("c_id", "qc")
    )
    queries = quantize(queries_emb, emb_col, "qe").select(
        F.col(id_col).alias("q_id"), F.col("qe").alias("qa")
    )
    qprobe = with_cosine(queries.crossJoin(cents), qa="qa", qb="qc")
    wq = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    # localCheckpoint (not persist): materialized once for the list
    # collect + the candidate join, and the blocks are reclaimed by
    # the ContextCleaner when the result's reference drops — a
    # recurring-query service doesn't accumulate pinned cache
    probes = (
        qprobe.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= n_probe)
        .select("q_id", "qa", F.col("c_id").alias("centroid"))
    ).localCheckpoint(eager=True)
    probe_lists = [r["centroid"] for r in probes.select("centroid").distinct().collect()]
    corpus = (
        store.read(schema, f"{name}_assign")
        # IN-filter over the hive partition column: Spark prunes the
        # unprobed list directories from the scan
        .filter(F.col("centroid").isin(probe_lists))
        .select(F.col(id_col).alias("n_id"), "centroid", F.col("qe").alias("qb"))
    )
    corpus = _fan_out_probed(store, schema, name, corpus, probe_lists)
    cands = probes.join(corpus, "centroid").filter(F.col("q_id") != F.col("n_id"))
    scored = with_cosine(cands, qa="qa", qb="qb").select("q_id", "n_id", "cosine")
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cosine")
    )


def maxsim_topk_groups(
    emb: DataFrame,
    query_ids: DataFrame | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    group_col: str = "label",
    k: int = 3,
) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) group retrieval: score
    a GROUP of vectors by the maximum cosine any of its members
    reaches against the query, and rank groups per query. This is the
    retrieval shape for multi-vector documents (chunk/token
    embeddings): a doc matches as well as its best-matching piece.

    Plan: broadcast query side, one scan of the corpus, and — the
    part that matters at scale — the per-group max is a
    PARTIAL-AGGREGABLE reduction, so the (q, group) frame that
    reaches the rank window holds one row per group, not per vector
    (a window straight over the scored pairs would shuffle the full
    query×vector product). Ties rank by group id."""
    q = quantize(emb, emb_col, "qe")  # keeps source columns incl. the group
    corpus = q.select(
        F.col(id_col).alias("n_id"), F.col(group_col).alias("grp"), F.col("qe").alias("qb")
    )
    queries = q.select(F.col(id_col).alias("q_id"), F.col("qe").alias("qa"))
    if query_ids is not None:
        queries = queries.join(
            F.broadcast(query_ids.select(F.col(id_col).alias("q_id"))), "q_id"
        )
    pairs = F.broadcast(queries).crossJoin(corpus).filter(F.col("q_id") != F.col("n_id"))
    scored = with_cosine(pairs).select("q_id", "grp", "cosine")
    g = scored.groupBy("q_id", "grp").agg(F.max("cosine").alias("maxsim"))
    w = Window.partitionBy("q_id").orderBy(F.desc("maxsim"), F.asc("grp"))
    return (
        g.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("grp").alias(group_col), "rank", "maxsim")
    )


def maxsim_topk_groups_ivf(
    store,
    schema: str,
    queries_emb: DataFrame,
    name: str = "ivf",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    group_col: str = "label",
    k: int = 3,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-routed MaxSim group retrieval — the index-accelerated
    counterpart of :func:`maxsim_topk_groups` (which scores the FULL
    corpus per query, exact but O(|Q|·N)). Routing reuses a
    :func:`build_ivf_index` index built with
    ``keep_cols=(group_col,)``: each query probes its ``n_probe``
    nearest inverted lists and only the vectors in those lists are
    scored, so a group's maxsim is the max over its members *within
    the probed lists* — the standard IVF recall trade (a group whose
    best member lives outside the probed lists ranks lower or drops;
    the recall floor is pinned by tests/test_lines_search_cluster.py).

    Scale shape: centroids broadcast; candidate lists load
    partition-pruned via the IN-filter on the hive ``centroid``
    column (n_probe/n_lists of the index bytes per batch); the
    per-(query, group) max is partial-aggregable BEFORE the rank
    window, so the window input is one row per group, not per
    vector."""
    cents = F.broadcast(
        store.read(schema, f"{name}_centroids").select("c_id", "qc")
    )
    queries = quantize(queries_emb, emb_col, "qe").select(
        F.col(id_col).alias("q_id"), F.col("qe").alias("qa")
    )
    qprobe = with_cosine(queries.crossJoin(cents), qa="qa", qb="qc")
    wq = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    probes = (
        qprobe.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= n_probe)
        .select("q_id", "qa", F.col("c_id").alias("centroid"))
    ).localCheckpoint(eager=True)
    probe_lists = [
        r["centroid"] for r in probes.select("centroid").distinct().collect()
    ]
    corpus = (
        store.read(schema, f"{name}_assign")
        .filter(F.col("centroid").isin(probe_lists))
        .select(
            F.col(id_col).alias("n_id"),
            "centroid",
            F.col(group_col).alias("grp"),
            F.col("qe").alias("qb"),
        )
    )
    corpus = _fan_out_probed(store, schema, name, corpus, probe_lists)
    cands = probes.join(corpus, "centroid").filter(F.col("q_id") != F.col("n_id"))
    scored = with_cosine(cands, qa="qa", qb="qb").select("q_id", "grp", "cosine")
    g = scored.groupBy("q_id", "grp").agg(F.max("cosine").alias("maxsim"))
    w = Window.partitionBy("q_id").orderBy(F.desc("maxsim"), F.asc("grp"))
    return (
        g.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("grp").alias(group_col), "rank", "maxsim")
    )


# Crossover for the MaxSim dispatcher, measured on local[32] at 64-dim
# quantized vectors (PLANS.md "MaxSim dispatch crossover"): below this
# the exact one-scan broadcast product beats the routed probe's extra
# fixed stages (probe window + checkpoint + pruned read); above it the
# probe's n_probe/n_lists scan fraction wins and keeps winning —
# the exact path's |Q|·N product grows linearly in N while the routed
# path scans only the probed lists. Byte bound guards the same
# decision against wide rows (many keep_cols) at a low row count.
MAXSIM_EXACT_MAX_ROWS = 16_000
MAXSIM_EXACT_MAX_BYTES = 64 << 20  # 64 MiB of index bytes


def maxsim_dispatch_choice(
    store,
    schema: str,
    name: str = "ivf",
    exact_max_rows: int = MAXSIM_EXACT_MAX_ROWS,
    exact_max_bytes: int = MAXSIM_EXACT_MAX_BYTES,
    n_queries: int | None = None,
    n_probe: int = 2,
) -> str:
    """The dispatch decision alone (r6 verdict item 6): 'exact' when
    the index manifest's row AND byte counts sit under the measured
    crossover, OR when the query batch's probes would cover the whole
    index anyway (``n_queries × n_probe ≥ n_lists`` — measured on a
    16-list index: 10 queries probed 14 distinct lists, the "pruned"
    read loaded 86% of the rows and routed lost to exact at EVERY
    size; PLANS.md "MaxSim dispatch crossover"). Else 'routed'. Pure
    manifest reads — zero Spark jobs, so a recurring-query service
    can decide per batch for free."""
    rows = store.row_count(schema, f"{name}_assign")
    nbytes = store.table_bytes(schema, f"{name}_assign")
    if rows <= exact_max_rows and nbytes <= exact_max_bytes:
        return "exact"
    if n_queries is not None:
        n_lists = store.row_count(schema, f"{name}_centroids")
        if n_queries * n_probe >= n_lists:
            # probes blanket the lists: routing scans ~everything and
            # still pays its fixed probe stages — exact wins
            return "exact"
    return "routed"


def maxsim_topk_groups_auto(
    store,
    schema: str,
    queries_emb: DataFrame,
    name: str = "ivf",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    group_col: str = "label",
    k: int = 3,
    n_probe: int = 2,
    exact_max_rows: int = MAXSIM_EXACT_MAX_ROWS,
    exact_max_bytes: int = MAXSIM_EXACT_MAX_BYTES,
    n_queries: int | None = None,
) -> DataFrame:
    """Size-adaptive MaxSim over a persisted IVF index (r6 verdict
    item 6): :func:`maxsim_dispatch_choice` reads the index
    manifest's row/byte counts and picks

    - **exact**: one full scan of the stored assign table against the
      broadcast queries — bit-identical to
      :func:`maxsim_topk_groups` on the source frame (the stored
      ``qe`` IS the quantization), zero recall loss; right below the
      crossover where the routed probe's fixed stages dominate.
    - **routed**: :func:`maxsim_topk_groups_ivf`'s partition-pruned
      n_probe-list probe — the only shape that holds at 100 TB, where
      a full scan per query batch is the bottleneck.

    Both paths read ONLY the index tables, so the dispatch never
    changes what data must exist — just how much of it is touched.
    ``n_queries`` feeds the probe-coverage rule; pass it when known
    (None skips that rule rather than paying a count job)."""
    if (
        maxsim_dispatch_choice(
            store, schema, name, exact_max_rows, exact_max_bytes,
            n_queries=n_queries, n_probe=n_probe,
        )
        == "routed"
    ):
        return maxsim_topk_groups_ivf(
            store, schema, queries_emb, name=name, id_col=id_col,
            emb_col=emb_col, group_col=group_col, k=k, n_probe=n_probe,
        )
    corpus = store.read(schema, f"{name}_assign").select(
        F.col(id_col).alias("n_id"),
        F.col(group_col).alias("grp"),
        F.col("qe").alias("qb"),
    )
    queries = quantize(queries_emb, emb_col, "qe").select(
        F.col(id_col).alias("q_id"), F.col("qe").alias("qa")
    )
    pairs = (
        F.broadcast(queries).crossJoin(corpus).filter(F.col("q_id") != F.col("n_id"))
    )
    scored = with_cosine(pairs).select("q_id", "grp", "cosine")
    g = scored.groupBy("q_id", "grp").agg(F.max("cosine").alias("maxsim"))
    w = Window.partitionBy("q_id").orderBy(F.desc("maxsim"), F.asc("grp"))
    return (
        g.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("grp").alias(group_col), "rank", "maxsim")
    )
