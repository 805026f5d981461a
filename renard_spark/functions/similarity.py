"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k neighbors — the baseline.
  Dot products via zip_with/aggregate (JVM higher-order functions, no
  UDF); k-selection via window row_number.
- ``srp_lsh_topk``: the scale path — signed-random-projection LSH.
  Each vector gets an n_bits bucket key (sign of ⟨v, s_j⟩ with
  deterministic ±1 planes derived from md5(j:d)); candidates join
  within buckets only; exact cosine re-ranks candidates. Recall trades
  with n_bits/n_tables; planes are md5-derived so the DuckDB oracle
  reproduces buckets exactly.

At 10^12 scale the brute-force path is for per-bucket re-rank only;
the LSH bucketing (or an IVF coarse quantizer trained offline) bounds
the join fanout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from renard_spark.operators.utils import local_table, map_batches


def _norm(col):
    # element-order fold in double precision: bit-reproducible and
    # replicable by the DuckDB oracle (no shuffle-order float sums)
    return F.sqrt(
        F.aggregate(
            col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return emb.withColumn("_norm", _norm(F.col(vec_col)))


def cosine_topk(
    emb: DataFrame, k: int = 5, vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per vector:
    (vec_id, neighbor_id, cosine, rank)."""
    a = with_norm(emb, vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("va"),
        F.col("_norm").alias("na"),
    )
    b = with_norm(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vb"),
        F.col("_norm").alias("nb"),
    )
    pairs = a.join(b, F.col("vec_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "vec_id",
        "neighbor_id",
        (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_topk_blocked(
    emb: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_rows: int = 4096,
    cushion: int = 4,
) -> DataFrame:
    """Exact top-k cosine via BLOCK-MATRIX GEMM — same results as
    ``cosine_topk`` (pytest-pinned frame equality), built for the
    scale shape: instead of materializing n² scored pair ROWS through
    a join, vectors are grouped into ⌈n/block_rows⌉ blocks (one
    groupBy), every block PAIR flows through one Arrow batch where
    BLAS computes the m×m cosine tile, and only each row's local
    top-(k+cushion) survives — n·n_blocks·(k+cushion) candidate rows
    into the global top-k window instead of n².

    Bit-compatibility with the sequential-fold oracle: the GEMM only
    SELECTS candidates; the emitted cosines are recomputed with a
    64-step element-order double fold (vectorized across pairs), so
    values, ties, and ranks match ``cosine_topk``/DuckDB exactly
    unless GEMM-vs-sequential rounding (~1 ulp) crosses the local
    selection boundary — that is what ``cushion`` absorbs.

    Like ``cosine_topk`` this is the per-bucket re-rank primitive at
    corpus scale (see module docstring); the block-pair cross join is
    n_blocks² rows of block structs, never row-level. Driver-side
    scalar: one count (n)."""
    import math

    import numpy as np

    n = emb.count()
    n_blocks = max(1, math.ceil(n / block_rows))
    v = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.crc32(F.col(id_col).cast("string")), F.lit(n_blocks)).alias(
            "_bid"
        ),
    )
    # one row per block; feeds BOTH sides of the pair join
    blocks = (
        v.groupBy("_bid")
        .agg(F.collect_list("vid").alias("ids"), F.collect_list("vec").alias("vecs"))
        .localCheckpoint(eager=True)
    )
    pairs = blocks.select(
        F.col("ids").alias("a_ids"), F.col("vecs").alias("a_vecs")
    ).crossJoin(
        F.broadcast(
            blocks.select(F.col("ids").alias("b_ids"), F.col("vecs").alias("b_vecs"))
        )
    )

    def _seq_dot(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
        # element-order sequential fold in doubles, vectorized across
        # PAIRS: bit-identical to the zip_with/aggregate fold and the
        # DuckDB list fold (row count varies, order of += does not)
        acc = np.zeros(A.shape[0], dtype=np.float64)
        for j in range(A.shape[1]):
            acc = acc + A[:, j] * B[:, j]
        return acc

    def step(batches):
        take = k + cushion
        for batch in batches:
            for a_ids, b_ids, a_vecs, b_vecs in zip(
                batch["a_ids"], batch["b_ids"], batch["a_vecs"],
                batch["b_vecs"],
            ):
                a_ids = np.asarray(a_ids, dtype=np.int64)
                b_ids = np.asarray(b_ids, dtype=np.int64)
                A = np.array(a_vecs, dtype=np.float64)
                B = np.array(b_vecs, dtype=np.float64)
                na = np.sqrt(_seq_dot(A, A))
                nb = np.sqrt(_seq_dot(B, B))
                G = (A @ B.T) / np.outer(na, nb)  # selection only
                G[a_ids[:, None] == b_ids[None, :]] = -np.inf  # self
                m = min(take, G.shape[1])
                top = np.argpartition(-G, m - 1, axis=1)[:, :m]
                ai = np.repeat(np.arange(G.shape[0]), m)
                bi = top.ravel()
                keep = G[ai, bi] > -np.inf
                ai, bi = ai[keep], bi[keep]
                # exact sequential recompute for the survivors
                cos = _seq_dot(A[ai], B[bi]) / (na[ai] * nb[bi])
                yield {"vec_id": a_ids[ai], "neighbor_id": b_ids[bi],
                       "cosine": cos}

    cand = map_batches(
        pairs, step, "vec_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ------------------------------------------------------------------ IVF
# Inverted-file ANN: a coarse quantizer partitions vectors into
# n_centroids cells; queries probe their nprobe nearest cells and
# re-rank exactly within them. Centroid selection is DETERMINISTIC —
# the vectors with the smallest md5(vec_id) — rather than k-means:
# reproducible across engines (the DuckDB oracle replicates the index
# bit-for-bit) and, like k-means, a data-sampled codebook. A trained
# k-means codebook can replace ivf_centroids behind the same schema.


def ivf_centroids(
    emb: DataFrame, n_centroids: int = 16,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """(centroid_id, cvec): the n_centroids vectors with the smallest
    md5(vec_id) (TakeOrdered — no full sort), ranked in that order."""
    cents = (
        emb.select(
            F.col(id_col).alias("_cid"),
            F.col(vec_col).alias("cvec"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h", "_cid")
        .limit(n_centroids)
        .collect()
    )
    # ids are assigned DRIVER-side: the codebook is ≤n_centroids rows
    # (bounded, not data-proportional — TakeOrdered already pulled it
    # to the driver) and is broadcast to every probe join downstream
    # anyway; a global-order window here would be the single-partition
    # anti-pattern for no benefit. Row order from orderBy+limit is the
    # (md5, id) rank, so enumerate() IS the rank.
    spark = emb.sparkSession
    vec_type = emb.schema[vec_col].dataType
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType([
        StructField("centroid_id", IntegerType(), False),
        StructField("cvec", vec_type, True),
    ])
    return local_table(
        spark, [(i, list(r["cvec"])) for i, r in enumerate(cents)], schema
    )


def ivf_kmeans_centroids(
    emb: DataFrame, n_centroids: int = 16, n_iter: int = 5,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """TRAINED codebook: seeded Lloyd's k-means behind the same
    (centroid_id, cvec) schema as ``ivf_centroids``.

    Init = the deterministic md5 sample (no RNG); each iteration is a
    broadcast nearest-centroid assignment (cosine argmax, the same
    metric the index probes with) + element-wise mean via
    posexplode/groupBy — all equi-joins and narrow aggregations, never
    a quadratic step. Cells that lose all members keep their previous
    centroid. Means are float sums over shuffle order, so the codebook
    is deterministic only to ~1e-15 — fine for an index, which is why
    the DuckDB-gated driver query stays on the bit-reproducible sampled
    codebook while this is the recall path (pytest vs brute force).
    """
    cents = ivf_centroids(emb, n_centroids, vec_col, id_col).select(
        "centroid_id",
        F.transform("cvec", lambda x: x.cast("double")).alias("cvec"),
    )
    e = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).localCheckpoint(eager=True)
    for _ in range(n_iter):
        assign = ivf_assignments(e, cents, nprobe=1).select(
            "vec_id", "centroid_id"
        )
        comp = (
            e.join(assign, "vec_id")
            .select("centroid_id", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
        )
        newc = (
            comp.groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_s"))
            .select("centroid_id", F.col("_s.m").alias("_new"))
        )
        cents = (
            cents.join(newc, "centroid_id", "left")
            .select(
                "centroid_id", F.coalesce("_new", "cvec").alias("cvec")
            )
            .localCheckpoint(eager=True)
        )
    return cents


def ivf_assignments(
    emb: DataFrame, centroids: DataFrame, nprobe: int = 1,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, centroid_id, probe_rank) — each vector's ``nprobe``
    nearest centroids by cosine (probe_rank 1 = assignment cell).
    Broadcast cross join against the tiny codebook, then a window
    argmin — one narrow pass over the vectors."""
    c = centroids.withColumn("_cn", _norm(F.col("cvec")))
    e = with_norm(emb, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
        F.col("_norm").alias("n"),
    )
    scored = e.crossJoin(F.broadcast(c)).select(
        "vec_id", "centroid_id",
        (_dot(F.col("v"), F.col("cvec")) / (F.col("n") * F.col("_cn"))).alias(
            "_cos"
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("_cos").desc(), F.col("centroid_id").asc()
    )
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= nprobe)
        .select("vec_id", "centroid_id", "probe_rank")
    )


def ivf_topk(
    emb: DataFrame, k: int = 5, n_centroids: int = 16, nprobe: int = 2,
    vec_col: str = "embedding", id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: queries probe their ``nprobe`` nearest
    cells, candidates are the vectors ASSIGNED (probe_rank 1) to those
    cells, exact cosine re-ranks. All joins are equi on centroid_id —
    per-query candidate count ≈ nprobe·N/n_centroids, never the
    quadratic brute-force pass. → (vec_id, neighbor_id, cosine, rank).
    ``centroids`` injects a codebook (e.g. ``ivf_kmeans_centroids`` or
    an offline-trained one); default is the md5-sampled quantizer.
    """
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(emb, n_centroids, vec_col, id_col)
    )
    # checkpoint: probes feeds TWO consumers (the rank-1 assignment
    # side and the probe side of the candidate join) — without it the
    # vector×codebook scoring pass executes twice
    probes = ivf_assignments(
        emb, cents, nprobe, vec_col, id_col
    ).localCheckpoint(eager=False)
    assign = probes.filter(F.col("probe_rank") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("centroid_id").alias("_ac"),
    )
    cand = (
        probes.select("vec_id", "centroid_id")
        .join(assign, F.col("centroid_id") == F.col("_ac"))
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
        .distinct()
    )
    e = with_norm(emb, vec_col)
    ea = e.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("va"),
        F.col("_norm").alias("na"),
    )
    eb = e.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vb"),
        F.col("_norm").alias("nb"),
    )
    scored = cand.join(ea, "vec_id").join(eb, "neighbor_id").select(
        "vec_id", "neighbor_id",
        (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def srp_plane_sign(j, d):
    """Deterministic ±1 plane entry: low bit of md5('{j}:{d}')."""
    digit = F.conv(
        F.substring(F.md5(F.concat_ws(":", j.cast("string"), d.cast("string"))), 1, 1),
        16, 10,
    ).cast("int")
    return (digit % 2) * 2 - 1


def srp_bucket_keys(
    emb: DataFrame, n_bits: int = 8, vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, bucket): signed-random-projection bucket string of
    n_bits sign bits.

    The projection folds over the array *in element order*
    (transform-with-index + aggregate), never through a shuffle-order
    groupBy sum — bit signs are bit-reproducible across engines/runs.
    """
    def bit(j: int):
        prod = F.transform(
            vec_col,
            lambda x, d: x.cast("double") * srp_plane_sign(F.lit(j), d),
        )
        p = F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)
        return F.when(p > 0, F.lit("1")).otherwise(F.lit("0"))

    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.concat(*[bit(j) for j in range(n_bits)]).alias("bucket"),
    )


def srp_multi_bucket_keys(
    emb: DataFrame, n_bits: int = 8, n_tables: int = 4,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, table_id, bucket): ``n_tables`` independent SRP bucket
    keys per vector — OR-amplification for recall. Table t's planes are
    derived from md5('t:{t}:{j}:{d}') so every table is an independent
    projection and the DuckDB oracle reproduces all of them."""
    def bit(t: int, j: int):
        prod = F.transform(
            vec_col,
            lambda x, d: x.cast("double")
            * srp_plane_sign(F.concat_ws(":", F.lit("t"), F.lit(str(t)), F.lit(str(j))), d),
        )
        p = F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)
        return F.when(p > 0, F.lit("1")).otherwise(F.lit("0"))

    tables = [
        emb.select(
            F.col(id_col).alias("vec_id"),
            F.lit(t).alias("table_id"),
            F.concat(*[bit(t, j) for j in range(n_bits)]).alias("bucket"),
        )
        for t in range(n_tables)
    ]
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out


def srp_multi_topk(
    emb: DataFrame, k: int = 5, n_bits: int = 8, n_tables: int = 4,
    max_bucket: int | None = None,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k with multi-table SRP (OR across ``n_tables``
    independent bucket keys) and an optional hot-bucket cap.

    Recall: a pair colliding with prob p per table survives with
    1−(1−p)^T — at cosine 0.9 / 8 bits / 4 tables that is ~0.76 vs
    ~0.30 single-table (the ADVICE recall gap).

    ``max_bucket``: within each (table, bucket), only the first
    ``max_bucket`` vectors (by vec_id — deterministic, oracle-
    replicable) serve as candidate NEIGHBORS. Every vector still
    queries all its buckets, so per-vector candidate fanout is bounded
    by n_tables·max_bucket even when boilerplate-heavy corpora put
    millions of vectors in one bucket.
    """
    # checkpoint: buckets feeds both join sides (and the cap window) —
    # the per-bit md5 hyperplane signing would execute once per consumer
    buckets = srp_multi_bucket_keys(
        emb, n_bits, n_tables, vec_col, id_col
    ).localCheckpoint(eager=False)
    if max_bucket is not None:
        wb = Window.partitionBy("table_id", "bucket").orderBy("vec_id")
        capped = (
            buckets.withColumn("_br", F.row_number().over(wb))
            .filter(F.col("_br") <= max_bucket)
            .drop("_br")
        )
    else:
        capped = buckets
    e = with_norm(emb, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        F.col("_norm").alias("n"),
    )
    a = buckets.select(
        F.col("vec_id").alias("vec_id"), "table_id", "bucket"
    )
    b = capped.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("table_id").alias("_t2"), F.col("bucket").alias("_bk"),
    )
    cand = (
        a.join(
            b,
            (a["table_id"] == b["_t2"]) & (a["bucket"] == b["_bk"])
            & (a["vec_id"] != b["neighbor_id"]),
        )
        .select("vec_id", "neighbor_id")
        .distinct()
    )
    ea = e.select(
        F.col("id").alias("vec_id"), F.col("v").alias("va"),
        F.col("n").alias("na"),
    )
    eb = e.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    scored = cand.join(ea, "vec_id").join(eb, "neighbor_id").select(
        "vec_id", "neighbor_id",
        (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def srp_lsh_topk(
    emb: DataFrame, k: int = 5, n_bits: int = 8,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: exact cosine within SRP buckets only.
    (vec_id, neighbor_id, cosine, rank)."""
    buckets = srp_bucket_keys(emb, n_bits, vec_col, id_col).withColumnRenamed(
        "vec_id", "_bid"
    )
    # checkpoint: e feeds both join sides — norm + bucket signing
    # would execute once per consumer
    e = with_norm(emb, vec_col).join(
        buckets, F.col(id_col) == F.col("_bid")
    ).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        F.col("_norm").alias("n"), "bucket",
    ).localCheckpoint(eager=False)
    a = e.select(
        F.col("id").alias("vec_id"), F.col("v").alias("va"),
        F.col("n").alias("na"), "bucket",
    )
    b = e.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), F.col("bucket").alias("_bk"),
    )
    pairs = a.join(
        b, (a["bucket"] == b["_bk"]) & (F.col("vec_id") != F.col("neighbor_id"))
    )
    scored = pairs.select(
        "vec_id", "neighbor_id",
        (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def semantic_dedup(
    emb: DataFrame, threshold: float = 0.9, n_centroids: int = 16,
    max_cell: int | None = None,
    vec_col: str = "embedding", id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate removal by embedding — cluster with a coarse
    codebook, compare pairwise *within* each cell only, and keep one
    representative per near-duplicate relation.

    → (vec_id, keep int, canon): ``keep = 0`` iff the vector has a
    same-cell neighbor with cosine ≥ ``threshold`` and a smaller id;
    ``canon`` is the smallest such neighbor for dropped vectors and
    the vector itself for kept ones (following canon repeatedly
    reaches a kept vector, since the minimum-id member of any cell
    always keeps itself).

    Scale shape: assignment is the broadcast codebook argmax (one
    narrow pass); the pairwise step is an equi self-join on
    centroid_id with ``id_a > id_b``, so cost is Σ|cell|²/2 — the
    paper's regime, where n_centroids grows with the corpus to hold
    |cell| ≈ n/k bounded. For boilerplate-heavy corpora that flood a
    cell, ``max_cell`` additionally caps the NEIGHBOR side per cell to
    the ``max_cell`` smallest ids (deterministic, oracle-replicable):
    fanout is then ≤ |cell|·max_cell; small-id canonical survivors are
    exactly the vectors the cap retains, so precision is kept and only
    recall against >max_cell-ranked duplicates trades away.

    The default codebook is the md5-sampled ``ivf_centroids``
    (bit-reproducible → DuckDB-oracle-gated); inject
    ``ivf_kmeans_centroids`` or an offline-trained one via
    ``centroids`` for better cell balance.
    """
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(emb, n_centroids, vec_col, id_col)
    )
    assign = ivf_assignments(emb, cents, 1, vec_col, id_col).select(
        "vec_id", "centroid_id"
    )
    e = with_norm(emb, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
        F.col("_norm").alias("n"),
    )
    m = assign.join(e, "vec_id")
    a = m.select(
        F.col("vec_id").alias("id_a"), F.col("centroid_id").alias("_ca"),
        F.col("v").alias("va"), F.col("n").alias("na"),
    )
    b = m.select(
        F.col("vec_id").alias("id_b"), F.col("centroid_id").alias("_cb"),
        F.col("v").alias("vb"), F.col("n").alias("nb"),
    )
    if max_cell is not None:
        wc = Window.partitionBy("_cb").orderBy("id_b")
        b = (
            b.withColumn("_cr", F.row_number().over(wc))
            .filter(F.col("_cr") <= max_cell)
            .drop("_cr")
        )
    dup = (
        a.join(
            b,
            (a["_ca"] == b["_cb"]) & (a["id_a"] > b["id_b"]),
        )
        .filter(
            _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            >= threshold
        )
        .groupBy(F.col("id_a").alias("vec_id"))
        .agg(F.min("id_b").alias("dup_of"))
    )
    return (
        emb.select(F.col(id_col).alias("vec_id"))
        .join(dup, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("dup_of").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("keep"),
            F.coalesce("dup_of", "vec_id").alias("canon"),
        )
    )


# -- Product quantization (Jégou et al. TPAMI'11, public algorithm) ---
# The 100 TB ANN memory trick: each vector compresses to m small codes
# (one per subspace), and query-candidate distance is approximated by
# m lookups into a per-query table — candidates are never re-read as
# full vectors until the final re-rank. Composed with the IVF coarse
# quantizer below (IVFADC), this is the standard billion-vector index
# layout.


def pq_codebooks(
    emb: DataFrame, m: int = 8, ksub: int = 16,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """(sub_id, code, cvec): per-subspace codebooks. Codeword ``code``
    of subspace ``sub_id`` is that sub-slice of the ``code``-th
    md5-ranked training vector — the same deterministic, RNG-free
    seeding as ``ivf_centroids``, so the DuckDB oracle reproduces the
    codebook bit-for-bit. (A Lloyd-trained variant plugs in behind the
    same schema, exactly like ``ivf_kmeans_centroids``.) Codewords are
    DOUBLE so all distance math downstream is double-precision."""
    rows = (
        emb.select(
            F.col(id_col).alias("_cid"),
            F.col(vec_col).alias("v"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h", "_cid")
        .limit(ksub)
        .collect()
    )
    out = []
    for code, r in enumerate(rows):
        v = [float(x) for x in r["v"]]
        sd = len(v) // m
        for sub in range(m):
            out.append((sub, code, v[sub * sd : (sub + 1) * sd]))
    return local_table(
        emb.sparkSession, out, "sub_id int, code int, cvec array<double>"
    )


def _sub_vectors(
    emb: DataFrame, m: int, vec_col: str, id_col: str
) -> DataFrame:
    """(vec_id, sub_id, sv): each vector cut into m double sub-slices —
    one narrow explode, no shuffle."""
    sd = (F.size(vec_col) / m).cast("int")
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.transform(
                    F.slice(vec_col, s * sd + 1, sd),
                    lambda x: x.cast("double"),
                ),
            )
        ).alias("sub_id", "sv"),
    )


def _l2sq(a, b):
    """Ordered left-to-right fold of the squared L2 distance — the
    summation order is pinned so the DuckDB oracle is bit-identical."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def pq_lut(
    emb: DataFrame, codebooks: DataFrame, m: int = 8,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, sub_id, code, d2): every query's asymmetric-distance
    lookup table — squared L2 from its sub-vectors to every codeword.
    |Q|·m·ksub rows (128 per query at the defaults); the codebook is
    the broadcast side."""
    return _sub_vectors(emb, m, vec_col, id_col).join(
        F.broadcast(codebooks), "sub_id"
    ).select(
        "vec_id", "sub_id", "code",
        _l2sq(F.col("sv"), F.col("cvec")).alias("d2"),
    )


def pq_codes(
    emb: DataFrame, codebooks: DataFrame, m: int = 8,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, codes array<int>): PQ encoding — per subspace, the
    L2-nearest codeword (ties → smaller code). One broadcast join +
    one groupBy; the struct-min is the deterministic argmin."""
    lut = pq_lut(emb, codebooks, m, vec_col, id_col)
    best = lut.groupBy("vec_id", "sub_id").agg(
        F.min(F.struct("d2", "code")).getField("code").alias("code")
    )
    return best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_id", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )


def pq_adc_topk(
    emb: DataFrame, k: int = 5, m: int = 8, ksub: int = 16,
    n_centroids: int = 16, nprobe: int = 2,
    vec_col: str = "embedding", id_col: str = "vec_id",
    codebooks: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVFADC approximate top-k (IVF coarse cells + PQ asymmetric
    distance): queries probe their ``nprobe`` nearest coarse cells,
    candidates are the vectors ASSIGNED to those cells, and each
    candidate is scored by m LUT lookups on its codes — the full
    candidate vector is only touched for the exact-cosine re-rank
    column of the k survivors. Everything is an equi-join (cell ids,
    code ids); per-query ADC cost is m doubles per candidate, summed
    in pinned sub_id order (bit-identical cross-engine).

    → (vec_id, neighbor_id, adc_dist, cosine, rank): rank by ADC
    distance asc (ties → neighbor_id), cosine = exact re-rank score of
    the survivors."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(emb, n_centroids, vec_col, id_col)
    )
    books = (
        codebooks
        if codebooks is not None
        else pq_codebooks(emb, m, ksub, vec_col, id_col)
    )
    probes = ivf_assignments(emb, cents, nprobe, vec_col, id_col)
    assign = probes.filter(F.col("probe_rank") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("centroid_id").alias("_ac"),
    )
    cand = (
        probes.select("vec_id", "centroid_id")
        .join(assign, F.col("centroid_id") == F.col("_ac"))
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
        .distinct()
    )
    # ONE LUT pass feeds both consumers (code assignment + ADC
    # scoring) — without the checkpoint the sub-vector slicing and
    # ksub·m distance folds would execute twice per vector.
    lut = pq_lut(emb, books, m, vec_col, id_col).localCheckpoint(
        eager=False
    )
    best = lut.groupBy("vec_id", "sub_id").agg(
        F.min(F.struct("d2", "code")).getField("code").alias("code")
    )
    codes = best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_id", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    ).select(F.col("vec_id").alias("neighbor_id"), "codes")
    # per-QUERY flat LUT array indexed sub_id*ksub + code: ADC becomes
    # ONE narrow m-step fold per candidate row instead of an m×-row
    # explode joined back against the LUT table (the explode shape
    # shuffles m·|candidates| rows; this shape shuffles none — the two
    # equi-joins carry |candidates| rows total). Summation stays in
    # pinned sub_id order, so adc_dist is bit-identical to the
    # explode+sort+fold formulation and to the DuckDB oracle.
    lut_arr = lut.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_id", "code", "d2"))),
            lambda s: s["d2"],
        ).alias("_lut")
    )
    adc = (
        cand.join(codes, "neighbor_id")
        .join(lut_arr, "vec_id")
        .select(
            "vec_id", "neighbor_id",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(int(m) - 1)),
                F.lit(0.0).cast("double"),
                lambda acc, s: acc
                + F.element_at(
                    "_lut",
                    (
                        s * F.lit(int(ksub))
                        + F.element_at("codes", s + 1)
                        + 1
                    ).cast("int"),
                ),
            ).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    top = adc.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    e = with_norm(emb, vec_col)
    ea = e.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("va"),
        F.col("_norm").alias("na"),
    )
    eb = e.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vb"),
        F.col("_norm").alias("nb"),
    )
    return (
        top.join(ea, "vec_id")
        .join(eb, "neighbor_id")
        .select(
            "vec_id", "neighbor_id",
            F.round("adc_dist", 6).alias("adc_dist"),
            F.round(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                6,
            ).alias("cosine"),
            "rank",
        )
    )


def cluster_stats(
    emb: DataFrame, centroids: DataFrame | None = None,
    n_centroids: int = 16, vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-cell population statistics of the vector index →
    (centroid_id, n_vecs, min_cos, max_cos): how many vectors each
    codebook cell holds and the cosine range to its centroid — the
    index-health table behind IVF tuning (a hot cell is a skewed probe
    partition; a wide cosine range is a cell that needs splitting).

    Same narrow shape as ``ivf_assignments``: broadcast cross join
    against the ≤n_centroids codebook, window argmin per vector, then
    ONE map-side-combined aggregation per cell. min/max (not mean) are
    the reported spread stats deliberately: they are
    summation-order-independent, so the table is bit-reproducible
    across partition layouts and engines (a float mean is not).
    """
    if centroids is None:
        centroids = ivf_centroids(emb, n_centroids, vec_col, id_col)
    c = centroids.withColumn("_cn", _norm(F.col("cvec")))
    e = with_norm(emb, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
        F.col("_norm").alias("n"),
    )
    scored = e.crossJoin(F.broadcast(c)).select(
        "vec_id", "centroid_id",
        (_dot(F.col("v"), F.col("cvec")) / (F.col("n") * F.col("_cn"))).alias(
            "_cos"
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("_cos").desc(), F.col("centroid_id").asc()
    )
    assign = scored.withColumn(
        "_r", F.row_number().over(w)
    ).filter(F.col("_r") == 1)
    return assign.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.min("_cos").alias("min_cos"),
        F.max("_cos").alias("max_cos"),
    )


def topk_recall(exact_df: DataFrame, approx_df: DataFrame) -> DataFrame:
    """Per-query recall@k of an ANN result against the exact top-k —
    the evaluation harness that closes the loop on every approximate
    retriever in this module (SRP-LSH, IVF, PQ): recall =
    |approx ∩ exact| / |exact| per query vector.

    Both inputs are (vec_id, neighbor_id, ...) top-k tables. Returns
    (vec_id, n_true, n_hit, recall). Distributed shape: one equi-join
    on (vec_id, neighbor_id) + one map-side-combined groupBy — both
    sides are k-row-per-query tables (corpus × k, never corpus²), so
    the join key is the natural partitioner and nothing funnels
    through one partition."""
    e = exact_df.select("vec_id", "neighbor_id")
    a = approx_df.select("vec_id", "neighbor_id").withColumn(
        "_hit", F.lit(1)
    )
    j = e.join(a, ["vec_id", "neighbor_id"], "left")
    return j.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias(
            "n_hit"
        ),
        F.round(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            / F.count(F.lit(1)),
            6,
        ).alias("recall"),
    )
