"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale shapes (the point of each):
- exact: one md5 + one groupBy — the cheap first pass.
- MinHash+LSH: per-doc signatures (map-side agg), band keys, and a
  self-join **on band buckets only** — candidate generation never goes
  quadratic; exact Jaccard verification only on candidates.
- SimHash: 64-bit sign fingerprint via bit-vote aggregation; near-dup =
  same fingerprint (or banded sub-keys for hamming<k).
- n-gram Jaccard: exact verification join over shingle sets.

Determinism & portability: every hash is md5 of a seeded string, so the
DuckDB oracle replicates results bit-for-bit (no JVM/Python hash
functions involved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from renard_spark.operators.tokenize import TOKEN_RE
from renard_spark.operators.utils import local_table

DEFAULT_NUM_HASHES = 8
DEFAULT_BANDS = 4  # rows per band = num_hashes / bands


def shingle_array_from_tokens(toks, w: int):
    """Column expr: the DISTINCT w-token shingles of one document as an
    array (whole-text fallback under w tokens), from a token-array
    column — fully narrow; callers that need per-doc counts take
    ``size()`` of this without any shuffle.

    ``toks`` should be a BOUND column (projected by name in a previous
    select), not the raw ``regexp_extract_all`` expression: the
    expression appears 4× here, and inlining a tokenizer regexp 4× per
    row is real CPU at corpus scale."""
    sh = F.when(
        F.size(toks) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - w + 1),
            lambda i: F.array_join(F.slice(toks, i, w), " "),
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))
    return F.array_distinct(sh)


def with_shingle_array(
    docs: DataFrame, w: int, text_col: str = "text", out_col: str = "_shs"
) -> DataFrame:
    """(doc_id, <out_col>: array of distinct w-token shingles): binds
    the token array in its own projection so the regexp is planned
    once, not 4× per row.

    Callers that EXPLODE ``out_col`` afterwards must either checkpoint
    this frame first or use :func:`shingles`: exploding a bound alias
    lets ``InferFiltersFromGenerate`` add a ``size(out_col) > 0``
    filter whose pushdown through the projections re-inlines the whole
    shingle expression BELOW any repartition — the heaviest map work of
    the dedup family then executes twice, once of those on the raw
    scan's (possibly single) input split. Measured 8× on sf0.1."""
    toked = docs.select(
        "doc_id",
        F.regexp_extract_all(text_col, F.lit(TOKEN_RE), 0).alias("_toks"),
    )
    return toked.select(
        "doc_id", shingle_array_from_tokens(F.col("_toks"), w).alias(out_col)
    )


def shingles(docs: DataFrame, w: int = 3, text_col: str = "text") -> DataFrame:
    """Distinct w-token shingles per doc: (doc_id, shingle).

    Plan shape matters here (this is the heaviest map stage of the
    dedup family): the token array is bound in its own projection
    (regexp planned once, not 4×), and the explode's child is the
    shingle EXPRESSION rather than a bound alias — with an alias child,
    ``InferFiltersFromGenerate`` infers a ``size(...) > 0`` filter that
    filter-pushdown re-inlines below the caller's repartition, running
    the full shingle computation an extra time on the raw scan's input
    split(s). With the expression child the optimizer's expensive-
    expression guard skips the inference. Measured 8.1s → 0.8s at
    sf0.1 / local[32]."""
    toked = docs.select(
        "doc_id",
        F.regexp_extract_all(text_col, F.lit(TOKEN_RE), 0).alias("_toks"),
    )
    return toked.select(
        "doc_id",
        F.explode(shingle_array_from_tokens(F.col("_toks"), w)).alias(
            "shingle"
        ),
    )


def minhash_signatures(
    sh: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """(doc_id, seed, sig): sig = min md5('seed:shingle') per seed —
    a lexicographic MinHash over the md5 space.

    All K minima are computed in ONE groupBy pass (K agg expressions,
    map-side partial min), then unpivoted — the shuffle carries K
    32-char digests per doc instead of K× replicated shingle rows.
    """
    aggs = [
        F.min(F.md5(F.concat_ws(":", F.lit(str(s)), "shingle"))).alias(f"s{s}")
        for s in range(num_hashes)
    ]
    wide = sh.groupBy("doc_id").agg(*aggs)
    stack = ", ".join(f"{s}, s{s}" for s in range(num_hashes))
    return wide.selectExpr(
        "doc_id", f"stack({num_hashes}, {stack}) as (seed, sig)"
    )


def lsh_band_keys(
    sigs: DataFrame, bands: int = DEFAULT_BANDS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """(doc_id, band, band_key): band_key = md5 over the band's
    concatenated signatures (seed-ordered)."""
    rows_per_band = num_hashes // bands
    banded = sigs.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
    return banded.groupBy("doc_id", "band").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seed", "sig"))),
                    lambda s: s["sig"],
                ),
                "|",
            )
        ).alias("band_key")
    )


def lsh_candidates(
    band_keys: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing ≥1 band key.
    The join is equi on (band, band_key): never quadratic in corpus
    size, only within identical buckets.

    ``max_bucket`` caps hot-bucket blowup (boilerplate-heavy corpora
    put millions of docs in one band bucket): the LEFT side of the pair
    join is restricted to each bucket's first ``max_bucket`` docs (by
    doc_id — deterministic, oracle-replicable). Every doc still pairs
    with the bucket's representatives, so a bucket of size n emits
    ≤ max_bucket·n pairs instead of n² and downstream connected-
    components still groups the whole bucket through the reps.
    """
    from pyspark.sql import Window

    # the pair join reads band_keys on BOTH sides (three times with the
    # cap's window): materialize it once — O(docs x bands) rows, tiny
    # next to the shingle/signature lineage it would otherwise replay
    band_keys = band_keys.localCheckpoint(eager=True)
    left = band_keys
    if max_bucket is not None:
        wb = Window.partitionBy("band", "band_key").orderBy("doc_id")
        left = (
            band_keys.withColumn("_r", F.row_number().over(wb))
            .filter(F.col("_r") <= max_bucket)
            .drop("_r")
        )
    a = left.select(
        F.col("doc_id").alias("doc_a"), "band", "band_key"
    )
    b = band_keys.select(
        F.col("doc_id").alias("doc_b"), F.col("band").alias("_b2"),
        F.col("band_key").alias("_k2"),
    )
    return (
        a.join(
            b,
            (a["band"] == b["_b2"])
            & (a["band_key"] == b["_k2"])
            & (a["doc_a"] < b["doc_b"]),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame, sh: DataFrame, threshold: float = 0.0
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs:
    (doc_a, doc_b, inter, union_, jaccard ≥ threshold)."""
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"),
                   F.col("shingle").alias("_s2"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("shingle") == F.col("_s2"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    out = (
        candidates.join(inter, ["doc_a", "doc_b"], "left")
        .fillna(0, subset=["inter"])
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("union_", F.col("na") + F.col("nb") - F.col("inter"))
        .withColumn(
            "jaccard",
            F.col("inter") / F.greatest(F.col("union_"), F.lit(1)),
        )
        .select("doc_a", "doc_b", "inter", "union_", "jaccard")
    )
    return out.filter(F.col("jaccard") >= threshold)


def minhash_dedup(
    docs: DataFrame, w: int = 3, num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS, threshold: float = 0.5,
    text_col: str = "text", max_bucket: int | None = None,
) -> DataFrame:
    """End-to-end near-dup pairs: shingle → minhash → LSH bands →
    candidate join → exact-Jaccard verify. The shingle table feeds
    three consumers (signatures + both verify sides); it is eagerly
    localCheckpoint-ed — one materialization shared by all branches,
    and the blocks are released with the DataFrame (nothing stays
    pinned in executor storage across unrelated queries, unlike a
    session-lifetime persist). Documents are spread across the default
    parallelism first: a single-file corpus scan would otherwise
    shingle on ONE task and the checkpoint would serialize the heaviest
    step of the whole job."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    sh = shingles(docs.repartition(par), w, text_col).localCheckpoint(
        eager=True
    )
    sigs = minhash_signatures(sh, num_hashes)
    cands = lsh_candidates(lsh_band_keys(sigs, bands, num_hashes), max_bucket)
    return jaccard_verify(cands, sh, threshold)


def dedup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS → keep/drop decision — the
    dedup *action* of a training pipeline: connected components over
    the pair graph, cluster_id = smallest doc id in the cluster, and
    keep = (doc == cluster_id), i.e. one canonical survivor per
    cluster. Docs in no pair are singleton clusters (kept).

    → (doc_id, cluster_id, keep int) with ``doc_id``/``cluster_id`` in
    the CALLER'S id type: numeric ids are zero-padded only internally
    (so CC's lexicographic min equals the numeric min) and joined back
    to the originals; string ids pass through untouched (canonical
    survivor = lexicographically smallest id).

    Near-dup chains (A~B~C~…, boilerplate-heavy corpora) can exceed the
    hash-to-min round budget; ``connected_components`` then finishes
    them with its O(log n) large-star/small-star rounds.
    """
    from pyspark.sql import types as T

    from renard_spark.operators.cc import connected_components

    numeric = isinstance(
        docs.schema[id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    if numeric:
        key = lambda c: F.lpad(F.col(c).cast("string"), 20, "0")
    else:
        key = lambda c: F.col(c).cast("string")
    edges = pairs.select(key("doc_a").alias("src"), key("doc_b").alias("dst"))
    singles = docs.select(key(id_col).alias("src")).withColumn(
        "dst", F.col("src")
    )
    all_edges = edges.unionByName(singles)
    comp = connected_components(all_edges)
    if numeric or isinstance(docs.schema[id_col].dataType, T.StringType):
        # the internal key is invertible (zero-padding for numerics,
        # identity for strings): cast back directly instead of joining
        # the id map (two shuffle joins saved)
        dtype = docs.schema[id_col].dataType
        out = comp.select(
            F.col("vertex").cast(dtype).alias("doc_id"),
            F.col("component").cast(dtype).alias("cluster_id"),
        )
    else:
        # map internal vertex keys back to the caller's original ids
        idmap = docs.select(
            F.col(id_col).alias("_orig"), key(id_col).alias("_k")
        ).distinct()
        out = (
            comp.join(idmap, comp["vertex"] == idmap["_k"])
            .select(F.col("_orig").alias("doc_id"), "component")
            .join(
                idmap.select(
                    F.col("_orig").alias("cluster_id"),
                    F.col("_k").alias("component"),
                ),
                "component",
            )
        )
    return out.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------- simhash

SIMHASH_BITS = 64


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash over token counts, md5-derived bit votes.

    bit_j(token) = j-th bit of md5(token); fingerprint bit j = 1 iff
    Σ_tokens count·(2·bit_j − 1) > 0. Returns (doc_id, simhash bigint).
    Pure explode + aggregate (64 rows per distinct token) — JVM-side.
    """
    toks = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(text_col, F.lit(TOKEN_RE), 0)).alias("tok"),
    )
    counts = toks.groupBy("doc_id", F.lower("tok").alias("tok")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    h = counts.withColumn("h", F.md5("tok"))
    # 16 hex digits of the 64-bit prefix, decoded once per token row
    for d in range(SIMHASH_BITS // 4):
        h = h.withColumn(
            f"_d{d}", F.conv(F.substring("h", d + 1, 1), 16, 10).cast("int")
        )
    # ONE groupBy with 64 vote-sum aggregates (map-side partial combine
    # ships 64 longs per doc per mapper) instead of exploding 64 rows
    # per (doc, token) — ~64× less shuffle volume for identical output.
    # bit j of the prefix: hex digit j//4, bit (3 - j%4).
    aggs = []
    for j in range(SIMHASH_BITS):
        bit = F.shiftright(F.col(f"_d{j // 4}"), 3 - j % 4) % 2
        aggs.append(F.sum((bit * 2 - 1) * F.col("cnt")).alias(f"_v{j}"))
    votes = h.groupBy("doc_id").agg(*aggs)
    fp = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        fp = fp + F.when(
            F.col(f"_v{j}") > 0, F.expr(f"shiftleft(1L, {63 - j})")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select("doc_id", fp.alias("simhash"))


def embedding_near_dups(
    emb: DataFrame, threshold: float = 0.9, n_bits: int = 8,
    vec_col: str = "embedding", id_col: str = "vec_id",
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: SRP-LSH bucket candidates
    → exact cosine ≥ threshold. (doc/vec pairs a<b with cosine.)
    The candidate join is equi on the SRP bucket — the brute-force
    quadratic pass never happens.

    ``n_tables`` > 1 ORs candidates across independent SRP tables
    (srp_multi_bucket_keys): single-table recall at cosine 0.9 /
    8 bits is only ~(1−acos(.9)/π)^8 ≈ 0.30; 4 tables lift it to ~0.76.
    Default 1 preserves the original (oracle-matched) behavior.
    """
    from renard_spark.functions.similarity import (
        _dot,
        srp_bucket_keys,
        srp_multi_bucket_keys,
        with_norm,
    )

    if n_tables > 1:
        buckets = srp_multi_bucket_keys(emb, n_bits, n_tables, vec_col, id_col)
    else:
        buckets = srp_bucket_keys(emb, n_bits, vec_col, id_col).withColumn(
            "table_id", F.lit(0)
        )
    buckets = buckets.withColumnRenamed("vec_id", "_bid")
    e = with_norm(emb, vec_col).join(
        buckets, F.col(id_col) == F.col("_bid")
    ).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        F.col("_norm").alias("n"), "table_id", "bucket",
    )
    a = e.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("n").alias("na"), "table_id", "bucket",
    )
    b = e.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"),
        F.col("table_id").alias("_t2"), F.col("bucket").alias("_bk"),
    )
    pairs = (
        a.join(
            b,
            (a["table_id"] == b["_t2"]) & (a["bucket"] == b["_bk"])
            & (a["id_a"] < b["id_b"]),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    scored = pairs.select(
        "id_a", "id_b",
        (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
            "cosine"
        ),
    )
    return scored.filter(F.col("cosine") >= threshold)


def simhash_near_pairs(
    sim: DataFrame, max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ ``max_hamming``
    via the standard banding trick: two 64-bit fingerprints within
    hamming distance k < bands must agree exactly on ≥1 of the
    ``bands`` equal-width bit bands (pigeonhole), so candidates come
    from an equi-join on (band, 16-bit band key) — never an all-pairs
    hamming scan — and only candidates pay the exact
    bit_count(xor) verification.

    sim: (doc_id, simhash bigint) → (doc_a, doc_b, hamming) with
    doc_a < doc_b. Band keys are hex substrings of the fingerprint
    (sign-safe and bit-identical in the DuckDB oracle).
    """
    assert max_hamming < bands, "pigeonhole needs max_hamming < bands"
    assert bands in (2, 4, 8, 16), "bands must divide the 16 hex digits"
    hex_digits = 16 // bands
    h = sim.withColumn(
        "_hex", F.lower(F.lpad(F.hex("simhash"), 16, "0"))
    )
    keys = h.select(
        "doc_id",
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.substring("_hex", b * hex_digits + 1, hex_digits).alias(
                        "band_key"
                    ),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.band_key")
    # checkpoint: keys feeds both join sides — upstream `sim` is
    # usually the full 64-bit vote pass and would execute twice
    keys = keys.localCheckpoint(eager=False)
    a = keys.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("_sa"),
        "band", "band_key",
    )
    b = keys.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("_sb"),
        F.col("band").alias("_b2"), F.col("band_key").alias("_k2"),
    )
    cand = (
        a.join(
            b,
            (a["band"] == b["_b2"]) & (a["band_key"] == b["_k2"])
            & (a["doc_a"] < b["doc_b"]),
        )
        .select("doc_a", "doc_b", "_sa", "_sb")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_dup_groups(sim: DataFrame) -> DataFrame:
    """(doc_id, simhash, dup_group_size) — identical-fingerprint dedup."""
    from pyspark.sql import Window

    w = Window.partitionBy("simhash")
    return sim.withColumn(
        "dup_group_size", F.count(F.lit(1)).over(w).cast("long")
    )


def dedup_keep_best(
    docs: DataFrame, pairs: DataFrame, quality: DataFrame,
    id_col: str = "doc_id", score_col: str = "quality_score",
) -> DataFrame:
    """Quality-aware dedup action: near-dup pairs → connected-component
    clusters (``dedup_clusters``), but the survivor per cluster is the
    HIGHEST-``score_col`` member (ties → smallest id), not the smallest
    id — the keep rule real curation pipelines use, where the longest /
    cleanest copy of boilerplate-duplicated content should survive.

    → (doc_id, cluster_id, keep int, best_id). ``cluster_id`` stays
    the CC canonical label (smallest member) so cluster identity is
    stable no matter how the keep rule changes; ``best_id`` is the
    surviving member.

    One extra shuffle over ``dedup_clusters``: the per-cluster argmax
    (map-side-combinable ``max_by``). Callers should pass scores
    pre-rounded to a stable precision (the driver query rounds to 6
    decimals): the argmax compares raw doubles, and engines that
    disagree in the last ulp would otherwise pick different survivors
    on near-ties.
    """
    clusters = dedup_clusters(docs, pairs, id_col)
    q = quality.select(
        F.col(id_col).alias("doc_id"), F.col(score_col).alias("_q")
    )
    members = clusters.join(q, "doc_id")
    # min over (-q, doc_id): highest quality, ties -> smallest id —
    # works for string ids too (negating doc_id wouldn't)
    best = members.groupBy("cluster_id").agg(
        F.min_by(
            F.col("doc_id"),
            F.struct((-F.col("_q")).alias("_nq"), F.col("doc_id")),
        ).alias("best_id")
    )
    return (
        clusters.join(best, "cluster_id")
        .select(
            "doc_id", "cluster_id",
            (F.col("doc_id") == F.col("best_id")).cast("int").alias("keep"),
            "best_id",
        )
    )


def edit_distance_verify(
    cands: DataFrame,
    docs: DataFrame,
    max_dist: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fuzzy-dedup verification of LSH candidate pairs by exact
    Levenshtein distance — the edit-level complement of
    ``jaccard_verify`` (bag-of-shingles can miss reorderings that edit
    distance catches, and vice versa). Spark's thresholded
    ``levenshtein(a, b, max_dist)`` runs the early-exit banded DP
    (O(len·max_dist), returns -1 past the threshold), so the cost per
    pair is bounded even for long docs; candidate VOLUME is bounded
    upstream by LSH banding + the hot-bucket cap. JVM built-in — no
    UDF, no Python.

    → (doc_a, doc_b, dist, ratio) for pairs with dist ≤ max_dist;
    ratio = dist / max(len_a, len_b) (one IEEE division, gate-exact).
    Caveat: Spark counts CODEPOINTS while DuckDB's levenshtein counts
    BYTES — identical on ASCII corpora (the test tables are; asserted
    in the gate's corpus), divergent on multi-byte text.
    """
    ta = docs.select(
        F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta")
    )
    tb = docs.select(
        F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb")
    )
    scored = (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("dist", F.levenshtein("_ta", "_tb", max_dist))
        .filter(F.col("dist") >= 0)
    )
    return scored.select(
        "doc_a",
        "doc_b",
        F.col("dist").cast("long").alias("dist"),
        F.round(
            F.col("dist")
            / F.greatest(F.length("_ta"), F.length("_tb"), F.lit(1)),
            6,
        ).alias("ratio"),
    )


def prefix_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    w: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT set-Jaccard similarity join by prefix filtering
    (SSJoin/PPJoin family — Chaudhuri et al. ICDE'06, Xiao et al.
    WWW'08; public algorithms): every pair with Jaccard ≥ threshold is
    returned, no false negatives — the exactness complement of the
    MinHash-LSH candidate path, for when the dedup decision must be
    auditable.

    Items are the doc's distinct lowercased tokens (``w=1``) or its
    distinct w-token shingles (``w≥2``, same construction as the
    MinHash family incl. the whole-text fallback under w tokens) —
    shingles keep the join selective on vocabulary-dense corpora where
    token SETS converge.

    Prefix-filter theorem: order each doc's distinct items by global
    rarity (ascending document frequency, ties by item); if
    |A∩B|/|A∪B| ≥ t then A and B must share an item within their first
    ``s − ⌈t·s⌉ + 1`` items. So candidates come from an equi-join on
    PREFIX items only — rare-first ordering keeps prefix posting
    lists short, and the size filter ``min(sa,sb) ≥ t·max(sa,sb)``
    prunes before verification. Scale shapes: the item-df table is
    EQUI-joined back (a 100M-item vocabulary is itself a corpus —
    never broadcast), per-doc sort is inside one map-side
    collect_list+array_sort, and verification is one array_intersect
    per surviving candidate. No UDF, no cross join.

    → (doc_a, doc_b, inter, union_, jaccard) with jaccard ≥ threshold;
    the division is a single IEEE op (bit-identical cross-engine).
    """
    toked = docs.select(
        F.col(id_col).alias("_id"),
        F.regexp_extract_all(text_col, F.lit(TOKEN_RE), 0).alias("_rawtoks"),
    )
    if w <= 1:
        items = F.array_distinct(
            F.transform(F.col("_rawtoks"), lambda x: F.lower(x))
        )
    else:
        items = shingle_array_from_tokens(F.col("_rawtoks"), w)
    # explode the expression, not a bound alias (InferFiltersFromGenerate
    # would re-inline the shingle work below the caller's repartition —
    # see shingles()). Checkpoint: tok feeds TWO consumers (the df
    # aggregation and the sets build) — without it the corpus
    # tokenize+shingle pass executes twice.
    tok = toked.select("_id", F.explode(items).alias("token")).localCheckpoint(
        eager=False
    )
    dfq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("_df"))
    sets = (
        tok.join(dfq, "token")
        .groupBy("_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_df", "token"))),
                lambda s: s["token"],
            ).alias("_toks")
        )
        .withColumn("_s", F.size("_toks").cast("long"))
        .withColumn(
            "_p",
            (
                F.col("_s")
                - F.ceil(F.lit(threshold) * F.col("_s"))
                + 1
            ).cast("int"),
        )
        .localCheckpoint(eager=False)
    )
    pref = sets.select(
        "_id",
        "_s",
        F.posexplode(F.slice("_toks", F.lit(1), F.col("_p"))).alias(
            "_pos", "token"
        ),
    )
    a, b = pref.alias("a"), pref.alias("b")
    # Positional filter (PPJoin proper, Xiao et al. WWW'08): per pair,
    # m = EXACT count of common tokens lying in both prefixes (tokens
    # are per-doc distinct, so join occurrences = common tokens), and
    # (pa*, pb*) = 1-based positions of the MAXIMAL matched token in
    # each doc's rarity-ordered set (positions are order-ranks, so
    # max(pa) and max(pb) are attained at the same token). Every
    # common element ≤ that token sits in both prefixes (order-rank
    # monotonicity) and is therefore counted in m; every common
    # element beyond it has position > pa* in A and > pb* in B, so
    # o = |A∩B| ≤ m + min(sa−pa*, sb−pb*) =: ubound. Pruning when
    # ubound/(sa+sb−ubound) < t is exact — x/(S−x) is monotone in x
    # under IEEE division, so true jaccard ≤ that bound — and the
    # aggregation replaces the former pair-dedup .distinct() at the
    # SAME single shuffle (group keys gain the functionally-determined
    # sizes only). Measured at sf0.1: 310k candidates → ~the few that
    # can possibly qualify, removing ~5s of array_intersect
    # verification on pairs that could never reach the threshold.
    cand = (
        a.join(b, "token")
        .filter(F.col("a._id") < F.col("b._id"))
        .filter(
            F.least("a._s", "b._s")
            >= F.lit(threshold) * F.greatest("a._s", "b._s")
        )
        .groupBy(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            F.col("a._s").alias("_csa"),
            F.col("b._s").alias("_csb"),
        )
        .agg(
            F.count(F.lit(1)).alias("_m"),
            F.max(F.col("a._pos")).alias("_pam"),
            F.max(F.col("b._pos")).alias("_pbm"),
        )
        .withColumn(
            "_ub",
            F.col("_m")
            + F.least(
                F.col("_csa") - (F.col("_pam") + 1),
                F.col("_csb") - (F.col("_pbm") + 1),
            ),
        )
        .filter(
            F.col("_ub") / (F.col("_csa") + F.col("_csb") - F.col("_ub"))
            >= threshold
        )
        .select("doc_a", "doc_b")
    )
    va = sets.select(
        F.col("_id").alias("doc_a"),
        F.col("_toks").alias("_ta"),
        F.col("_s").alias("_sa"),
    )
    vb = sets.select(
        F.col("_id").alias("doc_b"),
        F.col("_toks").alias("_tb"),
        F.col("_s").alias("_sb"),
    )
    inter = F.size(F.array_intersect("_ta", "_tb")).cast("long")
    scored = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("inter", inter)
        .withColumn(
            "union_", (F.col("_sa") + F.col("_sb") - F.col("inter"))
        )
        .withColumn("jaccard", F.col("inter") / F.col("union_"))
        .filter(F.col("jaccard") >= threshold)
    )
    return scored.select(
        "doc_a", "doc_b", "inter",
        F.col("union_").cast("long").alias("union_"), "jaccard",
    )


def shared_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal cross-document repeated token spans — exact substring
    deduplication in the sense of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"; public algorithm),
    with the suffix-array pass re-expressed as n-gram-run detection:
    a token position is *duplicated* when the n-gram starting there
    occurs in ≥ ``min_docs`` distinct documents, and maximal runs of
    consecutive duplicated positions are merged into one span of
    ``run + n − 1`` tokens. These are exactly the substrings ≥ n tokens
    that appear (token-aligned) in ≥ min_docs docs, reported maximal —
    the spans a training-data pipeline cuts out of every copy.

    Scale shape: gram document-frequency is ONE corpus-token shuffle
    (map-side partial count over per-doc-distinct grams); duplicated
    positions come back via ONE gram equi-join (the shared-gram table
    is corpus-sized vocabulary — never broadcast); run-merging is a
    per-document window (gaps-and-islands), no self-join, nothing
    quadratic anywhere. No UDF.

    → (doc_id, start_tok, end_tok, n_toks): token-index spans
    [start_tok, end_tok) with n_toks = end_tok − start_tok ≥ n.
    """
    toked = docs.select(
        F.col(id_col).alias("_id"),
        F.regexp_extract_all(text_col, F.lit(TOKEN_RE), 0).alias("_toks"),
    )
    # (doc, pos, gram) for every n-gram start position — the explode
    # child is the expression (not a bound alias): see shingles() /
    # the InferFiltersFromGenerate note above.
    grams = toked.select(
        "_id",
        F.posexplode(
            F.when(
                F.size("_toks") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("_toks") - n + 1),
                    lambda i: F.array_join(F.slice("_toks", i, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "gram"),
    )
    # checkpoint: grams feeds the df aggregation AND the position
    # join — the n-gram explode would execute twice otherwise
    grams = grams.localCheckpoint(eager=False)
    dfreq = (
        grams.select("_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
    )
    dup_pos = grams.join(dfreq, "gram").select("_id", "pos")
    w = Window.partitionBy("_id").orderBy("pos")
    runs = dup_pos.withColumn(
        "_grp", F.col("pos") - F.row_number().over(w)
    )
    return (
        runs.groupBy("_id", "_grp")
        .agg(
            F.min("pos").cast("long").alias("start_tok"),
            (F.max("pos") + n).cast("long").alias("end_tok"),
        )
        .select(
            F.col("_id").alias("doc_id"),
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok")).alias("n_toks"),
        )
    )


def blocking_quality(
    docs: DataFrame, w: int = 3, num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS, text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Entity-resolution blocking evaluation (the standard pair of
    metrics from the ER literature — e.g. Christen 2012): how good is
    the MinHash-LSH blocking scheme at proposing the truly-duplicate
    pairs while pruning the quadratic pair space? → ONE row:

    - n_docs, n_truth_pairs (pairs with identical NORMALIZED text —
      the exact-duplicate ground truth from ``text.fingerprints``),
      n_cand_pairs (distinct LSH candidate pairs), n_hits (candidates
      that are true duplicates);
    - pairs_completeness = n_hits / n_truth_pairs (recall of the
      blocker; NULL when no truth pairs exist);
    - reduction_ratio = 1 − n_cand_pairs / C(n_docs, 2) (how much of
      the quadratic comparison space the blocker prunes).

    The tuning loop for band/row counts runs THIS query per config.
    Scale shape: truth pairs are NEVER materialized — n_truth is
    Σ C(k,2) over normalized-fingerprint groups (one groupBy), and
    n_hits joins the candidate table (already bucket-bounded) onto the
    fingerprint table twice (equi on doc id). Everything else is
    counts; output is one row.
    """
    from renard_spark.functions.text import fingerprints

    par = docs.sparkSession.sparkContext.defaultParallelism
    sh = shingles(docs.repartition(par), w, text_col).localCheckpoint(
        eager=True
    )
    sigs = minhash_signatures(sh, num_hashes)
    cands = lsh_candidates(
        lsh_band_keys(sigs, bands, num_hashes), max_bucket
    ).localCheckpoint(eager=True)
    fps = fingerprints(docs, text_col).select(
        "doc_id", "norm_fp"
    ).localCheckpoint(eager=True)
    n_docs = fps.count()
    truth = (
        fps.groupBy("norm_fp")
        .agg(F.count(F.lit(1)).alias("k"))
        .agg(F.sum(F.col("k") * (F.col("k") - 1) / 2).cast("long"))
        .first()[0]
        or 0
    )
    hits = (
        cands.join(fps.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            fps.select(
                F.col("doc_id").alias("doc_b"),
                F.col("norm_fp").alias("_fp_b"),
            ),
            "doc_b",
        )
        .filter(F.col("norm_fp") == F.col("_fp_b"))
        .count()
    )
    n_cands = cands.count()
    total_pairs = n_docs * (n_docs - 1) // 2
    spark = docs.sparkSession
    # ratios via F.round (half-up, same as the SQL engines) — Python's
    # round() is banker's rounding and can disagree at the boundary
    base = local_table(
        spark, [(n_docs, int(truth), n_cands, hits)],
        "n_docs long, n_truth_pairs long, n_cand_pairs long, n_hits long",
    )
    return base.select(
        "n_docs", "n_truth_pairs", "n_cand_pairs", "n_hits",
        F.round(
            F.when(
                F.col("n_truth_pairs") > 0,
                F.col("n_hits") / F.col("n_truth_pairs"),
            ),
            6,
        ).alias("pairs_completeness"),
        F.round(
            F.when(
                F.lit(total_pairs) > 0,
                1.0 - F.col("n_cand_pairs") / F.lit(float(total_pairs)),
            ),
            6,
        ).alias("reduction_ratio"),
    )


def sorted_neighborhood(
    docs: DataFrame,
    window: int = 4,
    key_prefix: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood ER blocking (Hernandez & Stolfo, SIGMOD'95
    — the merge/purge method; public algorithm): order records by a
    normalized blocking key, slide a width-``window`` window over the
    GLOBAL order, and emit every in-window pair as a candidate — the
    classic complement to token / LSH / fingerprint blocking for
    near-sorted dirty data (typo'd prefixes land adjacent where token
    sets diverge).

    The blocking key is the first ``key_prefix`` chars of the
    lowercased alphanumeric-collapsed text (same normalization family
    as fingerprints); ties order by ``id_col`` so the global order —
    and therefore the candidate set — is total and engine-independent.

    Scale shape: the global rank is the TWO-PHASE pattern
    (operators/utils.global_running_total — range repartition,
    per-partition window, broadcast offsets; never an empty-partitionBy
    window), and the in-window pairing is ONE equi-join of the ranked
    table against itself exploded by delta 1..window-1 — O(n*window)
    candidate rows, no self-range-join, no sort on a single partition.

    → (doc_a, doc_b, key_a, key_b, rank_dist) with rank(doc_a) <
    rank(doc_b) and rank_dist = rank(doc_b) - rank(doc_a) < window.
    """
    from renard_spark.operators.utils import global_running_total

    if window < 2:
        raise ValueError("window must be >= 2 (else no pairs exist)")
    keyed = docs.select(
        F.col(id_col).alias("_id"),
        F.substring(
            F.lower(F.regexp_replace(text_col, r"[^A-Za-z0-9]+", " ")),
            1,
            key_prefix,
        ).alias("_key"),
    ).localCheckpoint(eager=False)  # rank's range partitioner samples
    ranked = global_running_total(
        keyed.withColumn("_one", F.lit(1)),
        "_one",
        ["_key", "_id"],
        out_col="_rank",
    ).drop("_one")
    ranked = ranked.localCheckpoint(eager=False)  # feeds both join sides
    left = ranked.select(
        F.col("_id").alias("doc_a"),
        F.col("_key").alias("key_a"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(window - 1)),
                lambda d: F.col("_rank") + d,
            )
        ).alias("_rank"),
        (F.col("_rank")).alias("_ra"),
    )
    right = ranked.select(
        F.col("_id").alias("doc_b"),
        F.col("_key").alias("key_b"),
        "_rank",
    )
    return (
        left.join(right, "_rank")
        .select(
            "doc_a",
            "doc_b",
            "key_a",
            "key_b",
            (F.col("_rank") - F.col("_ra")).cast("int").alias("rank_dist"),
        )
    )


FS_DEFAULT_MU = {
    # (m, u) per field: P(agree | match), P(agree | non-match).
    # Literal engine defaults — callers fit their own from labeled
    # pairs; only the RATIOS enter the score.
    "fp": (0.95, 0.001),
    "len_band": (0.90, 0.20),
    "jaccard": (0.85, 0.05),
}


def fellegi_sunter(
    docs: DataFrame,
    window: int = 4,
    key_prefix: int = 24,
    mu: dict[str, tuple[float, float]] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fellegi-Sunter probabilistic record-linkage scores (Fellegi &
    Sunter, JASA 1969 — THE classical ER decision model; public) over
    sorted-neighborhood candidate pairs → (doc_a, doc_b, agree_fp,
    agree_len, agree_jac, fs_weight).

    Each candidate pair gets an agreement vector on three document
    comparators, every one exact integer arithmetic cross-engine:

      * ``fp``      — normalized-fingerprint equality (the
        text.fingerprints norm_fp key),
      * ``len_band``— equality of floor(log2(len+1)) length bands
        (integer bit-length, no float log),
      * ``jaccard`` — distinct-token Jaccard >= 0.5, compared as
        2*|A∩B| >= |A∪B| (integers — a float ratio could ulp-flip
        membership cross-engine).

    The match weight is the standard sum of per-field log-likelihood
    ratios: agree_i contributes log2(m_i/u_i), disagree_i contributes
    log2((1-m_i)/(1-u_i)) — with the log values computed DRIVER-side
    from the (m, u) literals, so executors only add constants chosen
    by a CASE on the agreement bit. Pairs above a caller-chosen
    threshold are links; the weights are also the edge weights a
    downstream CC merge consumes.

    Scale shape: candidates come from ``sorted_neighborhood`` (O(n·w),
    two-phase global rank — no self-range-join); per-doc features are
    computed ONCE in a narrow projection and the pair table equi-joins
    it twice on the doc id. No UDFs, no windows over data rows.
    """
    import math

    mu = dict(FS_DEFAULT_MU, **(mu or {}))
    cand = sorted_neighborhood(
        docs, window=window, key_prefix=key_prefix,
        text_col=text_col, id_col=id_col,
    ).select("doc_a", "doc_b")
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    )
    n_chars = F.length(text_col)
    feats = docs.select(
        F.col(id_col).alias("_id"),
        F.md5(norm).alias("_fp"),
        # floor(log2(len+1)) via exact integer bit length
        (F.length(F.conv(n_chars + 1, 10, 2)) - 1).alias("_band"),
        F.array_sort(
            F.array_distinct(
                F.expr(
                    f"transform(split(lower({text_col}),"
                    " '[^a-z0-9]+'), x -> x)"
                )
            )
        ).alias("_toks"),
    ).withColumn(
        "_toks", F.filter("_toks", lambda x: x != "")
    ).localCheckpoint(eager=False)

    fa = feats.select(
        F.col("_id").alias("doc_a"), F.col("_fp").alias("_fpa"),
        F.col("_band").alias("_ba"), F.col("_toks").alias("_ta"),
    )
    fb = feats.select(
        F.col("_id").alias("doc_b"), F.col("_fp").alias("_fpb"),
        F.col("_band").alias("_bb"), F.col("_toks").alias("_tb"),
    )
    p = cand.join(fa, "doc_a").join(fb, "doc_b")
    inter = F.size(F.array_intersect("_ta", "_tb"))
    union = F.size("_ta") + F.size("_tb") - inter
    agree_fp = (F.col("_fpa") == F.col("_fpb")).cast("long")
    agree_len = (F.col("_ba") == F.col("_bb")).cast("long")
    agree_jac = (
        (union > 0) & (inter * 2 >= union)
    ).cast("long")

    def w(field: str, bit):
        m, u = mu[field]
        return F.when(
            bit == 1, F.lit(math.log2(m / u))
        ).otherwise(F.lit(math.log2((1 - m) / (1 - u))))

    return p.select(
        "doc_a", "doc_b",
        agree_fp.alias("agree_fp"),
        agree_len.alias("agree_len"),
        agree_jac.alias("agree_jac"),
    ).select(
        "doc_a", "doc_b", "agree_fp", "agree_len", "agree_jac",
        F.round(
            w("fp", F.col("agree_fp"))
            + w("len_band", F.col("agree_len"))
            + w("jaccard", F.col("agree_jac")),
            6,
        ).alias("fs_weight"),
    )


def containment_pairs(
    docs: DataFrame,
    w: int = 3,
    threshold: float = 0.5,
    max_df: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC near-dup detection by shingle containment
    C(A,B) = |A∩B| / |A| (Broder SEQUENCES'97's "roughly contained")
    — the case Jaccard-based LSH structurally misses: a document
    embedded inside a much larger one has tiny Jaccard but containment
    ~1 for the smaller side. This is the quote/boilerplate/subset
    detector of a training-data pipeline.

    → (doc_a, doc_b, inter, n_a, n_b, cont_a, cont_b) with doc_a <
    doc_b and max(cont_a, cont_b) >= threshold; cont_a = inter/n_a is
    how much of A lies inside B.

    Candidates come from the inverted shingle index with a DOCUMENT-
    FREQUENCY cap: shingles appearing in more than ``max_df`` documents
    are dropped from the VOCABULARY (numerator AND denominators — the
    semantics are exact containment over the df-capped shingle set, so
    the result is well-defined and cross-engine reproducible rather
    than an uncontrolled approximation). The cap has two jobs: it
    bounds the self-join fanout per shingle at max_df^2 (no hot-key
    quadratic blowup at corpus scale), and it removes exactly the
    boilerplate shingles that make containment scores meaningless.

    Scale shape: one shingle explode (localCheckpoint-ed, shared by
    the index and both size sides), one df-cap aggregation, one
    equi-self-join on shingle, one pair aggregation. No windows, no
    UDFs, no all-pairs."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    sh = shingles(docs.repartition(par), w, text_col).localCheckpoint(
        eager=True
    )
    rare = sh.join(
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("shingle"),
        "shingle",
    ).localCheckpoint(eager=True)
    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = rare.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = rare.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    out = (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("cont_a", F.round(F.col("inter") / F.col("n_a"), 6))
        .withColumn("cont_b", F.round(F.col("inter") / F.col("n_b"), 6))
    )
    return out.filter(
        F.greatest("cont_a", "cont_b") >= threshold
    ).select("doc_a", "doc_b", "inter", "n_a", "n_b", "cont_a", "cont_b")


def threshold_sweep(
    pairs: DataFrame,
    score_col: str,
    label_col: str,
    total_positives: int | None = None,
) -> DataFrame:
    """Precision/recall/F1 sweep over every distinct decision threshold
    of a scored candidate-pair table — the evaluation curve that picks
    a record-linkage (or near-dup) operating point. For each distinct
    score s (descending): classify score >= s as a link, and report
    (threshold=s, tp, fp, fn, precision, recall, f1).

    ``label_col`` is the 0/1 gold label on each pair. ``total_positives``
    is the number of gold matches IN THE FULL UNIVERSE (including
    pairs the blocker never generated) — pass it to measure end-to-end
    recall including blocking misses; default is the in-table positive
    count (classifier-only recall).

    Scale shape: one groupBy collapses the pair table to ONE ROW PER
    DISTINCT SCORE, and the cumulative sums over that reduced table
    run through global_running_total (range repartition + per-partition
    sums + broadcast offsets — never a single-partition window). A
    discrete scorer (like fellegi_sunter: <= 2^#fields distinct
    weights) reduces to a handful of rows; callers with continuous
    scores should quantize first (round/bucket) to keep the sweep
    table meaningful."""
    from renard_spark.operators.utils import global_running_total

    per = (
        pairs.groupBy(F.col(score_col).alias("threshold"))
        .agg(
            F.sum(F.col(label_col).cast("long")).alias("_pos"),
            F.count(F.lit(1)).alias("_n"),
        )
        .withColumn("_negscore", -F.col("threshold"))
        .localCheckpoint(eager=True)
    )
    cum = global_running_total(per, "_pos", ["_negscore"], "_tp_excl")
    cum = global_running_total(cum, "_n", ["_negscore"], "_np_excl")
    if total_positives is None:
        tot = per.agg(F.sum("_pos").alias("_total"))
    else:
        tot = per.sparkSession.range(1).select(
            F.lit(total_positives).cast("long").alias("_total")
        )
    out = (
        cum.crossJoin(F.broadcast(tot))
        .withColumn("tp", F.col("_tp_excl") + F.col("_pos"))
        .withColumn("fp", (F.col("_np_excl") + F.col("_n")) - F.col("tp"))
        .withColumn("fn", F.col("_total") - F.col("tp"))
    )
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("_total"), F.lit(1))
    return out.select(
        "threshold", "tp", "fp", "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            2 * prec * rec / F.greatest(prec + rec, F.lit(1e-12)), 6
        ).alias("f1"),
    )


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    split_re: str = r"\n+",
    join_sep: str = " ",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide KEEP-FIRST exact paragraph dedup → (doc_id,
    clean_text, n_kept, n_dropped): split every document into units
    (lines by default), and for each distinct unit keep only its FIRST
    occurrence in corpus order (min (doc_id, position)); later copies
    are dropped and the survivors reassemble in original order. This
    is the C4/RefinedWeb-style exact-duplicate removal that preserves
    one canonical copy — the complement of ``remove_boilerplate``,
    which drops EVERY copy of a frequent unit including the first.

    Scale shape: the per-unit winner is a ``min(struct(doc_id, pos))``
    AGGREGATION (map-side combinable — a unit repeated in millions of
    docs still partial-aggregates before the shuffle, no hot-key
    window), then one equi-join back on the unit to flag survivors;
    the winner side is one row per distinct unit, so AQE's skew-join
    split handles pathological hot units on the probe side. Reassembly
    is the same per-doc sort-by-position aggregation as
    ``remove_boilerplate``. Whitespace-only units are ignored on both
    the dedup and reassembly paths.
    """
    pieces = docs.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), split_re)).alias(
            "_idx", "piece"
        ),
    ).filter(F.trim("piece") != "").localCheckpoint(eager=False)
    winners = pieces.groupBy("piece").agg(
        F.min(
            F.struct(F.col(id_col).alias("d"), F.col("_idx").alias("i"))
        ).alias("_w")
    )
    flagged = pieces.join(winners, "piece").withColumn(
        "_keep",
        (F.col(id_col) == F.col("_w.d")) & (F.col("_idx") == F.col("_w.i")),
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("_idx", "piece"))
                    )
                ),
                lambda s: s["piece"],
            ),
            join_sep,
        ).alias("clean_text"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0)).cast("long").alias(
            "n_kept"
        ),
        F.sum(F.when(F.col("_keep"), 0).otherwise(1)).cast("long").alias(
            "n_dropped"
        ),
    )
