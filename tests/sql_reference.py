"""All-expression Spark SQL reference plans for the curation kernels.

The package runs ONE physical implementation per operator: Arrow/NumPy
map kernels (functions/argmin_kernel.py, the ``_make_*_fn`` kernels and
``_pair_jaccard_verify`` in operators/similarity.py). Each function here
rebuilds the same operator as a plain Catalyst expression plan from the
package's column helpers (``_fx_sq_dist``, ``round_half_up``,
``avg_fixed_point``, ``jaccard_cols``, ``cosine_similarity_col``), so
tests/test_assign_kernel_parity.py compares two independent physical
plans row for row. Functions carry the package names and signatures of
the operators they mirror.

The SQL semantics are kept bit for bit: k lowest-id init, exact int64
fixed-point distances, ``min(struct(dist_fx, cluster))`` argmin (ties to
the lower cluster id), half-up rounded fixed-point centroid means,
``split(" ")`` tokenization with empty tokens kept, explode-over-empty
(documents with fewer than n tokens emit no signature row). Plan-shape
devices of the engine (fan-out repartitions, lazy checkpoints, the
single-group TakeOrdered init) are left out: they change cost, not rows.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import etl_pipeline_challenge_aladia_spark.operators.similarity as sim
from etl_pipeline_challenge_aladia_spark.functions.rounding import (
    avg_fixed_point,
    round_half_up,
)
from etl_pipeline_challenge_aladia_spark.functions.vectors import (
    cosine_similarity_col,
    dot_col,
    l2_normalize_col,
    to_double_array,
)
from etl_pipeline_challenge_aladia_spark.operators.text import (
    shingles_col,
    tokens_col,
)

_FX_SCALE = 100000000.0  # fixed-point distance quanta (1e-8)

# ---------------------------------------------------------------------------
# MinHash signatures and exact-Jaccard verification
# ---------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Shingle explode + one ``num_perm``-column min aggregate."""
    params = sim._perm_params(num_perm, seed)
    exploded = docs.select(
        F.col(id_col).alias("id"),
        F.explode(shingles_col(tokens_col(text_col), n)).alias("sh"),
    ).withColumn("h", sim.shingle_hash_col(F.col("sh")))
    mins = exploded.groupBy("id").agg(
        *[
            F.min(
                (F.col("h") * F.lit(a) + F.lit(b)) % F.lit(sim._MERSENNE)
            ).alias(f"m{j}")
            for j, (a, b) in enumerate(params)
        ]
    )
    return mins.select(
        "id",
        F.array(*[F.col(f"m{j}") for j in range(num_perm)]).alias("signature"),
    )


def _verified(joined: DataFrame, id_a: str, id_b: str, sh_a, sh_b,
              threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard >= threshold) with the half-up rounded
    distinct-set Jaccard of two shingle-array columns."""
    return joined.select(
        id_a, id_b, round_half_up(sim.jaccard_cols(sh_a, sh_b), 4).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _text_shingles(col: str, n: int):
    return shingles_col(tokens_col(col), n)


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    band_rows = sim._band_rows(
        minhash_signatures(docs, id_col, text_col, n, num_perm, seed),
        num_perm,
        bands,
    )
    left, right = band_rows.alias("x"), band_rows.alias("y")
    candidates = (
        left.join(
            right,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("doc_id_a"), F.col("y.id").alias("doc_id_b"))
        .distinct()
    )
    txt = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    joined = candidates.join(
        txt.withColumnsRenamed({"id": "doc_id_a", "t": "t_a"}), "doc_id_a"
    ).join(txt.withColumnsRenamed({"id": "doc_id_b", "t": "t_b"}), "doc_id_b")
    return _verified(
        joined, "doc_id_a", "doc_id_b",
        _text_shingles("t_a", n), _text_shingles("t_b", n), threshold,
    )


def doc_signature_store(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    band_rows = sim._band_rows(
        minhash_signatures(docs, id_col, text_col, n, num_perm, seed),
        num_perm,
        bands,
    )
    shingle_sets = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(_text_shingles(text_col, n)).alias("shingles"),
    )
    return band_rows, shingle_sets


def minhash_pairs_from_store(
    store_bands: DataFrame,
    store_shingles: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    delta_bands = sim._band_rows(
        minhash_signatures(delta, id_col, text_col, n, num_perm, seed),
        num_perm,
        bands,
    ).alias("y")
    cb = store_bands.alias("x")
    candidates = (
        delta_bands.join(
            cb,
            (F.col("y.band") == F.col("x.band"))
            & (F.col("y.band_hash") == F.col("x.band_hash")),
        )
        .select(F.col("y.id").alias("delta_id"), F.col("x.id").alias("corpus_id"))
        .distinct()
    )
    t_d = delta.select(F.col(id_col).alias("delta_id"), F.col(text_col).alias("t_d"))
    sh_c = store_shingles.select(
        F.col("id").alias("corpus_id"), F.col("shingles").alias("sh_c")
    )
    joined = candidates.join(t_d, "delta_id").join(sh_c, "corpus_id")
    return _verified(
        joined, "delta_id", "corpus_id",
        _text_shingles("t_d", n), F.col("sh_c"), threshold,
    )


# ---------------------------------------------------------------------------
# Fixed-point k-means: broadcast-join + aggregate argmin, flat and two-level
# ---------------------------------------------------------------------------


def _argmin(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """(grp, id, v) x (grp, cluster, c) -> (grp, id, v, cluster, dist_fx):
    ``min(struct(dist_fx, cluster))`` is lexicographic — minimum exact
    distance, ties to the lower cluster index. ``any_value(v)`` is
    deterministic: every candidate row of an id carries the same vector."""
    return (
        vecs.join(F.broadcast(centroids), "grp")
        .select(
            "grp", "id", "v", "cluster",
            sim._fx_sq_dist(F.col("v"), F.col("c")).alias("dist_fx"),
        )
        .groupBy("grp", "id")
        .agg(
            F.min(F.struct("dist_fx", "cluster")).alias("_m"),
            F.any_value("v").alias("v"),
        )
        .select(
            "grp",
            "id",
            "v",
            F.col("_m.cluster").alias("cluster"),
            F.col("_m.dist_fx").alias("dist_fx"),
        )
    )


def _argmin_hier(
    vecs: DataFrame, centroids: DataFrame, k2: int, inner_iters: int = 2,
    scale: int = 6,
) -> DataFrame:
    """Two-level routed argmin: an inner k-means clusters the centroid
    table into ``k2`` super-cells; each vector routes to its nearest
    NON-EMPTY super-cell, then takes the exact argmin over that
    super-cell's member centroids."""
    cvecs = centroids.select("grp", F.col("cluster").alias("id"), F.col("c").alias("v"))
    member, supercents = _kmeans_rounds(cvecs, k2, inner_iters, scale, True)
    member_map = member.select(
        F.col("id").alias("cluster"), F.col("cluster").alias("supercell")
    ).localCheckpoint(eager=True)
    nonempty = (
        supercents.select(
            "grp", F.col("cluster").alias("supercell"), F.col("c").alias("sc")
        )
        .join(member_map.select("supercell").distinct(), "supercell")
        .select("grp", F.col("supercell").alias("cluster"), F.col("sc").alias("c"))
    )
    routed = _argmin(vecs, nonempty).select(
        "grp", "id", "v", F.col("cluster").alias("supercell")
    )
    cmem = centroids.join(member_map, "cluster").select(
        "grp", "supercell", "cluster", "c"
    )
    return (
        routed.join(F.broadcast(cmem), ["grp", "supercell"])
        .select(
            "grp", "id", "v", "cluster",
            sim._fx_sq_dist(F.col("v"), F.col("c")).alias("dist_fx"),
        )
        .groupBy("grp", "id")
        .agg(
            F.min(F.struct("dist_fx", "cluster")).alias("_m"),
            F.any_value("v").alias("v"),
        )
        .select(
            "grp",
            "id",
            "v",
            F.col("_m.cluster").alias("cluster"),
            F.col("_m.dist_fx").alias("dist_fx"),
        )
    )


def _kmeans_rounds(
    vecs: DataFrame, k: int, iters: int, scale: int,
    single_group: bool = False, route: str = "flat",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's loop -> (final assignment (grp, id, v, cluster, dist_fx),
    the centroid table (grp, cluster, c) that assignment used)."""
    if route == "hier" and not single_group:
        raise ValueError("hier routing is single-group only")
    w_init = Window.partitionBy("grp").orderBy("id")
    centroids = (
        vecs.withColumn("_rn", F.row_number().over(w_init))
        .filter(F.col("_rn") <= k)
        .select("grp", F.col("_rn").cast("int").alias("cluster"), F.col("v").alias("c"))
        .localCheckpoint(eager=True)
    )
    k2 = int(math.ceil(math.sqrt(k)))
    assigned = None
    for r in range(iters):
        if route == "hier":
            assigned = _argmin_hier(vecs, centroids, k2, scale=scale)
        else:
            assigned = _argmin(vecs, centroids)
        if r < iters - 1:
            centroids = (
                assigned.select("grp", "cluster", F.posexplode("v").alias("dim", "val"))
                .groupBy("grp", "cluster", "dim")
                .agg(round_half_up(avg_fixed_point(F.col("val")), scale).alias("cv"))
                .groupBy("grp", "cluster")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                        lambda x: x["cv"],
                    ).alias("c")
                )
                .localCheckpoint(eager=True)
            )
    return assigned, centroids


def _single_group(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return embeddings.select(
        F.lit(0).alias("grp"),
        F.col(id_col).alias("id"),
        to_double_array(vec_col).alias("v"),
    )


def _with_dist(assigned: DataFrame, *cols: str) -> DataFrame:
    return assigned.select(
        *cols,
        "cluster",
        "dist_fx",
        (F.col("dist_fx").cast("double") / F.lit(_FX_SCALE)).alias("dist"),
    )


def kmeans_lite(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
    route: str = "flat",
) -> DataFrame:
    assigned, _ = _kmeans_rounds(
        _single_group(embeddings, id_col, vec_col), k, iters, scale, True, route
    )
    return _with_dist(assigned, "id")


def kmeans_with_centroids(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
    route: str = "flat",
) -> tuple[DataFrame, DataFrame]:
    assigned, centroids = _kmeans_rounds(
        _single_group(embeddings, id_col, vec_col), k, iters, scale, True, route
    )
    return _with_dist(assigned, "id"), centroids.select("cluster", "c")


def assign_to_centroids(
    vecs: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    assigned = _argmin(
        _single_group(vecs, id_col, vec_col),
        centroids.select(F.lit(0).alias("grp"), "cluster", "c"),
    )
    return _with_dist(assigned, "id")


def pq_model(
    embeddings: DataFrame,
    blocks: int = 4,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Per-block codebooks trained as one grouped k-means (grp = block)."""
    dim = len(embeddings.select(to_double_array(vec_col).alias("v")).first()["v"])
    sub_len = dim // blocks
    slices = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("block"),
                F.slice(to_double_array(vec_col), b * sub_len + 1, sub_len).alias("sub"),
            )
            for b in range(blocks)
        ]
    )
    subs = embeddings.select(
        F.col(id_col).alias("id"), F.explode(slices).alias("s")
    ).select(F.col("s.block").alias("grp"), "id", F.col("s.sub").alias("v"))
    assigned, _ = _kmeans_rounds(subs, k, iters, 6)
    a = assigned.localCheckpoint(eager=True)
    codes = a.select(
        "id",
        F.col("grp").alias("block"),
        F.col("cluster").cast("long").alias("code"),
        "dist_fx",
    )
    books = (
        a.select("grp", "cluster", F.posexplode("v").alias("dim", "val"))
        .groupBy("grp", "cluster", "dim")
        .agg(round_half_up(avg_fixed_point(F.col("val")), 6).alias("cv"))
        .groupBy("grp", "cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cv"))),
                lambda x: x["cv"],
            ).alias("centroid")
        )
        .select(
            F.col("grp").alias("block"),
            F.col("cluster").cast("long").alias("code"),
            "centroid",
        )
    )
    return codes, books


# ---------------------------------------------------------------------------
# Semantic dedup / screening: self-join + prefilter + canonical cosine
# ---------------------------------------------------------------------------


def _auto_k_route(frame: DataFrame, k, iters, route, route_threshold):
    """The package's auto-k / auto-route pricing from one count."""
    if k is None or route == "auto":
        n = frame.count()
        if k is None:
            k = max(32, min(max(n, 1), sim.auto_semantic_k(n, iters)))
        route = sim.resolve_semantic_route(
            route, n, route_threshold, spark=frame.sparkSession
        )
    return k, route


def _prefiltered_cosine(threshold: float, nv_a, nv_b, v_a, v_b):
    """(prefilter, rounded cosine): the pre-normalized dot product with a
    0.01 margin below the threshold is a superset filter — only pairs
    it passes get the exact canonical cosine (half-up to 4)."""
    return (
        dot_col(nv_a, nv_b) >= F.lit(threshold - 0.01),
        round_half_up(cosine_similarity_col(v_a, v_b), 4),
    )


def semantic_dedup(
    embeddings: DataFrame,
    k: int | None = None,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    route: str = "auto",
    route_threshold: int | None = None,
) -> DataFrame:
    k, route = _auto_k_route(embeddings, k, iters, route, route_threshold)
    cells = kmeans_lite(
        embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col, route=route
    )
    v = embeddings.select(
        F.col(id_col).alias("id"),
        to_double_array(vec_col).alias("v"),
        l2_normalize_col(to_double_array(vec_col)).alias("nv"),
    )
    m = cells.select("id", "cluster").join(v, "id")
    a, b = m.alias("a"), m.alias("b")
    prefilter, cos4 = _prefiltered_cosine(
        threshold, F.col("a.nv"), F.col("b.nv"), F.col("a.v"), F.col("b.v")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.id") < F.col("b.id"))
            & prefilter,
        )
        .select(
            F.col("a.id").alias("keep_id"),
            F.col("b.id").alias("dup_id"),
            cos4.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
    )
    return pairs.groupBy(F.col("dup_id").alias("vec_id")).agg(
        F.min("keep_id").alias("canonical_id"),
        F.max("cos_sim").alias("max_cos"),
    )


def semantic_dedup_screen(
    corpus_cells: DataFrame,
    delta: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    routed = assign_to_centroids(
        delta, centroids, id_col=id_col, vec_col=vec_col
    ).select("id", F.col("cluster").alias(cell_col))
    d = routed.join(
        delta.select(
            F.col(id_col).alias("id"),
            to_double_array(vec_col).alias("v"),
            l2_normalize_col(to_double_array(vec_col)).alias("nv"),
        ),
        "id",
    )
    m = corpus_cells.select(
        F.col(id_col).alias("cid"),
        F.col(cell_col).alias(cell_col),
        to_double_array(vec_col).alias("cv"),
        l2_normalize_col(to_double_array(vec_col)).alias("cnv"),
    )
    prefilter, cos4 = _prefiltered_cosine(
        threshold, F.col("nv"), F.col("cnv"), F.col("v"), F.col("cv")
    )
    pairs = (
        d.join(m, [cell_col])
        .filter(prefilter)
        .select(
            F.col("id").alias("dup_id"),
            F.col("cid").alias("keep_id"),
            cos4.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
    )
    return pairs.groupBy(F.col("dup_id").alias(id_col)).agg(
        F.min("keep_id").alias("canonical_id"),
        F.max("cos_sim").alias("max_cos"),
    )


def semantic_dedup_incremental(
    corpus: DataFrame,
    delta: DataFrame,
    k: int | None = None,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    route: str = "flat",
    route_threshold: int | None = None,
) -> DataFrame:
    k, route = _auto_k_route(corpus, k, iters, route, route_threshold)
    assigned, centroids = kmeans_with_centroids(
        corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col, route=route
    )
    corpus_cells = assigned.select(
        F.col("id").alias(id_col), F.col("cluster").alias("cell")
    ).join(corpus.select(F.col(id_col), F.col(vec_col)), id_col)
    return semantic_dedup_screen(
        corpus_cells, delta, centroids,
        threshold=threshold, id_col=id_col, vec_col=vec_col,
    )


def semantic_decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    k: int | None = None,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    route: str = "auto",
    route_threshold: int | None = None,
) -> DataFrame:
    out = semantic_dedup_incremental(
        eval_set, train, k=k, iters=iters, threshold=threshold,
        id_col=id_col, vec_col=vec_col, route=route,
        route_threshold=route_threshold,
    )
    return out.select(
        F.col(id_col),
        F.col("canonical_id").alias("matched_eval_id"),
        F.col("max_cos").alias("cosine"),
    )


# ---------------------------------------------------------------------------
# Mutual kNN on the k-means IVF cells: crossJoin + probe rank window
# ---------------------------------------------------------------------------


def mutual_knn_ivf(
    embeddings: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    threshold: float = 0.30,
    cell_col: None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_cap: int = 2048,
    iters: int = 3,
    route: str = "auto",
) -> DataFrame:
    """The auto-k k-means cell route (``cell_col=None``) only: members
    carry their assignment cell, probers the ``nprobe`` nearest cells by
    the exact fixed-point distance (fx asc, cell-id tie-break — flat over
    ALL cells even under hier assignment). The scoring/mutuality tail is
    the package's shared ``_mutual_from_tagged``."""
    if cell_col is not None:
        raise ValueError("the reference covers the k-means cell route only")
    n = embeddings.count()
    kq = max(32, min(max(n, 1), sim.auto_semantic_k(n, iters)))
    route = sim.resolve_semantic_route(route, n, spark=embeddings.sparkSession)
    raw = embeddings.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    )
    assigned, km_cents = kmeans_with_centroids(
        embeddings, k=kq, iters=iters, id_col=id_col, vec_col=vec_col,
        route=route,
    )
    members = raw.join(
        assigned.select("id", F.col("cluster").alias("cell")), "id"
    )
    probe_w = Window.partitionBy("id").orderBy("fx", F.col("cell"))
    probes = (
        raw.crossJoin(
            F.broadcast(km_cents.select(F.col("cluster").alias("cell"), "c"))
        )
        .select("id", "v", "cell", sim._fx_sq_dist(F.col("v"), F.col("c")).alias("fx"))
        .withColumn("pr", F.row_number().over(probe_w))
        .filter(F.col("pr") <= nprobe)
    )
    tagged = probes.select("id", "v", "cell", F.lit(0).alias("role")).unionByName(
        members.select("id", "v", "cell", F.lit(1).alias("role"))
    )
    return sim._mutual_from_tagged(tagged, k, threshold, block_cap)
