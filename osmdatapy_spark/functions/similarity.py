"""Similarity search over embedding columns (north-star scope).

Baseline: brute-force cosine top-k — probe set joined against the
corpus, dot products as `zip_with` + `aggregate` folds (JVM-side,
sequential fold order ⇒ deterministic doubles).  Scale path: LSH bucketing
(random-hyperplane signs → band join, reusing dedup.lsh machinery) or IVF
(k-means coarse quantizer as a groupBy assignment, probe only nearest
cells).  At 100 TB the corpus side stays partitioned; only probes move —
probe joins are UNHINTED (probes derive from the sf-scaling embeddings
table), so AQE broadcasts small probe batches at runtime and degrades to
a shuffle join when they grow, instead of a forced hint OOMing the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from osmdatapy_spark import memo


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product: float×float products are exactly
    representable in double, and the left-to-right fold fixes the summation
    order — the oracle's list_sum walks the same order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """NULL for zero-norm vectors (empty/degenerate embeddings) instead of
    an ANSI DIVIDE_BY_ZERO that would kill the whole job — NULL cosines
    rank last / fail thresholds, which is the semantics a curator wants."""
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    decimals: int = 4,
) -> DataFrame:
    """Exact top-k neighbors per probe by cosine.

    Ranking uses the ROUNDED cosine plus the neighbor id as tiebreaker so
    the order is total and engine-portable.  The probe side joins
    UNHINTED: probes derive from the embeddings table, so they scale with
    the corpus — a forced ``broadcast()`` would OOM the driver at the
    100 TB design point, whereas AQE's runtime size check broadcasts small
    probe batches and degrades gracefully otherwise (batch probes together
    at scale)."""
    c = corpus.select(col(id_col).alias("nbr_id"), as_double(col(vec_col)).alias("cvec"))
    p = probes.select(col(id_col).alias("probe_id"), as_double(col(vec_col)).alias("pvec"))
    scored = c.join(p, col("probe_id") != col("nbr_id")).select(
        "probe_id",
        "nbr_id",
        F.round(cosine(col("pvec"), col("cvec")), decimals).alias("cos"),
    )
    w = Window.partitionBy("probe_id").orderBy(col("cos").desc(), col("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= k)
        .select("probe_id", "nbr_id", "cos", "rank")
    )


def sign_grid_cell(vec: Column, n_dims: int = 4) -> Column:
    """Coarse-quantizer cell id from the sign pattern of the first
    ``n_dims`` components — the IVF idea with a data-independent
    quantizer, fully portable across engines.  2^n_dims cells; probes
    search only their own cell (optionally neighbors for recall)."""
    cell = lit(0)
    for i in range(n_dims):
        cell = cell + F.when(F.element_at(vec, i + 1) > 0, lit(1 << i)).otherwise(lit(0))
    return cell.cast("int")


def grid_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_dims: int = 4,
    decimals: int = 4,
) -> DataFrame:
    """ANN top-k restricted to the probe's grid cell: the scale path next
    to ``brute_force_topk``.  The corpus is scanned once and shuffled by
    cell (16 buckets here; a production IVF uses k-means cells);
    candidate scoring touches ~1/cells of the corpus per probe.  The
    cell join is unhinted — probes scale with the corpus, so AQE decides
    between broadcast and shuffle at runtime."""
    c = corpus.select(
        col(id_col).alias("nbr_id"),
        as_double(col(vec_col)).alias("cvec"),
        sign_grid_cell(col(vec_col), n_dims).alias("cell"),
    )
    p = probes.select(
        col(id_col).alias("probe_id"),
        as_double(col(vec_col)).alias("pvec"),
        sign_grid_cell(col(vec_col), n_dims).alias("cell"),
    )
    scored = c.join(p, "cell").filter(col("probe_id") != col("nbr_id")).select(
        "probe_id",
        "nbr_id",
        F.round(cosine(col("pvec"), col("cvec")), decimals).alias("cos"),
    )
    w = Window.partitionBy("probe_id").orderBy(col("cos").desc(), col("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= k)
        .select("probe_id", "nbr_id", "cos", "rank")
    )


# ---------------------------------------------------------------------------
# Literal-centroid expressions: SQL-parsed + memoized plan construction
# ---------------------------------------------------------------------------
# Built as Column algebra, the literal-centroid arithmetic (cell
# assignment, the PQ distance table, the LSH plane projections) would
# cost ~65 py4j round trips PER literal vector (one lit() per component)
# — measured ~1-1.3 s of pure DRIVER time per ivfpq_topk construction,
# ~35% of its bench wall at sf0.1 (the §I pbf_query finding, same cause).
# The builders below emit the expression (zip_with/aggregate HOF tree,
# left-to-right fold, fixed rounding) as ONE SQL string: a single parse
# call replaces thousands of round trips.  A fully-UNROLLED arithmetic variant was ALSO tried and
# measured 8x SLOWER in execution (0.25 s → 1.95 s for the ivfpq corpus
# projection at sf0.1 — per-stage codegen of ~500-term trees dominates at
# bench scale), so the HOF execution shape is deliberately kept.
#
# ``memo.expr`` additionally memoizes the parsed Column per (py4j
# gateway, SQL text) — the literals are IN the key, so a retrained
# quantizer never reuses a stale expression.  This caches an EXPRESSION,
# not data: every run still computes from its inputs.


def as_double_sql(vec_col: str) -> str:
    """SQL form of ``as_double(col(vec_col))``."""
    return f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"


def _sql_lit_vec(comps: list[float]) -> str:
    # memo.dlit raises on a non-finite component: 'nan'/'inf' would become
    # NULL distances and silently change cell assignment (a degenerate
    # quantizer)
    return "array(%s)" % ", ".join(memo.dlit(c) for c in comps)


def _l2_sq_sql(vec_sql: str, centroid: list[float], decimals: int = 6) -> str:
    """Rounded squared L2 distance to a literal centroid — `zip_with` +
    sequential fold, same deterministic order as ``dot`` (the oracle's
    list_sum walks lists left-to-right too)."""
    return (
        f"round(aggregate(zip_with({vec_sql}, {_sql_lit_vec(centroid)}, "
        f"(x, c) -> (x - c) * (x - c)), CAST(0.0 AS DOUBLE), "
        f"(acc, x) -> acc + x), {decimals})"
    )


def _cell_structs_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    return ", ".join(
        f"named_struct('dist', {_l2_sq_sql(vec_sql, c)}, 'cell', {k})"
        for k, c in enumerate(centroids)
    )


def nearest_cell_sql(vec_sql: str, centroids: list[list[float]]) -> str:
    """Cell assignment as a PURE PROJECTION (no shuffle, no join): the
    centroid table is tiny (k×dim doubles) and rides into the plan as
    literals.  array_min over (dist, cell) structs — struct comparison is
    lexicographic, so ties on the rounded distance break by cell id."""
    return f"array_min(array({_cell_structs_sql(vec_sql, centroids)})).cell"


def probe_cells_sql(vec_sql: str, centroids: list[list[float]], n_probe: int) -> str:
    """The ``n_probe`` nearest cells: (dist, cell) structs sorted
    ascending, projected to cell ids, sliced."""
    return (
        f"slice(transform(array_sort(array({_cell_structs_sql(vec_sql, centroids)})), "
        f"s -> s.cell), 1, {n_probe})"
    )


def _slice_sql(vec_sql: str, start1: int, length: int) -> str:
    return f"slice({vec_sql}, {start1}, {length})"


def pq_codes_sql(vec_sql: str, codebooks: list[list[list[float]]], dim: int) -> str:
    """ARRAY<INT> of per-subspace centroid codes — the compressed
    representation that replaces the vector at scan time (``m_sub`` small
    ints instead of ``dim`` floats: a 64-float embedding compresses 64×
    at m=4/k=4).  Pure projection against literal codebooks: encoding
    never shuffles."""
    m_sub = len(codebooks)
    sub = dim // m_sub
    cells = ", ".join(
        nearest_cell_sql(_slice_sql(vec_sql, m * sub + 1, sub), codebooks[m])
        for m in range(m_sub)
    )
    return f"array({cells})"


def pq_dtab_sql(vec_sql: str, codebooks: list[list[list[float]]], dim: int) -> str:
    """The probe-side ADC distance table (m_sub × k_cells)."""
    m_sub = len(codebooks)
    sub = dim // m_sub
    rows = []
    for m in range(m_sub):
        row = ", ".join(
            _l2_sq_sql(_slice_sql(vec_sql, m * sub + 1, sub), cell)
            for cell in codebooks[m]
        )
        rows.append(f"array({row})")
    return "array(%s)" % ", ".join(rows)


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 1,
) -> list[list[float]]:
    """Deterministic seeded k-means coarse quantizer (Lloyd iterations).

    Engine-portable by construction, so a DuckDB oracle can replay it
    bit-for-bit:
    - seeding: the vectors of the ``k`` smallest ids (no RNG state);
    - assignment: rounded squared-L2 + cell-id tiebreak (total order);
    - update: per-component mean via DECIMAL(18,6) sums — exact, hence
      order-independent across partitions/engines — cast to double and
      divided by the exact count; empty cells keep their previous
      centroid.

    Scale shape: assignment is a projection against literal centroids
    (zero shuffle); the update is one partially-aggregated exchange of
    k×dim groups.  The returned list is driver-resident — k×dim doubles,
    the same footprint as ``md5_planes``.  A production deployment seeds
    with k-means++ samples instead of low ids; the join/partition shape
    is identical."""
    v = corpus.select(col(id_col).alias("_id"), as_double(col(vec_col)).alias("v"))
    # the training projection is read once per Lloyd job (seed + every
    # update); persist it for the loop so iterations re-scan memory, not
    # the source (at planet scale you'd ALSO train on a deterministic
    # hash-sample — the join shape downstream is unchanged)
    v = v.persist()
    seed_rows = v.orderBy("_id").limit(k).collect()
    centroids = [list(r["v"]) for r in seed_rows]
    # a corpus smaller than k seeds fewer cells — shrink k to what exists
    # (a degraded-but-working quantizer) instead of indexing past the
    # seed list in the update below
    k = len(centroids)
    if k == 0:
        return []
    for _ in range(iters):
        comps = (
            # literal-centroid assignment via memoized SQL parse (the
            # literals are in the memo key, so each Lloyd iteration's
            # fresh centroids parse fresh)
            v.withColumn("cell", memo.expr(nearest_cell_sql("`v`", centroids)))
            .select("cell", F.posexplode("v").alias("idx", "val"))
            .groupBy("cell", "idx")
            .agg(
                (
                    F.sum(col("val").cast("decimal(18,6)")).cast("double") / F.count("*")
                ).alias("cval")
            )
        )
        rows = comps.collect()
        means: dict[int, dict[int, float]] = {}
        for r in rows:
            means.setdefault(r["cell"], {})[r["idx"]] = r["cval"]
        centroids = [
            [means[i][j] for j in range(len(centroids[i]))] if i in means else centroids[i]
            for i in range(k)
        ]
    v.unpersist()
    return centroids


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_cells: int = 8,
    n_probe: int = 2,
    iters: int = 1,
    decimals: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """ANN top-k with a k-means IVF coarse quantizer: each probe scores
    candidates only in its ``n_probe`` nearest cells — same cell-join and
    ranking discipline as ``grid_topk``, but the cells adapt to the data
    instead of a fixed sign grid.

    Scale shape: the corpus is scanned once, learns its cell via a
    literal-centroid projection, and shuffles once by cell; probes (with
    their ``n_probe`` cell keys exploded) join unhinted — AQE broadcasts
    them while small.  Raising ``n_probe`` trades work for recall, the
    standard IVF dial.

    Pass ``centroids`` (from ``kmeans_centroids``, usually via
    ``artifacts.train_once``) to SERVE against a pre-trained quantizer —
    the production split: training runs once, every query after is pure
    scan + one cell shuffle.  Training here is deterministic, so the
    result is identical either way."""
    if centroids is None:
        centroids = kmeans_centroids(corpus, id_col, vec_col, k=n_cells, iters=iters)
    # literal-centroid expressions via memoized SQL parse (see builders) —
    # identical trees, py4j construction cost removed
    vs = as_double_sql(vec_col)
    c = corpus.select(
        col(id_col).alias("nbr_id"),
        as_double(col(vec_col)).alias("cvec"),
        memo.expr(nearest_cell_sql(vs, centroids)).alias("cell"),
    )
    p = probes.select(
        col(id_col).alias("probe_id"),
        as_double(col(vec_col)).alias("pvec"),
        F.explode(memo.expr(probe_cells_sql(vs, centroids, n_probe))).alias("cell"),
    )
    scored = (
        c.join(p, "cell")
        .filter(col("probe_id") != col("nbr_id"))
        .select(
            "probe_id",
            "nbr_id",
            F.round(cosine(col("pvec"), col("cvec")), decimals).alias("cos"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(col("cos").desc(), col("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= k)
        .select("probe_id", "nbr_id", "cos", "rank")
    )


def md5_planes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane components in [-1, 1), derived
    from md5 so BOTH engines (Spark and the DuckDB oracle) can embed the
    exact same decimal literals — no RNG state ships anywhere.  A production
    deployment swaps these for Gaussian planes without changing any join
    shape."""
    import hashlib

    planes: list[list[float]] = []
    for p in range(n_planes):
        comps = []
        for j in range(dim):
            h = hashlib.md5(f"{seed}|{p}|{j}".encode()).hexdigest()
            comps.append((int(h[:8], 16) % 2000) / 1000.0 - 1.0)
        planes.append(comps)
    return planes


def plane_band_buckets(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
    planes_per_band: int,
) -> DataFrame:
    """(id, band, bucket) rows: bucket = sign pattern of the band's plane
    projections.  One narrow projection + explode — the vector itself never
    leaves the row, so the only thing that shuffles downstream is
    (band, bucket, id)."""
    # literal-plane projections via memoized SQL parse (see builders):
    # same zip_with/aggregate dot fold, same sign test, one parse per band
    # instead of ~65 py4j round trips per plane
    vs = as_double_sql(vec_col)
    n_bands = len(planes) // planes_per_band
    bands = []
    for b in range(n_bands):
        bucket_sql = "0"
        for k in range(planes_per_band):
            plane = planes[b * planes_per_band + k]
            proj = (
                f"aggregate(zip_with({vs}, {_sql_lit_vec(plane)}, "
                f"(x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            )
            bucket_sql = (
                f"({bucket_sql} + (CASE WHEN {proj} >= 0 THEN {1 << k} ELSE 0 END))"
            )
        bands.append(
            F.struct(
                lit(b).alias("band"), memo.expr(bucket_sql).cast("int").alias("bucket")
            )
        )
    return vectors.select(col(id_col), F.explode(F.array(*bands)).alias("bb")).select(
        col(id_col), col("bb.band").alias("band"), col("bb.bucket").alias("bucket")
    )


def embed_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int = 8,
    planes_per_band: int = 4,
    seed: int = 42,
    decimals: int = 4,
    max_bucket: int = 200,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: random-hyperplane LSH blocking
    (bands of sign bits) generates candidates, exact cosine verifies them.
    The corpus is never self-joined at large: candidates come from
    groupBy(band, bucket) + in-bucket array combinatorics — oversized
    buckets are chunk-split (overlapping windows of ``max_bucket``, see
    dedup._bucket_pairs) so a mega-cluster of near-identical vectors
    expands in O(n·max_bucket) pairs and still chains into one connected
    component instead of being silently dropped — then exactly two lookups
    of the vectors for the surviving pairs.  Recall is the standard LSH
    trade-off — a pair is a candidate iff it agrees on ALL sign bits of at
    least one band; more bands / fewer planes per band raise recall.

    Reference has no similarity ops (SURVEY.md §2.11) — north-star scope."""
    from osmdatapy_spark.functions.dedup import _bucket_pairs

    planes = md5_planes(n_planes, dim or _vec_dim(corpus, vec_col), seed)
    bucketed = plane_band_buckets(corpus, id_col, vec_col, planes, planes_per_band)
    buckets = (
        bucketed.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    # sign buckets are structurally low-cardinality (bands x 2^bits), so
    # redistribute chunk windows before the quadratic expansion+verify
    cand = _bucket_pairs(buckets, max_bucket=max_bucket, spread=True).distinct()
    # shuffle_hash hint on the vector lookups: NEITHER side of the verify
    # join is ever small at corpus scale (candidates and vectors both grow
    # with the corpus), and locally the broadcast builds Catalyst's size
    # estimates would pick serialize the whole verify on one thread
    # (measured 2x: 3.4s broadcast vs 1.7s shuffled at sf0.01)
    vecs = corpus.select(col(id_col), as_double(col(vec_col)).alias("v"))
    return (
        cand.join(vecs.select(col(id_col).alias("id_a"), col("v").alias("va")).hint("shuffle_hash"), "id_a")
        .join(vecs.select(col(id_col).alias("id_b"), col("v").alias("vb")).hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(col("va"), col("vb")), decimals).alias("cos"),
        )
        .filter(col("cos") >= threshold)
    )


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the schema-declared element count of
    the first row (driver-side, one tiny job).  At scale the dim is a known
    table property; this probe keeps the API self-contained."""
    row = df.select(F.size(col(vec_col)).alias("d")).first()
    return int(row["d"])


def ivfpq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_cells: int = 8,
    n_probe: int = 2,
    m_sub: int = 4,
    k_cells: int = 4,
    rerank: int = 10,
    iters: int = 1,
    decimals: int = 4,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ composite ANN — the production FAISS index shape (IVF coarse
    quantizer for candidate PRUNING × product quantization for candidate
    MEMORY): each probe searches only its ``n_probe`` nearest k-means
    cells, scores the cells' members by PQ asymmetric distance over the
    compressed codes, and re-ranks the best ``rerank`` survivors by exact
    cosine against the full vectors.

    Scale story: stage 1 touches ``(cell, codes)`` only — one scan of the
    corpus projecting against literal centroids+codebooks (zero-shuffle
    assignment/encode), one shuffle by cell; of the corpus, only the
    probed cells' code rows meet the probes (~n_probe/n_cells of it),
    and only ``rerank × probes`` full vectors are ever fetched.  Codes
    are encoded on the RAW vectors (IVFFlat-style), not FAISS's
    residual-vs-centroid refinement — a documented simplification that
    changes accuracy, not the join/partition shape.

    Pass ``centroids``/``codebooks`` (via ``artifacts.train_once``) to
    serve against pre-trained quantizers; training is deterministic so
    the result is identical either way."""
    if centroids is None:
        centroids = kmeans_centroids(corpus, id_col, vec_col, k=n_cells, iters=iters)
    if codebooks is None:
        codebooks = pq_codebooks(corpus, dim, id_col, vec_col, m_sub, k_cells, iters)
    v = as_double(col(vec_col))
    # the literal-centroid expressions (cell assignment, PQ encode, probe
    # distance table, probe-cell ranking) build via ONE memoized SQL parse
    # each instead of thousands of py4j lit() round trips — identical
    # expression trees, ~1 s of driver time removed per construction (see
    # the builder block above)
    vs = as_double_sql(vec_col)
    c = corpus.select(
        col(id_col).alias("nbr_id"),
        memo.expr(nearest_cell_sql(vs, centroids)).alias("cell"),
        memo.expr(pq_codes_sql(vs, codebooks, dim)).alias("codes"),
    )
    p = probes.select(
        col(id_col).alias("probe_id"),
        memo.expr(pq_dtab_sql(vs, codebooks, dim)).alias("dtab"),
        F.explode(memo.expr(probe_cells_sql(vs, centroids, n_probe))).alias("cell"),
    )
    adist = F.aggregate(
        F.sequence(lit(0), lit(m_sub - 1)),
        lit(0).cast("decimal(18,6)"),
        lambda acc, m: (
            acc
            + F.element_at(
                F.element_at(col("dtab"), m + 1), F.element_at(col("codes"), m + 1) + 1
            ).cast("decimal(18,6)")
        ).cast("decimal(18,6)"),
        lambda acc: acc.cast("double"),
    )
    stage1 = (
        c.join(p, "cell")
        .filter(col("probe_id") != col("nbr_id"))
        .select("probe_id", "nbr_id", adist.alias("adist"))
    )
    w1 = Window.partitionBy("probe_id").orderBy("adist", "nbr_id")
    cand = stage1.withColumn("rank_pq", F.row_number().over(w1)).filter(
        col("rank_pq") <= rerank
    )
    cvecs = corpus.select(col(id_col).alias("nbr_id"), v.alias("cvec"))
    pvecs = probes.select(col(id_col).alias("probe_id"), v.alias("pvec"))
    exact = (
        cand.join(cvecs, "nbr_id")
        .join(pvecs, "probe_id")
        .select(
            "probe_id",
            "nbr_id",
            "adist",
            F.round(cosine(col("pvec"), col("cvec")), decimals).alias("cos"),
        )
    )
    w2 = Window.partitionBy("probe_id").orderBy(col("cos").desc(), col("nbr_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(col("rank") <= k)
        .select("probe_id", "nbr_id", "adist", "cos", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric-distance search
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = 4,
    k_cells: int = 4,
    iters: int = 1,
) -> list[list[list[float]]]:
    """Per-subspace codebooks: the vector is split into ``m_sub``
    contiguous subspaces and each learns its own ``k_cells``-centroid
    k-means quantizer (Jégou et al. 2011, "Product Quantization for
    Nearest Neighbor Search").  Same determinism contract as
    ``kmeans_centroids`` — seed = k lowest ids' subvectors, rounded-L2
    assignment with cell tiebreak, exact DECIMAL component means — so an
    oracle can replay the whole codebook.  Driver footprint:
    ``m_sub × k_cells × dim/m_sub`` doubles == ``k_cells × dim`` — tiny.
    ``dim`` is explicit (never inferred with a driver-side ``.first()``).

    All ``m_sub`` subspaces train in the SAME jobs (one seed collect, one
    (m, cell, idx)-grouped mean aggregation per Lloyd iteration) — not
    ``m_sub`` sequential k-means runs; the per-iteration exchange carries
    ``m_sub × k_cells × dim/m_sub == k_cells × dim`` groups."""
    sub = dim // m_sub
    v = as_double(col(vec_col))
    vdf = corpus.select(col(id_col).alias("_id"), v.alias("v"))
    seed_rows = vdf.orderBy("_id").limit(k_cells).collect()
    books = [
        [list(r["v"])[m * sub : (m + 1) * sub] for r in seed_rows] for m in range(m_sub)
    ]
    if not seed_rows:
        return [[] for _ in range(m_sub)]
    for _ in range(iters):
        # one row per (m): the subvector + its current nearest cell
        per_sub = vdf.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            lit(m).alias("m"),
                            F.slice(col("v"), m * sub + 1, sub).alias("sv"),
                            memo.expr(
                                nearest_cell_sql(
                                    _slice_sql("`v`", m * sub + 1, sub), books[m]
                                )
                            ).alias("cell"),
                        )
                        for m in range(m_sub)
                    ]
                )
            ).alias("s")
        ).select("s.m", "s.cell", F.posexplode("s.sv").alias("idx", "val"))
        comps = per_sub.groupBy("m", "cell", "idx").agg(
            (F.sum(col("val").cast("decimal(18,6)")).cast("double") / F.count("*")).alias(
                "cval"
            )
        )
        means: dict[tuple[int, int], dict[int, float]] = {}
        for r in comps.collect():
            means.setdefault((r["m"], r["cell"]), {})[r["idx"]] = r["cval"]
        books = [
            [
                [means[(m, c)][j] for j in range(sub)]
                if (m, c) in means
                else books[m][c]
                for c in range(len(books[m]))
            ]
            for m in range(m_sub)
        ]
    return books


def pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    m_sub: int = 4,
    k_cells: int = 4,
    rerank: int = 10,
    iters: int = 1,
    decimals: int = 4,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Two-stage PQ retrieval: (1) scan the COMPRESSED codes with
    asymmetric distance — each probe precomputes its ``m_sub × k_cells``
    subspace-distance table, and a candidate's approximate distance is a
    table lookup per code, summed exactly in DECIMAL (order-independent,
    engine-portable) — keep the best ``rerank``; (2) join ONLY those
    candidates back to the full vector table and re-rank the survivors by
    exact cosine.

    This is the memory story of ANN at 100 TB: stage 1 touches codes only
    (m small ints per vector — RAM-resident at billions of vectors), the
    full vectors stay in cold storage and are fetched for
    ``rerank × probes`` rows, not the corpus.  Probes (and their distance
    tables) join unhinted — AQE broadcasts them while they fit; the corpus
    never shuffles in stage 1; stage 2 is a semi-join-sized shuffle on
    candidate ids.

    Pass ``codebooks`` (from ``pq_codebooks``, usually via
    ``artifacts.train_once``) to serve against pre-trained quantizers —
    training is deterministic, so the result is identical either way.
    """
    if codebooks is None:
        codebooks = pq_codebooks(corpus, dim, id_col, vec_col, m_sub, k_cells, iters)
    v = as_double(col(vec_col))
    # literal-codebook expressions via memoized SQL parse (see builders) —
    # identical trees, py4j construction cost removed
    vs = as_double_sql(vec_col)
    c = corpus.select(
        col(id_col).alias("nbr_id"), memo.expr(pq_codes_sql(vs, codebooks, dim)).alias("codes")
    )
    p = probes.select(
        col(id_col).alias("probe_id"), memo.expr(pq_dtab_sql(vs, codebooks, dim)).alias("dtab")
    )
    # ADC: Σ_m dtab[m][code_m], summed in DECIMAL(18,6) — every term is a
    # round-6 double, so the decimal sum is exact and order-independent
    adist = F.aggregate(
        F.sequence(lit(0), lit(m_sub - 1)),
        lit(0).cast("decimal(18,6)"),
        lambda acc, m: (
            acc
            + F.element_at(
                F.element_at(col("dtab"), m + 1), F.element_at(col("codes"), m + 1) + 1
            ).cast("decimal(18,6)")
        ).cast("decimal(18,6)"),
        lambda acc: acc.cast("double"),
    )
    stage1 = (
        c.join(p, col("probe_id") != col("nbr_id"))
        .select("probe_id", "nbr_id", adist.alias("adist"))
    )
    w1 = Window.partitionBy("probe_id").orderBy("adist", "nbr_id")
    cand = stage1.withColumn("rank_pq", F.row_number().over(w1)).filter(
        col("rank_pq") <= rerank
    )
    cvecs = corpus.select(col(id_col).alias("nbr_id"), v.alias("cvec"))
    pvecs = probes.select(col(id_col).alias("probe_id"), v.alias("pvec"))
    exact = (
        cand.join(cvecs, "nbr_id")
        .join(pvecs, "probe_id")
        .select(
            "probe_id",
            "nbr_id",
            "adist",
            F.round(cosine(col("pvec"), col("cvec")), decimals).alias("cos"),
        )
    )
    w2 = Window.partitionBy("probe_id").orderBy(col("cos").desc(), col("nbr_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(col("rank") <= k)
        .select("probe_id", "nbr_id", "adist", "cos", "rank")
    )


# ---------------------------------------------------------------------------
# Semantic (embedding-cluster) dedup — SemDeDup
# ---------------------------------------------------------------------------


def semantic_dedup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iters: int = 1,
    min_cos: float = 0.4,
    max_bucket: int = 64,
    decimals: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the corpus with k-means, then
    look for near-duplicate pairs ONLY within each cluster — the cluster
    assignment is the candidate blocker, so the pair space is
    Σ|cell|·max_bucket instead of n².

    Shape: assignment is a zero-shuffle projection against literal
    centroids; each cell collects its sorted id list (one partial-agg
    exchange) and expands pairs with the same capped overlapping-window
    combinatorics as ``dedup._bucket_pairs`` (oversized cells are chunked,
    never dropped); candidates fetch their two vectors by id join and
    verify exact cosine.  Emits ``(cell, id_a, id_b, cos)`` for pairs at
    or above ``min_cos`` — the caller's dedup policy (keep lowest id,
    keep best quality) runs downstream.
    """
    from osmdatapy_spark.functions.dedup import _bucket_pairs

    if centroids is None:
        centroids = kmeans_centroids(corpus, id_col, vec_col, k=n_cells, iters=iters)
    v = as_double(col(vec_col))
    assigned = corpus.select(
        col(id_col).alias("_id"),
        v.alias("v"),
        # literal-centroid assignment via memoized SQL parse (see builders)
        memo.expr(nearest_cell_sql(as_double_sql(vec_col), centroids)).alias("cell"),
    )
    buckets = assigned.groupBy("cell").agg(F.sort_array(F.collect_list("_id")).alias("ids"))
    # quantizer cells are low-cardinality (k buckets): spread chunk
    # windows so one hot cell cannot serialize the pair verify
    pairs = _bucket_pairs(buckets, max_bucket=max_bucket, spread=True)
    # recover the cell for the output: pairs within a bucket share id_a's cell
    va = assigned.select(col("_id").alias("id_a"), col("v").alias("va"), "cell")
    vb = assigned.select(col("_id").alias("id_b"), col("v").alias("vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "cell",
            "id_a",
            "id_b",
            F.round(cosine(col("va"), col("vb")), decimals).alias("cos"),
        )
        .filter(col("cos") >= lit(float(min_cos)))
    )
