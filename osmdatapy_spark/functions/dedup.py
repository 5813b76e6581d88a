"""Deduplication operators (north-star scope): exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Engine-portability note: the hash family is md5-over-text (seeded by
permutation index), because both Spark and the DuckDB oracle expose an
identical md5.  A production deployment swaps `_perm_hash` for
`xxhash64`/`murmur3` (Spark builtins) — one line — without touching the
pipeline shape.  Pipeline shapes are the scale story:

- exact:    groupBy(fingerprint) — one shuffle on a uniform key.
- MinHash:  shingle-explode → per-doc min per permutation (partial agg
  map-side) → band explode → band-join.  The band join is self-equi-join
  on band value; bucket counts are tiny for non-duplicate data, and a
  cap guards against degenerate hot bands.
- SimHash:  token-explode → 64/16 conditional sums per doc (one partial
  agg) → signature; near-dup = hamming distance on int64, a cheap
  broadcastable comparison.
- n-gram Jaccard: candidate pairs via shared rare shingles (inverted
  index semi-join), exact `array_intersect` only on candidates — never
  O(n²) on the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from osmdatapy_spark import memo
from osmdatapy_spark._pyworker import kernel


def _perm_hash(perm: int, value: Column) -> Column:
    """Deterministic keyed hash for permutation `perm`: an 8-hex-char chunk
    of md5 over a seeded prefix.  Four permutations share one md5 (chunked
    32 bits apiece), so k permutations cost ceil(k/4) hashes per shingle,
    and Spark's subexpression elimination computes each md5 once.  String
    min is the MinHash order (portable across engines)."""
    seed = perm // 4
    chunk = perm % 4
    return F.substring(
        F.md5(F.concat(lit(f"{seed}|"), value).cast("binary")), chunk * 8 + 1, 8
    )


def minhash_signature(shingled: DataFrame, id_col: str, shingle_col: str, num_perm: int = 8) -> DataFrame:
    """(id, shingle) exploded pairs → one row per id with minhash columns
    mh0..mh{k-1}.  The mins are partial-aggregated map-side: the shuffle
    carries k values per id, not the shingle set.

    The min runs over the NUMERIC value of each 8-hex-char chunk, not the
    hex string: fixed-width lowercase hex orders lexicographically exactly
    like its unsigned value, so the elected minimum is identical — but a
    LONG agg buffer is hash-aggregable (min(string) is not a mutable
    UnsafeRow type, so the string form fell back to SortAggregate: two
    full sorts of the exploded shingle stream, measured in the
    llm_minhash_lsh before-plan).  The hex-string face is rebuilt after
    the agg on id-count-sized rows."""
    aggs = [
        F.min(F.conv(_perm_hash(p, col(shingle_col)), 16, 10).cast("long")).alias(f"mh{p}")
        for p in range(num_perm)
    ]
    sig = shingled.groupBy(id_col).agg(*aggs)
    return sig.select(
        col(id_col),
        *[
            F.lpad(F.lower(F.hex(col(f"mh{p}"))), 8, "0").alias(f"mh{p}")
            for p in range(num_perm)
        ],
    )


def _bucket_pairs(
    buckets: DataFrame, ids_col: str = "ids", max_bucket: int = 0, spread: bool = False
) -> DataFrame:
    """Expand a sorted id-array per bucket into ordered (id_a < id_b)
    pairs with array combinatorics — no self-join, no second pass over the
    upstream pipeline.

    ``max_bucket`` > 1 bounds the expansion of oversized buckets WITHOUT
    dropping them (dropping would silently collapse recall exactly on the
    hottest buckets — massive duplicate clusters): the sorted array is
    chunked into windows of ``max_bucket`` ids overlapping by one element
    (element at 0-based index i pairs forward only within the window
    ``[⌊i/(m-1)⌋·(m-1), ⌊i/(m-1)⌋·(m-1)+m-1]``), so

    - a bucket of n ids emits O(n·max_bucket) pairs, linear in n, all
      executor-local array math — never the O(n²) quadratic blowup;
    - consecutive windows share one id, so every bucket stays ONE
      connected component — transitive clustering (connected_components)
      still merges the full duplicate group;
    - windows share exactly one element, so no pair is emitted twice
      within a bucket and per-shingle pair counts stay exact;
    - buckets of size <= max_bucket expand completely (single window) —
      semantics below the cap are unchanged.

    With ``max_bucket=0`` the expansion is exhaustive (callers must bound
    size upstream).

    ``spread=True`` redistributes the chunk windows across the cluster
    BEFORE the quadratic in-chunk expansion.  Use it when the bucket key
    is structurally low-cardinality (hyperplane sign buckets: 2^bits per
    band; quantizer cells): there AQE coalesces the handful of bucket
    rows into one partition and a single task would expand (and verify)
    every pair — measured 3.4s single-task on llm_embed_neardup's 16
    buckets at sf0.01, 0.6s spread.  The extra exchange carries only
    (bucket-key, ≤max_bucket ids) chunk rows.  High-cardinality bucket
    keys (per-shingle postings, minhash band values) already spread and
    should keep the default — their chunk re-shuffle would be a second
    pass over the whole candidate volume for nothing."""
    if max_bucket == 1:
        # a 1-id window cannot pair anything and the chunk stride (m-1)
        # would be zero — reject rather than silently falling through to
        # the EXHAUSTIVE expansion (the opposite of what a tight cap asks)
        raise ValueError("max_bucket must be 0 (unbounded) or >= 2")
    if max_bucket > 1 and spread:
        # window c covers sorted indices [c*s, c*s+m-1]; consecutive
        # windows share exactly one element, and the full ordered-pair
        # expansion of each window equals the stride formula below
        # (element i pairs forward only inside window i div s) — same
        # pair set, proven disjoint across windows
        s, m = max_bucket - 1, max_bucket
        nwin = f"greatest(1, cast(ceil((size({ids_col}) - 1) / {s}) as int))"
        chunks = memo.select(
            buckets,
            f"explode(transform(sequence(0, {nwin} - 1), "
            f"c -> slice({ids_col}, c * {s} + 1, {m}))) AS _chunk",
        )
        # EXPLICIT partition count: chunk rows are tiny in bytes but huge
        # in downstream CPU (quadratic expansion + pair verify), and AQE's
        # byte-based coalescing would fold an un-numbered repartition
        # right back to one partition (measured).  defaultParallelism =
        # one slot per core, locally and on a cluster.
        chunks = chunks.repartition(
            buckets.sparkSession.sparkContext.defaultParallelism, col("_chunk")
        )
        combos = (
            "flatten(transform(_chunk, (x, i) -> "
            "transform(slice(_chunk, i + 2, size(_chunk) - i - 1), "
            "y -> struct(x as id_a, y as id_b))))"
        )
        return memo.select(memo.select(chunks, f"explode({combos}) AS p"), "p.id_a", "p.id_b")
    if max_bucket > 1:
        s, m = max_bucket - 1, max_bucket
        window = f"((i div {s}) * {s}) + {m} - i - 1"
    else:
        window = f"size({ids_col}) - i - 1"
    combos = (
        f"flatten(transform({ids_col}, (x, i) -> "
        f"transform(slice({ids_col}, i + 2, {window}), "
        f"y -> struct(x as id_a, y as id_b))))"
    )
    return memo.select(memo.select(buckets, f"explode({combos}) AS p"), "p.id_a", "p.id_b")


def band_rows(
    signatures: DataFrame, id_col: str, num_perm: int = 8, band_size: int = 2
) -> DataFrame:
    """(id, band, val) rows from mh0..mh{k-1} signature columns — the ONE
    definition of the band layout, shared by ``lsh_band_pairs`` and the
    incremental-ingest probe so they can never silently diverge."""
    n_bands = num_perm // band_size
    bands = F.array(
        *[
            F.struct(
                lit(b).alias("band"),
                F.concat(*[col(f"mh{b * band_size + i}") for i in range(band_size)]).alias("val"),
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select(col(id_col), F.explode(bands).alias("bv")).select(
        col(id_col), col("bv.band").alias("band"), col("bv.val").alias("val")
    )


def lsh_band_pairs(
    signatures: DataFrame,
    id_col: str,
    num_perm: int = 8,
    band_size: int = 2,
    max_bucket: int = 50,
) -> DataFrame:
    """Banding: concat `band_size` adjacent minhashes → candidate pairs from
    bucket collisions.  `max_bucket` bounds degenerate hot buckets by
    chunked expansion (see ``_bucket_pairs``) — a constant-text corpus
    still connects into one duplicate component instead of being silently
    dropped, at O(n·max_bucket) pairs rather than O(n²).

    Shape: groupBy(band,val) + in-array pair expansion — ONE shuffle of
    (#docs × #bands) short rows, versus the naive window + self-join which
    shuffles three times and re-runs the signature pipeline per join side
    (Spark does not reuse the exchange across self-join branches here —
    measured).  Pair expansion is executor-local array math."""
    exploded = band_rows(signatures, id_col, num_perm=num_perm, band_size=band_size)
    buckets = (
        exploded.groupBy("band", "val")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return _bucket_pairs(buckets, max_bucket=max_bucket).distinct()


def simhash(tokenized: DataFrame, id_col: str, token_col: str, bits: int = 16) -> DataFrame:
    """Per-id SimHash over the token multiset.  Bit b of a token comes from
    hex digit b of md5(token) (parity); the signature bit is the majority
    vote.  Everything is conditional sums after one explode — a single
    partial-aggregated shuffle."""
    digit = lambda b: F.conv(F.substring(F.md5(col(token_col).cast("binary")), b + 1, 1), 16, 10).cast("int")  # noqa: E731
    votes = [
        F.sum(F.when(digit(b) % 2 == 1, 1).otherwise(-1)).alias(f"v{b}") for b in range(bits)
    ]
    sig = tokenized.groupBy(id_col).agg(*votes)
    out = lit(0)
    for b in range(bits):
        out = out + F.when(col(f"v{b}") >= 0, lit(1 << b)).otherwise(lit(0))
    return sig.select(col(id_col), out.cast("long").alias("simhash"))


def exact_dedup(df: DataFrame, id_col: str, fingerprint_col: Column) -> DataFrame:
    """Exact dedup: keep the smallest id per fingerprint (deterministic
    keeper choice — plain dropDuplicates keeps an arbitrary row)."""
    fp = df.select(col(id_col), fingerprint_col.alias("fp"))
    return fp.groupBy("fp").agg(
        F.min(id_col).alias("keeper"), F.count("*").alias("n_dups")
    )


def jaccard_candidate_pairs(
    shingled: DataFrame,
    id_col: str,
    shingle_col: str,
    max_doc_freq: int = 20,
    min_shared: int = 3,
) -> DataFrame:
    """Candidate pairs sharing >= min_shared shingles (inverted-index
    candidate generation — the scale-safe alternative to a cross join).

    Both knobs bound the work: max_doc_freq chunk-splits stop-shingle
    postings (see ``_bucket_pairs``) so their pair expansion stays linear
    instead of quadratic — without dropping them, which would zero out
    recall on exact-duplicate mega-clusters where EVERY shingle is a
    stop-shingle; min_shared prunes the candidate set before the
    (comparatively expensive) exact set intersection — a pair at
    Jaccard >= 0.5 over ~50-shingle docs shares >= 17 shingles, so
    min_shared=3 loses nothing while cutting candidates ~100×.  Identical
    documents produce identical sorted postings, hence identical chunk
    windows per shingle, so chunked pairs still accumulate full
    n_shared counts.

    Shape: groupBy(shingle) postings list + in-array pair expansion +
    groupBy(pair) count — two shuffles, single pass over the shingle
    pipeline (the window + self-join formulation runs it once per join
    side and shuffles a third time).  The postings shuffle is keyed by
    xxhash64(shingle), not the shingle text: 8-byte keys instead of
    ~30-byte strings.  A 64-bit collision could only ADD a candidate pair
    (~1e-8 chance corpus-wide), and candidates are exactly verified
    downstream — correctness is unaffected."""
    postings = (
        shingled.groupBy(memo.expr(f"xxhash64({memo.ident(shingle_col)}) AS __sh"))
        .agg(memo.expr(f"array_sort(collect_list({memo.ident(id_col)})) AS ids"))
        .filter(memo.expr("size(ids) >= 2"))
    )
    counted = (
        _bucket_pairs(postings, max_bucket=max_doc_freq)
        .groupBy(memo.expr("id_a"), memo.expr("id_b"))
        .agg(memo.expr("count(*) AS n_shared"))
        .filter(memo.expr(f"n_shared >= {int(min_shared)}"))
    )
    return memo.select(counted, "id_a", "id_b")


def connected_components(
    edges: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 30
) -> DataFrame:
    """Connected components over a near-dup pair graph: every node ends
    labeled with the smallest id reachable from it — the canonical
    cluster id for transitive dedup.

    Algorithm (round 6): two-phase partition-local union-find with
    geometric contraction, replacing the join+groupBy(min) label
    propagation loop.  Each level, every partition runs an in-memory
    union-find over ITS slice of the edge list (one Arrow-batched kernel
    — the per-partition imperative case mapInPandas exists for) and
    emits (id, partition-local min root).  A node split across
    partitions carries several roots; the (root → node's min root) star
    edges — the boundary spanning forest, orders of magnitude smaller
    than the edge set — become the next level's graph.  Levels repeat
    until no cross-partition disagreement remains, then the per-level
    maps compose back down with left joins.

    Why this shape: the propagation loop costs O(graph diameter) rounds
    of ~5 scheduled stages each — on a small-SF graph that is pure
    scheduling overhead (measured 10 rounds / 7.0s cold for 333 edges),
    and at 100 TB it re-ships the full label frontier every round.
    Union-find contraction is O(levels) stages TOTAL with levels ~2-3 at
    any scale (each level shrinks the graph to its partition-boundary
    forest), and the shuffled volume DROPS geometrically per level.

    Determinism: the component's global-min id is its own root at every
    level, and labels are consistent along every edge at convergence, so
    the fixpoint label is exactly the component minimum under ANY
    partitioning (test_partitioning_invariance pins this; the label
    contract is identical to the propagation loop's).

    Returns (id, cluster); only nodes that appear in ``edges`` are
    returned — callers left-join and coalesce to default singletons."""

    @kernel
    def _uf_partition(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
                a = int(a)
                b = int(b)
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra < rb:
                    parent[rb] = ra
                elif rb < ra:
                    parent[ra] = rb
        if parent:
            ids = list(parent)
            yield pd.DataFrame(
                {"id": ids, "root": [find(x) for x in ids]}
            ).astype("int64")

    # union-find is direction-blind — no symmetrization needed (the
    # propagation loop doubled the edge list; this reads it once).  Null
    # ids are dropped up front: inside the Arrow kernel a null becomes
    # NaN and int() raises an opaque ValueError mid-task (the old
    # propagation loop degraded silently on them — neither is a label).
    # The EAGER checkpoint matters: the caller's candidate pipeline
    # (often a full shingle+verify chain) must run once, not once per
    # consumer of `local` below — Catalyst does not dedupe re-derived
    # lineage.
    cur = (
        edges.where(col(id_a).isNotNull() & col(id_b).isNotNull())
        .select(col(id_a).cast("long").alias("src"), col(id_b).cast("long").alias("dst"))
        .localCheckpoint()
    )
    # size the kernel's partition count to the data: each union-find task
    # comfortably holds ~500k edges; a tiny graph scattered over the
    # session's default partitions would otherwise contract SLOWLY (every
    # near-empty partition manufactures boundary nodes) and pay a task per
    # empty slice.  coalesce() is narrow — no shuffle — and the count is a
    # cheap RDD count on the just-materialized checkpoint; at scale
    # target ≥ current and this is a no-op.
    n_edges = cur.count()
    target = max(1, min(cur.rdd.getNumPartitions(), n_edges // 500_000 + 1))
    if target < cur.rdd.getNumPartitions():
        cur = cur.coalesce(target)
    maps: list[DataFrame] = []
    for _ in range(max_iter):
        local = cur.mapInPandas(_uf_partition, "id long, root long").localCheckpoint(
            eager=False
        )
        rep = (
            local.groupBy("id")
            .agg(F.min("root").alias("rep"))
            .localCheckpoint(eager=False)
        )
        maps.append(rep)
        # no distinct: duplicate boundary edges are free to the next
        # level's union-find, and dropping the dedup drops a shuffle
        nxt = (
            local.join(rep, "id")
            .select(col("root").alias("src"), col("rep").alias("dst"))
            .filter(col("src") != col("dst"))
            .localCheckpoint(eager=False)
        )
        if nxt.isEmpty():
            cluster = maps[-1].select("id", col("rep").alias("cluster"))
            for m in reversed(maps[:-1]):
                cluster = (
                    m.join(
                        cluster.withColumnRenamed("id", "rep_id"),
                        m["rep"] == col("rep_id"),
                        "left",
                    )
                    .select(m["id"], F.coalesce("cluster", m["rep"]).alias("cluster"))
                )
            # checkpoint: downstream plans see a materialized relation, not
            # the kernel lineage (plan hygiene + reuse across consumers)
            return cluster.localCheckpoint(eager=False)
        cur = nxt
    raise RuntimeError(f"connected_components did not converge in {max_iter} levels")


def jaccard_similarity(sets_a: str, sets_b: str) -> Column:
    """Exact Jaccard over two distinct-element arrays, as DOUBLE.  The
    arguments are SQL fragments (column names or expressions); the
    expression is memoized SQL (``memo.expr``)."""
    inter = f"size(array_intersect({sets_a}, {sets_b}))"
    return memo.expr(
        f"CAST({inter} AS DOUBLE) / ((size({sets_a}) + size({sets_b})) - {inter})"
    )
