"""Physical-plan shape assertions for headline queries: pushdown reaches
the parquet scan, column pruning holds, shuffle counts stay at the
designed minimum, and the JVM-only hot paths contain no Python nodes."""

from __future__ import annotations

import re

from pyspark.sql import functions as F
from pyspark.sql.functions import col

from osmdatapy_spark.plans.audit import assert_plan, plan_summary
from osmdatapy_spark.suite import QUERY_REGISTRY
from osmdatapy_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


import pytest  # noqa: E402


@pytest.fixture(autouse=True)
def _cold_plans(spark):
    """Plan-shape assertions are about the COLD plan: queries that persist
    shared lineage (minhash signatures, ring coords) register cache
    entries that would otherwise substitute InMemoryTableScans into later
    tests' plans and shift exchange counts."""
    spark.catalog.clearCache()
    yield


def q(spark, name):
    return QUERY_REGISTRY[name].fn(spark, SF_DIR)


def test_filter_pushdown_reaches_parquet(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    df = li.filter(col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    assert_plan(
        df,
        require_pushed_filter="l_quantity",
        require_pruned_columns=["l_orderkey", "l_quantity"],
    )


def test_pricing_summary_single_shuffle(spark):
    # scan → partial agg → ONE exchange → final agg; the flagship agg must
    # never shuffle raw rows (partial aggregation is the map-side combine)
    assert_plan(q(spark, "rel_pricing_summary"), max_exchanges=1, forbid_python=True)


def test_join_revenue_broadcasts_dims(spark):
    # nation/region/supplier are dims: the plan must broadcast them, and
    # the only hash-partition exchange allowed is the groupBy aggregation
    s = assert_plan(q(spark, "rel_join_revenue_by_nation"), forbid_python=True)
    assert s.n_broadcasts >= 1, s.text


def test_topology_two_shuffles(spark):
    # designed shape (operators/topology.py): one exchange by node_id for
    # the shared count, ONE by way_id shared by the boundary windows and
    # the pairing window — pinned on the operator itself (the suite query
    # adds a third exchange deriving pos, which real way_refs data has)
    from osmdatapy_spark.operators.topology import topology_segments

    refs = spark.createDataFrame(
        [(1, 0, 10), (1, 1, 11), (1, 2, 12), (2, 0, 12), (2, 1, 13)],
        "way_id long, pos int, node_id long",
    )
    assert_plan(topology_segments(refs), max_exchanges=2, forbid_python=True)
    assert_plan(q(spark, "osm_topology_segments"), max_exchanges=3, forbid_python=True)


def test_way_geometry_scans_the_way_side_once(spark, fixture_pbf):
    # a ways-only highway geometry query reads the ways relation once and
    # the nodes relation once: the coordinate gather is one pass over the
    # query rows (engine._with_way_coords), not a join back to a second
    # scan of them; rows without refs hash on their own id, not on null
    from osmdatapy_spark.engine import OSM
    from osmdatapy_spark.query import Query

    q = Query(ways=True, nodes=False, relations=False, keep={"highway": []}, geometry=True)
    df = OSM.from_pbf(spark, fixture_pbf).query(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BatchScan osmpbf") == 2, plan
    assert re.search(r"hashpartitioning\(_nid#\d+L, _salt#", plan), plan
    assert sorted(r.osmid for r in df.collect()) == [101, 102, 105]


def _warm_build_py4j_calls(build, monkeypatch) -> int:
    """py4j round trips of ``build()`` after one warm-up call (the
    session's table and relation handles, the per-gateway expressions).
    py4j's own object-release commands (``m``/``d``) follow Python's
    garbage collector and vary from run to run, so they are not counted."""
    from py4j.java_gateway import GatewayClient
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    build()
    release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
    calls = []
    send = GatewayClient.send_command

    def counted(self, command, *args, **kwargs):
        if not command.startswith(release):
            calls.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    build()
    monkeypatch.undo()
    return len(calls)


# py4j round trips of a warm PBF-extract build (``OSM.from_pbf(...).query``,
# no action), as recorded: the benchmark's two extract shapes.
EXTRACT_PY4J_BUDGET = {"highway": 584, "amenity": 284}


@pytest.mark.parametrize("cls", sorted(EXTRACT_PY4J_BUDGET))
def test_extract_build_py4j_budget(spark, fixture_pbf, cls, monkeypatch):
    from osmdatapy_spark.engine import OSM
    from osmdatapy_spark.query import Query

    def build():
        q = Query(nodes=cls == "amenity", ways=cls == "highway", keep={cls: []}, geometry=True)
        return OSM.from_pbf(spark, fixture_pbf).query(q)

    n = _warm_build_py4j_calls(build, monkeypatch)
    assert 0 < n <= EXTRACT_PY4J_BUDGET[cls], (
        f"{cls} extract build: {n} py4j calls, budget {EXTRACT_PY4J_BUDGET[cls]}"
    )


# py4j round trips of a warm registered-query build (no action) after
# their kernels became memoized SQL (``memo.expr`` / ``memo.select``), as
# recorded in a full test run (built as Column algebra they took 1,244
# and 2,504).  A memo miss probes each live SparkContext once, however
# many sessions share it, and a session's conf is tuned once, not on
# every table load, so other tests' sessions add nothing.
SUITE_PY4J_BUDGET = {"llm_curation_recipe": 87, "osm_point_in_polygon": 49}


@pytest.mark.parametrize("name", sorted(SUITE_PY4J_BUDGET))
def test_suite_build_py4j_budget(spark, name, monkeypatch):
    n = _warm_build_py4j_calls(lambda: q(spark, name), monkeypatch)
    assert 0 < n <= SUITE_PY4J_BUDGET[name], (
        f"{name} build: {n} py4j calls, budget {SUITE_PY4J_BUDGET[name]}"
    )


def test_derived_session_adds_no_build_py4j_calls(spark, monkeypatch):
    """A memo miss probes each SparkContext once, not each session: a live
    ``spark.newSession()`` in the memo (it shares the parent's context)
    adds no py4j call to a warm build whose managed persist misses every
    time."""
    from osmdatapy_spark import memo

    def build():
        return q(spark, "llm_curation_recipe")

    alone = _warm_build_py4j_calls(build, monkeypatch)
    memo.put(spark.newSession(), "test.derived", "k", "live")
    try:
        with_child = _warm_build_py4j_calls(build, monkeypatch)
    finally:
        memo.clear("test.derived")
    assert with_child == alone


def test_suite_codegen_cache_holds_the_mix(spark):
    """The two ``suite_mix`` queries, run in turn, need more generated
    classes than Spark's default codegen cache holds (100), so each repeat
    recompiled the evicted ones.  In a ``get_spark`` session a second
    alternation compiles nothing."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def alternate():
        for name in ("llm_curation_recipe", "osm_point_in_polygon") * 2:
            q(spark, name).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()

    alternate()
    before = metric.getCount()
    alternate()
    assert metric.getCount() - before == 0


def test_token_stats_no_shuffle(spark):
    # narrow projection: tokenization/quality scoring must pipeline inside
    # the scan stage — zero exchanges at any scale
    assert_plan(q(spark, "llm_token_stats"), max_exchanges=0, forbid_python=True)


def test_way_endpoints_single_shuffle(spark):
    # A1 endpoints = groupBy + min_by/max_by: ONE partial-aggregated
    # exchange (the window+distinct form costs two, carrying full rows)
    assert_plan(q(spark, "osm_way_endpoints"), max_exchanges=1, forbid_python=True)


def test_ring_assembly_python_is_scoped(spark):
    # G6 is THE pandas kernel (SURVEY §7); exactly one grouped-pandas node,
    # nothing else Python — and the fused chain+sequence form needs only
    # ONE exchange (refs ride the rel_id shuffle through Arrow)
    s = plan_summary(q(spark, "osm_ring_assembly"))
    assert s.n_python_evals == 1, s.text
    assert s.n_exchanges <= 1, s.text


def test_embed_neardup_plan(spark):
    # LSH blocking shuffles: bucket groupBy, chunk-window redistribution
    # (sign buckets are structurally low-cardinality, so the quadratic
    # pair expansion must not collapse into one AQE-coalesced task — see
    # dedup._bucket_pairs spread=True), candidate-pair distinct, and the
    # two shuffle_hash verify-join sides — NEITHER verify side is ever
    # small at corpus scale, so the plan must NOT broadcast there (the
    # serialized broadcast build also measured 2x slower locally).
    # Plane projections stay pure Column algebra (no Python).
    s = assert_plan(q(spark, "llm_embed_neardup"), max_exchanges=7, forbid_python=True)
    assert "BroadcastHashJoin" not in s.text, s.text
    assert "ShuffledHashJoin" in s.text or "SortMergeJoin" in s.text, s.text


def test_minhash_two_shuffles(spark):
    # signature groupBy(doc) + bucket groupBy(band,val) (+ distinct) — the
    # shingle explosion itself must not shuffle
    s = plan_summary(q(spark, "llm_minhash_lsh"))
    assert s.n_exchanges <= 3, s.text
    assert s.n_python_evals == 0, s.text


# queries whose plans legitimately contain Python nodes (the pandas kernels)
_PYTHON_OK = {
    "osm_ring_assembly",      # applyInPandas ring chaining (G6)
    "osm_route_linestring",   # G6 kernel twice: area + line branches union
    "osm_ring_nesting",       # G6 chain + polygon-assignment kernels
    "osm_boundary_nested",    # same, through nested-relation flatten
    "osm_multipolygon_area",  # same kernels, holed-area aggregation
    "osm_geojson_polygons",   # same kernels, GeoJSON Feature formatting
    "osm_admin_hierarchy",    # chain kernel + cross-relation containment
    "osm_point_in_admin",     # chain kernel + point→polygon containment
    "llm_text_normalize",     # NFC pandas UDF (no Spark builtin)
    "llm_multimodal_meta",    # mapInPandas binary decode
    "llm_frame_sample",       # mapInPandas flatMap expansion
    "llm_feature_extract",    # mapInPandas feature stub
    "osm_wkb_roundtrip",      # WKB encode/decode pandas UDFs (binary surface)
    "osm_geoparquet_roundtrip",  # wkb_info decode kernel over the sink's files
    "llm_vocab_tokenize",     # mapInPandas greedy longest-match tokenizer
    "osm_simplify_dp",        # mapInPandas Douglas-Peucker kernel (r8)
    "stream_user_totals_tws",  # applyInPandas batch face of the
                               # transformWithState processor (stateful_v2)
}

# iterative queries that execute driver-side loops at build time — their
# final-plan audit is covered by their own operator tests.  (llm_ann_ivf_topk
# left this list in round 3: with the train/serve artifact cache its build
# cost is one cached lookup, so the blanket audit covers it.)
_SKIP_BUILD = {
    "llm_dedup_clusters",
    "llm_dedup_pipeline",
    "osm_relation_expand_depth3",
    "llm_bpe_train",  # 3-round trainer: per-round 1-row merge elections
}


def test_all_query_plans_python_containment(spark):
    """Blanket audit: NO registered query may sneak a Python eval node into
    its plan unless it is one of the declared pandas kernels — the
    'UDFs are the slow path' rule enforced across the whole suite."""
    offenders = {}
    for name, qd in QUERY_REGISTRY.items():
        if name in _SKIP_BUILD:
            continue
        s = plan_summary(qd.fn(spark, SF_DIR))
        if name in _PYTHON_OK:
            # the kernel may live inside a self-persisted stage's cached
            # build plan (runs once to fill the cache) — count both
            assert s.n_python_evals + s.n_python_evals_cached >= 1, (
                f"{name} expected a pandas kernel"
            )
        elif s.n_python_evals:
            offenders[name] = s.n_python_evals
    assert not offenders, f"unexpected Python nodes: {offenders}"


def test_sql_entry_path_plan(spark):
    # the SQL text entry point must plan exactly like the DataFrame form:
    # both dimension joins broadcast, ONE partial-aggregated exchange for
    # the groupBy (the top-k sort rides the AQE-planned result stage)
    s = assert_plan(q(spark, "rel_sql_tpch_q3"), max_exchanges=1, forbid_python=True)
    assert s.n_broadcasts == 2, s.text


def test_round2_operator_plan_shapes(spark):
    """Shape pins for the round-2 operators, per their registered claims."""
    # chunking: in-row expansion only — pipelines inside the scan stage
    assert_plan(q(spark, "llm_chunk_windows"), max_exchanges=0, forbid_python=True)
    # tokenizer application: ONE Arrow kernel, finished counts, zero shuffle
    s = assert_plan(q(spark, "llm_vocab_tokenize"), max_exchanges=0)
    assert s.n_python_evals == 1, s.text
    # classifier inference: pure projection — no shuffle at any corpus size
    assert_plan(q(spark, "llm_quality_classifier"), max_exchanges=0, forbid_python=True)
    # role pivot: ONE partial-agg exchange + the tag join (broadcast or SMJ)
    assert_plan(q(spark, "osm_turn_restrictions"), max_exchanges=3, forbid_python=True)
    # melt: Expand node — in-row expansion, zero shuffle
    assert_plan(q(spark, "rel_unpivot"), max_exchanges=0, forbid_python=True)
    # knn vote: all exchanges sized k×probes; corpus side never shuffles
    s = assert_plan(q(spark, "llm_knn_label"), max_exchanges=3)
    assert s.n_broadcasts >= 2, s.text
    # packing: ONE hash exchange on the shard key feeds the prefix-sum window
    assert_plan(q(spark, "llm_sequence_pack"), max_exchanges=1, forbid_python=True)
    # summary rollup: one partial-aggregated exchange on (lang, source)
    assert_plan(q(spark, "llm_corpus_summary"), max_exchanges=1, forbid_python=True)
    # char histogram: (doc,char) counts + doc rollup — two exchanges
    assert_plan(q(spark, "llm_char_diversity"), max_exchanges=2, forbid_python=True)
    # ngram counts: one (n,gram) exchange, top-k via TakeOrdered heaps
    s = assert_plan(q(spark, "llm_ngram_counts"), forbid_python=True)
    assert "TakeOrdered" in s.text, s.text
    # label outliers: centroids broadcast back — the corpus never shuffles
    # for the distance projection
    s = plan_summary(q(spark, "llm_label_outliers"))
    assert s.n_broadcasts >= 1 and s.n_python_evals == 0, s.text


def test_round3_operator_plan_shapes(spark):
    """Shape pins for the round-3 operators, per their registered claims."""
    # fuzzy dedup: truncated text rides the bucket array — ONE hash
    # exchange total, no join back to the corpus, no Python
    assert_plan(q(spark, "llm_fuzzy_edit_pairs"), max_exchanges=1, forbid_python=True)
    # boilerplate strip: chunk-freq agg + freq join back + per-doc
    # reassembly — three hash exchanges, no more
    assert_plan(q(spark, "llm_boilerplate_strip"), max_exchanges=3, forbid_python=True)
    # mixture sampling: ONE tiny count agg; thresholds broadcast back so
    # the accept filter streams over the scan
    s = assert_plan(q(spark, "llm_domain_mixture"), max_exchanges=1, forbid_python=True)
    assert s.n_broadcasts >= 1, s.text
    # geometric measures: the coordinate gather's single groupBy exchange,
    # nodes dim broadcast, measures fold inside the same stage
    for name in ("osm_way_length", "osm_way_area", "osm_way_centroid"):
        s = assert_plan(q(spark, name), max_exchanges=1, forbid_python=True)
        assert s.n_broadcasts == 1, s.text
    # grid nearest-neighbor: equi-join on the cell key + one min agg —
    # never probe × corpus (no cartesian/BNL join nodes)
    s = assert_plan(q(spark, "osm_nearest_node"), max_exchanges=1, forbid_python=True)
    assert "Cartesian" not in s.text and "BroadcastNestedLoop" not in s.text, s.text
    # stream-stream interval join (batch face): user_id equi-join with the
    # range residual INSIDE the join — no cartesian
    s = plan_summary(q(spark, "stream_interval_join"))
    assert "Cartesian" not in s.text and "BroadcastNestedLoop" not in s.text, s.text
    assert s.n_python_evals == 0, s.text


def test_session2_operator_plan_shapes(spark):
    """Shape pins for this session's operators, per their registered claims."""
    # paragraph dedup: explode → min(struct) partial-agg election → survivor
    # join → per-doc reassembly; tiny sides may broadcast under AQE but the
    # data-shuffle count stays bounded and no Python appears
    assert_plan(q(spark, "llm_paragraph_dedup"), max_exchanges=3, forbid_python=True)
    # per-domain cap: rank<=k rewrites to a map-side WindowGroupLimit
    s = assert_plan(q(spark, "llm_domain_cap"), max_exchanges=1, forbid_python=True)
    assert "WindowGroupLimit" in s.text, s.text
    # bigram LM: count tables + scoring joins + per-doc agg
    assert_plan(q(spark, "llm_lm_score"), max_exchanges=6, forbid_python=True)
    # point-in-polygon: cell-key join + ray-cast fold — ONE data shuffle
    assert_plan(q(spark, "osm_point_in_polygon"), max_exchanges=1, forbid_python=True)
    # tile binning: one partial-aggregated exchange on the tile key
    assert_plan(q(spark, "osm_tile_binning"), max_exchanges=1, forbid_python=True)
    # radial simplification: shuffle-free fold over the coordinate gather
    assert_plan(q(spark, "osm_simplify_radial"), max_exchanges=1, forbid_python=True)
    # z-order layout: one agg exchange over the Morton bucket
    assert_plan(q(spark, "rel_zorder_layout"), max_exchanges=2, forbid_python=True)
    # BPE merges: word table + pair agg, global top-k via TakeOrdered heaps
    s = assert_plan(q(spark, "llm_bpe_merge_candidates"), max_exchanges=2, forbid_python=True)
    assert "TakeOrdered" in s.text, s.text
    # PQ ANN: codes scan + broadcast probes; ONE data shuffle (stage-2 rank)
    assert_plan(q(spark, "llm_ann_pq_topk"), max_exchanges=2, forbid_python=True)
    # SemDeDup: zero-shuffle cell assignment; bucket agg is the one exchange
    assert_plan(q(spark, "llm_semantic_dedup"), max_exchanges=2, forbid_python=True)
    # changefile apply: window + partial-agg election + one osmid join
    assert_plan(q(spark, "osm_apply_changes"), max_exchanges=4, forbid_python=True)
    # training order: one shard exchange feeds the per-shard position window
    assert_plan(q(spark, "llm_training_order"), max_exchanges=1, forbid_python=True)


def test_session3_operator_plan_shapes(spark):
    """Shape pins for this session's operators, per their registered claims."""
    # URL dedup: canonicalization is scan-stage Column algebra; the
    # keep-best election is ONE partial-aggregated exchange on canon_url
    assert_plan(q(spark, "llm_url_dedup"), max_exchanges=1, forbid_python=True)
    # Gopher rules: pure per-row flags — zero shuffles
    assert_plan(q(spark, "llm_gopher_rules"), max_exchanges=0, forbid_python=True)
    # grouping sets expand BEFORE the partial agg — still one exchange
    assert_plan(q(spark, "rel_grouping_sets"), max_exchanges=1, forbid_python=True)
    # RANGE frame: one user_id window exchange
    assert_plan(q(spark, "rel_window_range_frame"), max_exchanges=1, forbid_python=True)
    # length-by-class: coordinate gather + tiny class rollup; the tag join
    # broadcasts (small sf) or reuses the way_id partitioning at scale
    assert_plan(q(spark, "osm_length_by_class"), max_exchanges=2, forbid_python=True)
    # CDC upsert: version window on l_orderkey + partial-agg election on
    # the derived osmid key
    assert_plan(q(spark, "stream_upsert_latest"), max_exchanges=2, forbid_python=True)


def test_session3b_operator_plan_shapes(spark):
    # correlation moments: ONE partial-aggregated exchange, no second pass
    assert_plan(q(spark, "rel_corr_stats"), max_exchanges=1, forbid_python=True)
    # geojson export: formatting folds into the scan/join stage — the tag
    # attach broadcasts, zero data shuffles
    s = assert_plan(q(spark, "osm_geojson_points"), max_exchanges=0, forbid_python=True)
    assert s.n_broadcasts >= 1, s.text


def test_extract_diff_plan_shape(spark):
    # epoch diff: one co-partitioned full-outer join on osmid; tiny sides
    # may broadcast under AQE at test scale, but no cartesian and no Python
    s = plan_summary(q(spark, "osm_extract_diff"))
    assert "Cartesian" not in s.text and s.n_python_evals == 0, s.text


def test_round8_operator_plan_shapes(spark):
    """Plan pins for the round-8 operators, per their registered claims."""
    # bbox-cover containment: cell-key join + bbox gate + ray cast; the
    # fixture build + bbox agg + election bound the exchange count
    assert_plan(q(spark, "osm_point_in_lake"), max_exchanges=4, forbid_python=True)
    # HLL sketch: (group, register) partial agg + per-group fold + the
    # exact-distinct comparison join — bounded register state throughout
    assert_plan(q(spark, "rel_hll_distinct"), max_exchanges=4, forbid_python=True)
    # bloom semi-join: built-positions distinct + per-order hit count +
    # final rollup; fact rows never shuffle for the probe join
    assert_plan(q(spark, "rel_bloom_semijoin"), max_exchanges=3, forbid_python=True)
    # CMS: ONE (row, bucket) cell agg + the top-k probe side
    assert_plan(q(spark, "rel_cms_heavy_freq"), max_exchanges=2, forbid_python=True)
    # .osc CDC apply: change election + base join + created union
    assert_plan(q(spark, "osm_osc_apply"), max_exchanges=3, forbid_python=True)
    # Douglas-Peucker: the one coordinate-gather exchange; the kernel is
    # the declared Arrow mapInPandas (counted in _PYTHON_OK)
    s = plan_summary(q(spark, "osm_simplify_dp"))
    assert s.n_exchanges <= 1 and s.n_python_evals == 1, s.text
    # BPE trainer output is a driver-literal table (all work happened in
    # the per-round elections, covered by the fold unit tests)
    assert_plan(q(spark, "llm_bpe_train"), max_exchanges=0, forbid_python=True)


def test_session3c_operator_plan_shapes(spark):
    # partial-state merge: two partial aggs union into one merge agg —
    # two exchanges total, no re-scan of raw history at merge time
    assert_plan(q(spark, "rel_partial_agg_merge"), max_exchanges=2, forbid_python=True)
    # compaction planner: ONE global-ordered window over file metadata
    assert_plan(q(spark, "rel_compaction_plan"), max_exchanges=1, forbid_python=True)
    # taginfo stats: map explode scan-side + two-phase distinct agg
    assert_plan(q(spark, "osm_tag_key_stats"), max_exchanges=2, forbid_python=True)
    # degree histogram: pair-dedup + per-node count + tiny rollup — the
    # inherent two-phase distinct plus the ~10-group histogram exchange
    assert_plan(q(spark, "osm_node_degree_histogram"), max_exchanges=3, forbid_python=True)
    # integrity report: every check folds into ONE ref-level pass (the
    # unresolved probe rides the refs scan as a left join, window +
    # per-way rollup share the way_id exchange, one tag attach, one
    # checkpointed stats row) — report rows are projections, so the
    # final plan holds no re-scan branches at all
    s = assert_plan(q(spark, "osm_integrity_report"), max_exchanges=1, forbid_python=True)
    assert "Cartesian" not in s.text, s.text


def test_data_contract_audit_one_pass_per_table(spark):
    # the dbt-suite report folds every check into ONE aggregate pass per
    # fact table (pk dupes = n - count_distinct, orphans = null-FK,
    # null/range = conditional sums), checkpointed at the fork — the
    # round-3 shape re-ran 12 scans / 11 exchanges and force-broadcast
    # two fact tables.  Final plan: only the checkpointed 1-row stats.
    s = assert_plan(q(spark, "rel_data_contract_audit"), max_exchanges=1, forbid_python=True)
    assert s.n_broadcasts == 0, s.text
    opt = q(spark, "rel_data_contract_audit")._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in opt


def test_cusum_single_user_exchange(spark):
    # prefix-sum + prefix-min windows + rollup all share the ONE user_id
    # shuffle — the linearization must not pay a second exchange
    assert_plan(q(spark, "rel_cusum_drift"), max_exchanges=1, forbid_python=True)


def test_interval_overlap_shape(spark):
    # wide point set shuffles once on (type, bucket); the remaining
    # exchanges carry only the per-bucket ledger (tiny) — and the ledger
    # must come back as a BROADCAST join, never a wide shuffle join
    assert_plan(
        q(spark, "rel_interval_overlap"),
        max_exchanges=4,
        min_broadcasts=1,
        forbid_python=True,
    )


def test_way_interpolate_single_exchange(spark):
    # lead window, prefix sum, partition max, and crossing pick all reuse
    # the way_id sort; nodes attach by broadcast
    assert_plan(
        q(spark, "osm_way_interpolate"),
        max_exchanges=1,
        min_broadcasts=1,
        forbid_python=True,
    )


def test_geohash_zero_shuffle_before_agg(spark):
    # pure bit algebra + one partial-aggregated exchange on the cell key
    assert_plan(q(spark, "osm_geohash_encode"), max_exchanges=1, forbid_python=True)


def test_ab_test_two_exchanges(spark):
    # per-user conversion election: ONE partial-aggregated user_id
    # exchange; the global single-row fold adds one single-partition
    # exchange — nothing else, no join, no Python
    assert_plan(q(spark, "rel_ab_test"), max_exchanges=2, forbid_python=True)


def test_benford_single_scan_two_exchanges(spark):
    # digit counts: ONE partial-aggregated exchange to ≤9 rows; the
    # denominator is a global window over those 9 rows (one tiny
    # single-partition exchange) — and orders is scanned exactly ONCE
    s = assert_plan(q(spark, "rel_benford_digits"), max_exchanges=2, forbid_python=True)
    assert s.n_scans == 1, s.text


def test_pagerank_iteration_shape(spark):
    # the per-iteration data movement (GraphX/Pregel verbatim): ranks
    # join the degree-annotated edge list on src, contributions
    # partial-aggregate per dst, the update left-joins back onto nodes —
    # bounded exchanges, zero Python, no cartesian.  checkpoint=False
    # exposes the real lineage that localCheckpoint would hide.
    from osmdatapy_spark.operators.graph import pagerank_integer

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node_id long")
    pr = pagerank_integer(edges, nodes, iters=1, checkpoint=False)
    s = assert_plan(pr, forbid_python=True)
    assert "Cartesian" not in s.text and "BroadcastNestedLoop" not in s.text, s.text
    assert s.n_exchanges <= 6, s.text


def test_round3_session_operator_plan_shapes(spark):
    """Shape pins for this session's new operators."""
    # BM25: term filter inside the scan, (doc,term) partial agg, idf/stats
    # broadcast back, top-k via TakeOrdered heaps — never a global sort
    s = assert_plan(q(spark, "llm_bm25_topk"), forbid_python=True)
    assert "TakeOrdered" in s.text, s.text
    assert s.n_broadcasts >= 2, s.text
    # dup-ngram fraction: gram docfreq partial agg + join back + doc rollup
    assert_plan(q(spark, "llm_dup_ngram_fraction"), max_exchanges=4, forbid_python=True)
    # int8 quantization: pure projection — zero shuffle at any corpus size
    assert_plan(q(spark, "llm_embed_quantize"), max_exchanges=0, forbid_python=True)
    # triangle counting: oriented wedge join — equi-joins only, no
    # cartesian/BNL anywhere, no Python.  e and o are localCheckpointed at
    # their DAG forks (each fans out 2-3 ways), so the final plan must NOT
    # duplicate the upstream edge pipeline: before the fix it held 109
    # exchanges / 45 parquet scans with zero ReusedExchange; now the
    # checkpointed tables are built once and the residual plan is the
    # wedge join + closure probe + count only.
    s = plan_summary(q(spark, "osm_triangle_count"))
    assert "Cartesian" not in s.text and "BroadcastNestedLoop" not in s.text, s.text
    assert s.n_python_evals == 0, s.text
    assert s.n_exchanges <= 8, s.text
    # curation recipe: the whole default chain is Column algebra + the
    # pinned dedup shapes — no Python anywhere
    s = plan_summary(q(spark, "llm_curation_recipe"))
    assert s.n_python_evals == 0, s.text
    assert "Cartesian" not in s.text, s.text
    # hilbert layout: the level fold is one aggregate expression — pure
    # projection + ONE partial-aggregated bucket exchange, like z-order
    assert_plan(q(spark, "rel_hilbert_layout"), max_exchanges=1, forbid_python=True)
    # ntile bands: rewritten round 11 (bucketed distributed rank, no
    # global window) — detailed pin in test_round11_operator_plan_shapes
    assert_plan(q(spark, "rel_ntile_bands"), max_exchanges=6, forbid_python=True)
    # bitmap rollup: bitwise aggs are associative — ONE partial-agg exchange
    assert_plan(q(spark, "rel_bitmap_flags"), max_exchanges=1, forbid_python=True)
    # bearing histogram: way window + broadcast node attaches + 36-row agg
    s = assert_plan(q(spark, "osm_bearing_histogram"), max_exchanges=3, forbid_python=True)
    assert s.n_broadcasts >= 2, s.text
    # map matching: cell-key equi-join only — never probe x segments
    s = plan_summary(q(spark, "osm_map_match"))
    assert "Cartesian" not in s.text and "BroadcastNestedLoop" not in s.text, s.text
    assert s.n_python_evals == 0, s.text
    # ROUGE overlap: rides the inverted-index candidates + two id joins
    s = plan_summary(q(spark, "llm_rouge_overlap"))
    assert s.n_python_evals == 0 and "Cartesian" not in s.text, s.text
    # mixture planner: domain rollup broadcast back — per-doc assignment
    # never shuffles (one partial-agg exchange for the domain table)
    s = assert_plan(q(spark, "llm_mixture_epochs"), max_exchanges=1, forbid_python=True)
    assert s.n_broadcasts >= 1, s.text
    # SQL Q5: 6-table join tree — dims broadcast, no cartesian
    s = assert_plan(q(spark, "rel_sql_tpch_q5"), max_exchanges=1, forbid_python=True)
    assert s.n_broadcasts >= 3 and "Cartesian" not in s.text, s.text
    # k-anonymity: two stacked partial-agg exchanges, nothing else
    assert_plan(q(spark, "rel_k_anonymity"), max_exchanges=2, forbid_python=True)
    # heavy-hitters batch face: count agg + map-side WindowGroupLimit
    s = assert_plan(q(spark, "stream_heavy_hitters"), max_exchanges=2, forbid_python=True)
    assert "WindowGroupLimit" in s.text, s.text
    # HLL registers: distinct + register agg; 256-row global window
    assert_plan(q(spark, "rel_hll_registers"), max_exchanges=3, forbid_python=True)
    # Bloom words: key distinct + bit distinct + 32-row word agg
    assert_plan(q(spark, "rel_bloom_filter"), max_exchanges=3, forbid_python=True)
    # late-data audit: the high-water window and the rollup share ONE
    # user_id exchange
    assert_plan(q(spark, "stream_late_events"), max_exchanges=1, forbid_python=True)
    # settlement clustering: literal-centroid assignment is a projection;
    # ONE partial-agg cluster exchange (training rides the artifact cache)
    assert_plan(q(spark, "osm_settlement_clusters"), max_exchanges=1, forbid_python=True)


# every suite query that attaches coordinates from the nodes table — OSM's
# LARGEST relation (~1e9 rows at planet scale).  A forced broadcast() hint
# on it overrides Catalyst's size check and is a driver OOM at 100x, so
# these must all route through the unhinted suite._util.coords_lookup and
# let AQE pick broadcast only when runtime stats say the table fits.
_NODES_FACT_QUERIES = [
    "osm_way_length",
    "osm_way_area",
    "osm_way_centroid",
    "osm_way_compactness",
    "osm_simplify_radial",
    "osm_length_by_class",
    "osm_bbox_clip",
    "osm_geojson_lines",
    "osm_point_in_polygon",
    "osm_map_match",
    "osm_way_interpolate",
    "osm_bearing_histogram",
    "osm_bearing_rose",
    "osm_linestring_wkt",
    "osm_integrity_report",
]


def test_no_forced_broadcast_on_nodes_fact(spark):
    """No unconditional broadcast hint may appear on a nodes-fact join.

    broadcast() hints survive into the optimized logical plan as
    ``strategy=broadcast`` join-hint annotations regardless of size
    configs, so hint-absence is checkable without executing anything —
    and without depending on what AQE chooses at this scale (it is free
    to broadcast; the point is that the *choice* stays Catalyst's)."""
    offenders = {}
    for name in _NODES_FACT_QUERIES:
        df = q(spark, name)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        if "strategy=broadcast" in opt:
            offenders[name] = opt.count("strategy=broadcast")
    assert not offenders, f"forced broadcast hints on nodes-fact joins: {offenders}"


# ---------------------------------------------------------------------------
# Generalized no-forced-broadcast pin (round 5, VERDICT r4 "What's wrong #1"):
# a broadcast() hint is only ever allowed on a relation whose cardinality is
# FIXED (nation=25, region=5 rows) or provably bounded (1-row totals, k-row
# centroid/vocab tables).  Any relation that scales with sf — customer,
# supplier, part, orders, lineitem, events, documents, embeddings, or a
# per-user/per-doc aggregate of them — must join UNHINTED so AQE's runtime
# size check (which degrades gracefully to SMJ) makes the call.  A forced
# hint on a scaling table is a driver OOM at the 100 TB design point.
#
# Detection: broadcast() hints are resolved during analysis into
# ResolvedHint(strategy=broadcast) nodes, which exist in the ANALYZED plan
# only — the optimizer's EliminateResolvedHint (Finish Analysis batch) folds
# them into Join nodes' leftHint/rightHint before the optimized plan, so a
# ResolvedHint walk over optimizedPlan() finds nothing (verified empirically
# on Spark 4.1.2; the whole-string check in
# test_no_forced_broadcast_on_nodes_fact still works on the optimized plan
# because Join.toString prints its hint fields).  We walk the analyzed JVM
# plan tree, take each broadcast-hinted SUBTREE's string, and flag it if a
# signature column of any scaling base table appears in it — signature
# columns are unique to
# their table, and attribute names persist through projections/renames, so
# this catches hints on derived tables (e.g. a per-user aggregate of events)
# as well as raw scans.  Queries whose hinted subtrees are legitimately
# bounded aggregates OF a scaling table (1-row totals, per-returnflag
# medians — 3-value group domain) are exempted by not being listed.

_SCALING_TABLE_SIGNATURES = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_linenumber",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

_NO_SCALING_BROADCAST_QUERIES = [
    # the seven round-4 offenders, now fixed
    "rel_join_revenue_by_nation",
    "rel_ratio_to_report",
    "rel_market_share",
    "rel_rollup_revenue",
    "llm_knn_label",
    "stream_user_zscore",
    # other join-tree queries that must stay clean
    "rel_semi_join",
    "rel_anti_join",
    "rel_left_join_coalesce",
    "rel_topk_orders",
    "rel_sql_tpch_q5",
    "rel_data_contract_audit",
    # ANN family (round 6): probe projections derive from embeddings and
    # scale with sf — their broadcast() hints were dropped alongside the
    # detector fix (functions/similarity.py, suite/llm.py)
    "llm_cosine_topk",
    "llm_ann_grid_topk",
    "llm_ann_ivf_topk",
    "llm_ann_pq_topk",
    "llm_hard_negative_mine",
]


def _iter_jvm_plan(node):
    yield node
    children = node.children()
    for i in range(children.length()):
        yield from _iter_jvm_plan(children.apply(i))


def _scaling_broadcast_hits(df):
    hits = []
    analyzed = df._jdf.queryExecution().analyzed()
    for node in _iter_jvm_plan(analyzed):
        if node.nodeName() != "ResolvedHint":
            continue
        sub = node.toString()
        if "strategy=broadcast" not in sub:
            continue
        for tbl, sig in _SCALING_TABLE_SIGNATURES.items():
            if sig in sub:
                hits.append(tbl)
    return hits


def test_scaling_broadcast_detector_not_vacuous(spark, tmp_path):
    """Canary for the detector itself: a deliberately hinted join on an
    embeddings-derived projection MUST be flagged.  Round 5 shipped a
    version of this detector that walked optimizedPlan() for ResolvedHint
    nodes — which never exist there (EliminateResolvedHint folds them into
    Join hints before optimization), so the pin silently passed on real
    offenders.  This test fails if that regression ever returns."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 5).select("vec_id")
    bad = emb.join(F.broadcast(probes.withColumnRenamed("vec_id", "pid")),
                   F.col("vec_id") != F.col("pid"))
    assert _scaling_broadcast_hits(bad) == ["embeddings"]
    good = emb.join(probes.withColumnRenamed("vec_id", "pid"),
                    F.col("vec_id") != F.col("pid"))
    assert _scaling_broadcast_hits(good) == []


def test_no_forced_broadcast_on_scaling_tables(spark):
    offenders = {}
    for name in _NO_SCALING_BROADCAST_QUERIES:
        hits = _scaling_broadcast_hits(q(spark, name))
        if hits:
            offenders[name] = hits
    assert not offenders, (
        f"forced broadcast() hints on sf-scaling relations: {offenders} — "
        "drop the hint and let AQE decide (suite/_util.py coords_lookup "
        "discipline)"
    )


def test_shortest_path_edges_unhinted(spark):
    """osm_shortest_path runs a driver-side Bellman-Ford loop at build
    time, so pin the hint-absence on its edge-build stage the same way —
    the edges DataFrame is the part that joins the nodes fact."""
    from osmdatapy_spark.suite.analytics import _shortest_path_edges

    edges = _shortest_path_edges(spark, SF_DIR)
    opt = edges._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in opt, opt


def test_dsir_corpus_never_shuffles_for_scoring(spark):
    # the 256-row weight table broadcasts; wide exchanges are the bucket
    # count agg and the per-doc sum only
    assert_plan(
        q(spark, "llm_dsir_weight"),
        max_exchanges=4,
        min_broadcasts=2,
        forbid_python=True,
    )


def test_round9_operator_plan_shapes(spark):
    """Plan pins for the round-9 operators, per their registered claims."""
    # Q10: date filter pushes to the orders scan, dims broadcast at this
    # SF, ONE partial-aggregated customer rollup; top-20 is TakeOrdered
    s = assert_plan(q(spark, "rel_sql_tpch_q10"), max_exchanges=1, forbid_python=True)
    assert s.n_broadcasts >= 2, s.text
    # Q18: the HAVING subquery decorrelates to a semi-join on the
    # aggregated heavy-order set — two lineitem rollups + final group
    assert_plan(q(spark, "rel_sql_tpch_q18"), max_exchanges=3, forbid_python=True)
    # diff-by-region: full-outer epoch compare (2 co-partitioned sides) +
    # refs/coords attach + probe-key pre-agg + cell join + election +
    # rollup.  The pre-agg buys a bounded containment-join input (unique
    # coordinate keys, not diff volume) at the cost of one extra tiny
    # exchange — the 100 TB trade documented in the registration.
    assert_plan(q(spark, "osm_diff_by_region"), max_exchanges=8, forbid_python=True)
    # Q4: EXISTS decorrelates to one semi-join; orders prune on the date
    # filter first; ONE rollup exchange (5 groups)
    s = assert_plan(q(spark, "rel_sql_tpch_q4"), max_exchanges=1, forbid_python=True)
    assert s.n_broadcasts >= 1, s.text
    # Q14: broadcast part join + single-group conditional aggregate
    assert_plan(q(spark, "rel_sql_tpch_q14"), max_exchanges=1, forbid_python=True)
    # Q6: single-table scan-agg — predicate fully pushed, one exchange of
    # single-group partials, never a join
    assert_plan(q(spark, "rel_sql_tpch_q6"), max_exchanges=1, forbid_python=True)
    # Q13: join-condition-filtered left join + per-customer count +
    # vocabulary-sized histogram
    assert_plan(q(spark, "rel_sql_tpch_q13"), max_exchanges=2, forbid_python=True)


def test_round10_operator_plan_shapes(spark):
    """Plan pins for the round-10 SQL-face queries, per their registered
    claims — fact-to-fact joins are the shapes AQE could silently
    de-broadcast, so the broadcast counts are asserted too."""
    # Q12: l_shipdate range pushed to the lineitem scan; broadcast-able
    # orders side at this SF; ONE vocabulary-sized rollup exchange
    s = assert_plan(q(spark, "rel_sql_tpch_q12"), max_exchanges=1, forbid_python=True)
    assert s.n_broadcasts >= 1, s.text
    assert any("l_shipdate" in f for f in s.pushed_filters), s.text
    # Q16: NOT-IN anti-join (broadcast, dimension-sized) + part join
    # (broadcast) + distinct-agg: partial de-dup then the (brand,type,
    # size) exchange — exactly two exchanges
    s = assert_plan(q(spark, "rel_sql_tpch_q16"), max_exchanges=2, forbid_python=True)
    assert s.n_broadcasts >= 2, s.text
    # Q19: the disjunctive arms must SPLIT — each scan receives its
    # single-side OR-of-ANDs as a pushed filter (quantity bands to
    # lineitem, brand/size bands to part); single-group agg = one exchange
    s = assert_plan(q(spark, "rel_sql_tpch_q19"), max_exchanges=1, forbid_python=True)
    assert any("l_quantity" in f and "Or(" in f for f in s.pushed_filters), s.text
    assert any("p_brand" in f and "Or(" in f for f in s.pushed_filters), s.text
    # Q15: one suppkey rollup feeds both the supplier join and the
    # global-MAX scalar — at most the rollup + a reuse/second-agg pass
    assert_plan(q(spark, "rel_sql_tpch_q15"), max_exchanges=3, forbid_python=True)
    # Q17: the correlated AVG must DECORRELATE — a partkey-keyed lineitem
    # aggregate joined back, never a per-row re-execution
    assert_plan(q(spark, "rel_sql_tpch_q17"), max_exchanges=3, forbid_python=True)
    # Q22: uncorrelated scalar (computed once) + NOT EXISTS anti-join +
    # nation-sized rollup
    assert_plan(q(spark, "rel_sql_tpch_q22"), max_exchanges=3, forbid_python=True)
    # Q1: single-table scan-agg + ORDER BY — predicate pushed, 6 groups
    # of partials combine map-side, one rollup + one sort exchange
    s = assert_plan(q(spark, "rel_sql_tpch_q1"), max_exchanges=2, forbid_python=True)
    assert any("l_shipdate" in f for f in s.pushed_filters), s.text


# ---------------------------------------------------------------------------
# Unpartitioned-window lint (round-11 verdict ask #3)
# ---------------------------------------------------------------------------

# Registered queries whose plans legitimately contain a globally-ORDERED,
# partition-less Window node.  Every entry must be one of the three bounded
# classes the audit allows; anything else is the rel_ntile_bands regression
# class (a data-sized table funneled through ONE task) and fails the lint.
_GLOBAL_WINDOW_OK = {
    # -- rank windows over a limit(k)-bounded set (TakeOrdered feeds them,
    #    so the single partition holds ≤k rows by construction)
    "llm_ngram_counts",    # row_number over the top-100 gram set
    "llm_zipf_fit",        # row_number over the top-500 vocabulary cut
                           # (round-11 rewrite: TakeOrdered feeds it)
    "llm_bm25_topk",       # rank over the per-query top-k union
    "llm_hybrid_rrf",      # three rank windows, each over a top-100 leg
    # -- tiny-ledger prefix sums (input is a bounded side table, not data)
    "rel_key_skew_profile",   # exclusive prefix over the distinct-count
                              # ledger (one row per distinct per-key count)
    "rel_skyline_frontier",   # running-min over the per-size candidate
                              # table (~50 rows: p_size domain)
    # rel_funnel_conversion rotated out r13: the single-pass per-user fold
    # computes all step counts in one aggregate — no step-ledger window
    # -- documented metadata-scale exception
    "rel_compaction_plan",    # running-sum over file METADATA (~1 row per
                              # file); scale rationale in its doc
}


def test_no_unpartitioned_data_windows(spark):
    """Blanket lint: no registered query may plan a globally-ordered
    Window over a non-allow-listed input — the `WindowExec: No Partition
    Defined` single-task funnel (round-10 verdict: rel_ntile_bands).
    Allow-listed entries must still BE global windows (so stale entries
    rot out of the list), and the two round-11 rewrites must stay
    clean."""
    from osmdatapy_spark.plans.audit import explain_text, global_ordered_windows

    offenders: dict[str, list[str]] = {}
    allow_hits: set[str] = set()
    for name, qd in QUERY_REGISTRY.items():
        if name in _SKIP_BUILD:
            continue
        wins = global_ordered_windows(explain_text(qd.fn(spark, SF_DIR)))
        if not wins:
            continue
        if name in _GLOBAL_WINDOW_OK:
            allow_hits.add(name)
        else:
            offenders[name] = wins
    assert not offenders, f"unpartitioned ordered windows: {offenders}"
    stale = _GLOBAL_WINDOW_OK - allow_hits
    assert not stale, f"allow-list entries with no global window (remove): {stale}"


# ---------------------------------------------------------------------------
# Cartesian / nested-loop join lint (round-12 verdict ask #3)
# ---------------------------------------------------------------------------

# Registered queries whose plans legitimately contain a
# BroadcastNestedLoopJoin.  Every entry is an audited BOUNDED-broadcast
# site — a keyless join against a 1-row aggregate (threshold, corpus
# stat, grand total) or a single probe vector — never a data×data loop.
# CartesianProduct (the non-broadcast loop: both sides shuffled, O(n·m)
# compares) has NO allow-list: no registered query may ever plan one.
_BNLJ_OK = {
    "llm_cosine_topk",        # 1-row probe-vector broadcast
    "llm_knn_label",          # 1-row probe-vector broadcast
    "llm_hard_negative_mine", # 1-row anchor-vector broadcast
    "llm_ann_pq_topk",        # 1-row probe/codebook broadcast
    "llm_percentile_filter",  # 1-row approx-quantile threshold
    "llm_bm25_topk",          # 1-row corpus stats (N, avgdl) ×2
    "llm_hybrid_rrf",         # per-leg 1-row stats (bm25 legs + probe)
    "llm_retrieval_recall",   # per-leg 1-row corpus stats
    "llm_lm_score",           # 1-row total-token normalizer
    "llm_temperature_mixture",# 1-row weight-normalization constant
    "llm_dsir_weight",        # 1-row importance-weight normalizer
    "rel_ntile_bands",        # 1-row cuts array + 1-row grand total
}


def test_no_cartesian_or_unbounded_nested_loop_joins(spark):
    """Blanket lint: no registered query may plan a CartesianProduct
    (ever), and BroadcastNestedLoopJoin only for the allow-listed audited
    1-row-broadcast sites — the join-shape twin of the window lint above.
    Allow-listed entries must still PLAN a BroadcastNestedLoopJoin (so
    stale entries rot out of the list the same way)."""
    from osmdatapy_spark.plans.audit import explain_text, nested_loop_joins

    cartesians: dict[str, list[str]] = {}
    rogue_bnlj: dict[str, list[str]] = {}
    allow_hits: set[str] = set()
    for name, qd in QUERY_REGISTRY.items():
        if name in _SKIP_BUILD:
            continue
        nodes = nested_loop_joins(explain_text(qd.fn(spark, SF_DIR)))
        if not nodes:
            continue
        if "CartesianProduct" in nodes:
            cartesians[name] = nodes
        if "BroadcastNestedLoopJoin" in nodes:
            if name in _BNLJ_OK:
                allow_hits.add(name)
            else:
                rogue_bnlj[name] = nodes
    assert not cartesians, f"CartesianProduct joins (forbidden outright): {cartesians}"
    assert not rogue_bnlj, (
        f"non-allow-listed BroadcastNestedLoopJoin: {rogue_bnlj} — if the "
        "broadcast side is a bounded 1-row aggregate/ledger, audit it and "
        "add the query to _BNLJ_OK with the bounded-side annotation"
    )
    stale = _BNLJ_OK - allow_hits
    assert not stale, f"allow-list entries with no nested-loop join (remove): {stale}"


def test_round11_operator_plan_shapes(spark):
    """Plan pins for the round-11 rewrites."""
    from osmdatapy_spark.plans.audit import global_ordered_windows

    # ntile via bucketed distributed rank: the ONLY window is partitioned
    # by bucket; cuts/ledger/total ride broadcasts; spend folds once
    # (persisted) — bounded exchange budget, no Python
    s = assert_plan(q(spark, "rel_ntile_bands"), max_exchanges=6, forbid_python=True)
    assert not global_ordered_windows(s.text), s.text
    assert s.n_broadcasts >= 3, s.text
    # zipf fit: top-500 cut is TakeOrdered BEFORE the rank window, so the
    # (still global) rank window's input is limit-bounded, never the
    # full vocabulary
    s = assert_plan(q(spark, "llm_zipf_fit"), forbid_python=True)
    assert "TakeOrderedAndProject" in s.text, s.text


def test_tpch_partsupp_five_plan_shapes(spark):
    """Plan pins for the derived-partsupp TPC-H five (round-11 SQL-face
    completion), per their registered claims."""
    import re

    # Q21: the multi-EXISTS must plan as ONE semi + ONE anti hash join
    # on orderkey — never a nested re-execution per outer row
    s = assert_plan(q(spark, "rel_sql_tpch_q21"), forbid_python=True)
    assert re.search(r"LeftSemi", s.text), s.text
    assert re.search(r"LeftAnti", s.text), s.text
    assert "NestedLoop" not in s.text and "Cartesian" not in s.text, s.text
    # Q2: the correlated per-part MIN decorrelates to a partkey-keyed
    # aggregate joined back; dims broadcast
    s = assert_plan(q(spark, "rel_sql_tpch_q2"), forbid_python=True)
    assert s.n_broadcasts >= 2, s.text
    assert "NestedLoop" not in s.text and "Cartesian" not in s.text, s.text
    # Q9: composite-key fact join + (nation, year) rollup — no Python,
    # dims broadcast, bounded exchange budget (partsupp distinct + the
    # composite-key join + rollup)
    s = assert_plan(q(spark, "rel_sql_tpch_q9"), max_exchanges=5, forbid_python=True)
    assert s.n_broadcasts >= 2, s.text
    # Q20: the correlated scalar SUM decorrelates (no per-row loops) and
    # the date window reaches the lineitem scan as a pushed filter
    s = assert_plan(q(spark, "rel_sql_tpch_q20"), forbid_python=True)
    assert any("l_shipdate" in f for f in s.pushed_filters), s.text
    assert "NestedLoop" not in s.text and "Cartesian" not in s.text, s.text
    # Q11: partkey rollup + final sort, ×2 because the uncorrelated
    # scalar threshold re-derives the same partsupp lineage (identical
    # ANSI text on both engines precludes a persist; SQL-face cost)
    assert_plan(q(spark, "rel_sql_tpch_q11"), max_exchanges=6, forbid_python=True)
