"""Process-lifetime state hygiene: the one owner-scoped memo
(osmdatapy_spark/memo.py) and the managed persists that live in it.

- repeated invocations of queries that persist() intermediate frames must
  not grow the session's cached-RDD set (``memo.managed_persist``);
- memo entries hold their owner, prune stopped owners, can be
  invalidated per dataset directory, and serve hits without py4j calls;
- data-source relation handles are one per session, path and options,
  and are replaced when the files they read change;
- degenerate quantizer literals fail loudly;
- no module other than memo.py grows its own module-level cache;
- the package reads no environment variable beyond its deployment
  settings."""

from __future__ import annotations

import ast
import gc
import math
import re
import sys
import threading
import weakref
from pathlib import Path

import pytest

from osmdatapy_spark import memo

SF_DIR = "/root/testdata/sf0.001"
PKG = Path(__file__).resolve().parent.parent / "osmdatapy_spark"


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


class _Owner:
    """Session stand-in: ``_sc._jsc`` is what the memo's prune probes."""

    class _Live:
        def sc(self):
            return self

        def isStopped(self):
            return False

    def __init__(self, live: bool = True):
        self._sc = type("SC", (), {"_jsc": self._Live() if live else None})()


@pytest.mark.parametrize(
    "qname",
    [
        "llm_bm25_topk",
        "llm_lm_score",
        "osm_admin_hierarchy",
        "llm_jaccard_pairs",
        "osm_route_linestring",
        "osm_boundary_nested",
        "osm_relation_expand_depth3",
    ],
)
def test_no_session_lifetime_cache_growth(spark, qname):
    from osmdatapy_spark.suite import QUERY_REGISTRY

    fn = QUERY_REGISTRY[qname].fn
    counts = []
    for _ in range(3):
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        counts.append(_n_cached(spark))
    # the LAST invocation's frames may legitimately still be registered
    # (they are part of the returned plan); growth across invocations is
    # the leak the managed persist exists to stop
    assert counts[2] <= counts[0], (
        f"{qname}: cached-RDD count grew across invocations: {counts}"
    )


def test_managed_persist_replaces_previous(spark):
    from osmdatapy_spark.memo import managed_persist, release

    base = _n_cached(spark)
    df1 = managed_persist(spark.range(10), "test.hygiene")
    df1.count()
    assert _n_cached(spark) == base + 1
    df2 = managed_persist(spark.range(20), "test.hygiene")
    df2.count()
    # df1 was released when df2 registered under the same key
    assert _n_cached(spark) == base + 1
    release("test.hygiene")
    assert _n_cached(spark) == base
    # release() is idempotent and tolerates unknown keys
    release("test.hygiene")
    release()


def test_memo_entry_holds_owner_and_other_owner_misses():
    """ADVICE #1: an entry keyed by ``id(owner)`` must keep the owner
    alive, so a recycled id can never serve a stale value; a different
    owner object with the same namespace and key misses."""
    owner = _Owner()
    ref = weakref.ref(owner)
    assert memo.get(owner, "test.owner", "k", lambda: "first") == "first"
    del owner
    gc.collect()
    assert ref() is not None, "memo entry did not hold its owner"
    other = _Owner()
    assert memo.get(other, "test.owner", "k", lambda: "second") == "second"
    assert memo.get(ref(), "test.owner", "k", lambda: "rebuilt") == "first"
    memo.clear("test.owner")


def test_invalidate_rereads_rewritten_dataset(spark, tmp_path):
    """ADVICE #2: a table handle freezes the file listing; after the
    dataset is rewritten, ``invalidate(sf_dir)`` makes load_table see the
    new rows."""
    from osmdatapy_spark.tables import load_table

    sf_dir = str(tmp_path)
    spark.range(5).write.parquet(f"{sf_dir}/t.parquet")
    assert load_table(spark, sf_dir, "t").count() == 5
    spark.range(7).write.mode("overwrite").parquet(f"{sf_dir}/t.parquet")
    memo.invalidate(sf_dir)
    assert load_table(spark, sf_dir, "t").count() == 7
    memo.invalidate(sf_dir)


def test_two_fuzzy_dedup_chains_match_single_chain(spark):
    """ADVICE #3: two chains built before either action share one managed
    shingle cache (one live frame per call site); the first chain loses
    its cache but not its result."""
    from osmdatapy_spark.curate import Curate
    from osmdatapy_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")

    def ids(df):
        return sorted(r["doc_id"] for r in df.select("doc_id").collect())

    single = ids(Curate(docs).fuzzy_dedup().df())
    first = Curate(docs).fuzzy_dedup().df()
    second = Curate(docs).fuzzy_dedup().df()
    assert ids(first) == single
    assert ids(second) == single
    assert len(single) < docs.count()  # the fixture has fuzzy duplicates


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_non_finite_centroid_raises(spark, bad):
    """ADVICE #4: ``CAST('nan' AS DOUBLE)`` would silently become NULL
    distances; a non-finite centroid must fail at build time."""
    from osmdatapy_spark.functions.similarity import ivf_topk

    assert memo.dlit(0.1) == "CAST('0.1' AS DOUBLE)"
    with pytest.raises(ValueError):
        memo.dlit(bad)
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        ivf_topk(corpus, corpus, centroids=[[1.0, 0.0], [bad, 1.0]])


def test_stopped_owner_pruned_on_next_miss():
    """ADVICE #5: an owner whose context is gone (``_sc._jsc is None``,
    what ``SparkContext.stop()`` leaves) is dropped on the next miss."""
    dead, live = _Owner(live=False), _Owner()
    memo.put(dead, "test.prune", "k", "stale")
    assert ("k", "stale") in memo.items("test.prune")
    memo.get(live, "test.prune", "other", lambda: "fresh")
    assert memo.items("test.prune") == [("other", "fresh")]
    memo.clear("test.prune")


def test_concurrent_puts_lose_no_entry():
    """One lock guards the store: puts racing across more threads than
    cores (with a shortened switch interval) keep every entry."""
    n_threads, n_keys = 8, 50

    def fill(t):
        for i in range(n_keys):
            memo.put(None, "test.stress", (t, i), i)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=fill, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(interval)
    assert len(memo.items("test.stress")) == n_threads * n_keys
    memo.clear("test.stress")


def test_ts_handles_live_in_the_memo(spark):
    """TS (the spread table loader) is scoped to its session like
    load_table, so stopped sessions' spread handles are pruned too."""
    from osmdatapy_spark.suite._util import TS

    df = TS(spark, SF_DIR, "documents")
    assert ((SF_DIR, "documents"), df) in memo.items("spread")


def test_tune_session_sets_conf_once_per_session(spark, monkeypatch):
    """A plain session (built without ``get_spark``'s configs) gets
    ``nanosAsLong`` before its first table read, then no conf round trip
    on later loads; a derived session is tuned on its own."""
    from py4j.java_gateway import GatewayClient

    from osmdatapy_spark.suite._util import T

    key = "spark.sql.legacy.parquet.nanosAsLong"
    child = spark.newSession()
    child.conf.set(key, "false")
    assert T(child, SF_DIR, "events").count() > 0
    assert child.conf.get(key) == "true"

    calls = []
    send = GatewayClient.send_command

    def counted(self, *args, **kwargs):
        calls.append(args)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    T(child, SF_DIR, "events")
    assert calls == []


def test_memo_hits_make_no_py4j_calls(spark, monkeypatch):
    from py4j.java_gateway import GatewayClient
    from pyspark.sql import functions as F

    from osmdatapy_spark.operators.geometry import way_geom_type
    from osmdatapy_spark.suite._util import TS
    from osmdatapy_spark.tables import load_table

    def build():
        return (
            load_table(spark, SF_DIR, "documents"),
            TS(spark, SF_DIR, "embeddings"),
            way_geom_type(),
            memo.expr("1 + 1"),
        )

    warm = build()
    calls = []
    send = GatewayClient.send_command

    def counted(self, *args, **kwargs):
        calls.append(args)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    again = build()
    assert len(calls) == 0, f"{len(calls)} py4j round trips on memo hits"
    assert all(a is b for a, b in zip(warm, again))
    F.lit(1)  # the counter does see a real round trip
    assert len(calls) > 0


def test_memo_select_is_one_py4j_call(spark, monkeypatch):
    from py4j.java_gateway import GatewayClient

    base = spark.range(3)
    sqls = ("id", "id * 2 AS twice", "CAST(id AS STRING) AS s")
    memo.select(base, *sqls)
    calls = []
    send = GatewayClient.send_command

    def counted(self, *args, **kwargs):
        calls.append(args)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    out = memo.select(base, *sqls)
    monkeypatch.undo()
    assert len(calls) == 1, f"{len(calls)} py4j round trips for a warm memo.select"
    assert out.collect() == base.selectExpr(*sqls).collect()


def _write_nodes(path, n: int, base: int = 0) -> None:
    from osmdatapy_spark.sources.pbf_codec import PbfWriter

    w = PbfWriter()
    w.add_dense_nodes([(base + i + 1, 10.0 + i * 0.001, 50.0, {}) for i in range(n)])
    w.write(str(path))


def _relation_keys(path) -> list:
    return [k for k, _ in memo.items("relation") if k[1] == str(path)]


def test_repeat_read_is_a_relation_memo_hit(spark, tmp_path, monkeypatch):
    """A second batch read of one path with the same options returns the
    session's held relation handle and makes no py4j call: building a
    relation costs the JVM's Python planner a schema and a blob-plan round
    trip, paid once per session."""
    from py4j.java_gateway import GatewayClient

    from osmdatapy_spark.sources.pbf import read_pbf

    p = tmp_path / "a.osm.pbf"
    _write_nodes(p, 5)
    first = read_pbf(spark, str(p), osmtypes={0}, columns=["osmid", "lon", "lat"])
    calls = []
    send = GatewayClient.send_command
    monkeypatch.setattr(
        GatewayClient, "send_command", lambda self, *a, **k: calls.append(a) or send(self, *a, **k)
    )
    again = read_pbf(spark, str(p), osmtypes={0}, columns=["osmid", "lon", "lat"])
    assert len(calls) == 0, f"{len(calls)} py4j round trips on a relation memo hit"
    assert again is first
    monkeypatch.undo()
    # other options are another relation
    assert read_pbf(spark, str(p)) is not first
    assert first.count() == 5
    memo.invalidate(str(p))


def test_rewritten_file_returns_new_rows(spark, tmp_path):
    """A held relation freezes its blob plan, so the entry carries the
    file's fingerprint: rewriting the file at the same path replaces it."""
    from osmdatapy_spark.sources.pbf import read_pbf

    p = tmp_path / "a.osm.pbf"
    _write_nodes(p, 5)
    assert read_pbf(spark, str(p)).count() == 5
    _write_nodes(p, 8, base=100)
    df = read_pbf(spark, str(p))
    assert sorted(r.osmid for r in df.collect()) == list(range(101, 109))
    memo.invalidate(str(p))


def test_directory_gaining_a_pbf_returns_new_rows(spark, tmp_path):
    from osmdatapy_spark.sources.pbf import read_pbf

    d = tmp_path / "extracts"
    d.mkdir()
    _write_nodes(d / "a.osm.pbf", 5)
    assert read_pbf(spark, str(d)).count() == 5
    _write_nodes(d / "b.osm.pbf", 3, base=100)
    assert read_pbf(spark, str(d)).count() == 8
    memo.invalidate(str(d))


def test_invalidate_drops_relation_entry(spark, tmp_path):
    from osmdatapy_spark.sources.pbf import read_pbf

    p = tmp_path / "a.osm.pbf"
    _write_nodes(p, 5)
    first = read_pbf(spark, str(p))
    assert len(_relation_keys(p)) == 1
    memo.invalidate(str(p))
    assert _relation_keys(p) == []
    assert read_pbf(spark, str(p)) is not first
    memo.invalidate(str(p))


def test_stopped_session_relation_entries_pruned(spark, tmp_path):
    """A relation entry of a stopped session goes on the next store
    write, as every other session-owned entry does."""
    from osmdatapy_spark.sources.pbf import read_pbf

    p = tmp_path / "a.osm.pbf"
    _write_nodes(p, 5)
    key = ("osmpbf", str(p), ())
    memo.put(_Owner(live=False), "relation", key, ((), "stale handle"))
    assert len(_relation_keys(p)) == 1
    assert read_pbf(spark, str(p)).count() == 5  # a miss: the store write prunes
    held = [v[1] for k, v in memo.items("relation") if k == key]
    assert len(held) == 1 and not isinstance(held[0], str)
    memo.invalidate(str(p))


def test_rewrite_loop_keeps_one_entry_per_key(spark, tmp_path):
    from osmdatapy_spark.sources.pbf import read_pbf

    p = tmp_path / "a.osm.pbf"
    for n in (3, 4, 5, 6):
        _write_nodes(p, n)
        assert read_pbf(spark, str(p), osmtypes={0}).count() == n
        assert read_pbf(spark, str(p)).count() == n
    assert sorted(k[2] for k in _relation_keys(p)) == [(), (("osmtypes", "0"),)]
    memo.invalidate(str(p))


_CACHE_NAME = re.compile(r"MEMO|CACHE|^_LIVE$")
_DICT_CALLS = {"dict", "defaultdict", "OrderedDict"}


def _module_level_caches(tree: ast.Module) -> list[str]:
    found = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value, ann = node.targets, node.value, None
        elif isinstance(node, ast.AnnAssign):
            targets, value, ann = [node.target], node.value, node.annotation
        else:
            continue
        is_dict = isinstance(value, (ast.Dict, ast.DictComp)) or (
            isinstance(value, ast.Call)
            and getattr(value.func, "id", getattr(value.func, "attr", None)) in _DICT_CALLS
        )
        if ann is not None and re.match(r"(typing\.)?[Dd]ict\b", ast.unparse(ann)):
            is_dict = True
        for t in targets:
            if isinstance(t, ast.Name) and _CACHE_NAME.search(t.id) and is_dict:
                found.append(t.id)
    return found


def test_guard_detects_twin_caches():
    src = "A_MEMO = {}\n_LIVE: dict = {}\n_X_CACHE = dict()\nOK = {}\nMEMO_DIR = 'x'\n"
    assert _module_level_caches(ast.parse(src)) == ["A_MEMO", "_LIVE", "_X_CACHE"]


def test_memo_is_the_only_module_level_cache():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "memo.py" and path.parent == PKG:
            continue
        for name in _module_level_caches(ast.parse(path.read_text())):
            offenders.append(f"{path.relative_to(PKG.parent)}: {name}")
    assert not offenders, (
        "module-level caches outside osmdatapy_spark/memo.py: " + ", ".join(offenders)
    )


# the deployment settings: core count, the small-file split floor and the
# driver heap.  A new knob is a decision, made here, not a stray getenv.
_ENV_SETTINGS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_OPEN_COST_BYTES", "SPARK_GRAFT_DRIVER_MEM"}


def _env_keys(tree: ast.AST) -> set[str]:
    """String keys of every ``os.environ.get(k)``, ``os.environ[k]`` and
    ``os.getenv(k)`` read; a non-literal key reads as ``<dynamic>``."""

    def key(node):
        return node.value if isinstance(node, ast.Constant) else "<dynamic>"

    def is_environ(node):
        return isinstance(node, ast.Attribute) and node.attr == "environ" or (
            isinstance(node, ast.Name) and node.id == "environ"
        )

    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                (f.attr == "get" and is_environ(f.value))
                or (f.attr == "getenv" and getattr(f.value, "id", None) == "os")
            ):
                found.add(key(node.args[0]))
            elif isinstance(f, ast.Name) and f.id == "getenv":
                found.add(key(node.args[0]))
        elif isinstance(node, ast.Subscript) and is_environ(node.value):
            found.add(key(node.slice))
    return found


def test_env_guard_detects_reads():
    src = (
        "import os\nfrom os import environ, getenv\n"
        "a = os.environ.get('A', '1')\nb = os.environ['B']\nc = os.getenv('C')\n"
        "d = environ.get('D')\ne = getenv('E')\nf = os.environ.get(name)\n"
        "g = {}.get('G')\n"
    )
    assert _env_keys(ast.parse(src)) == {"A", "B", "C", "D", "E", "<dynamic>"}


def test_package_env_reads_are_the_deployment_settings():
    keys = set()
    for path in sorted(PKG.rglob("*.py")):
        keys |= _env_keys(ast.parse(path.read_text()))
    assert keys == _ENV_SETTINGS, (
        f"environment reads under osmdatapy_spark/ changed: {sorted(keys)}"
    )
