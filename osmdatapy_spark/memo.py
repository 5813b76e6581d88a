"""The engine's one memo: driver-side handles and artifacts, scoped to an owner.

Every entry is keyed by ``(id(owner), namespace, key)`` and holds its owner
strongly, so the owner's id cannot be reused while the entry exists:

- a ``SparkSession`` owns table and spread handles (``tables.load_table``,
  ``suite._util.TS``), data-source registrations and relation handles
  (``sources._row.load``), managed persists (``managed_persist``) and the
  mark that its conf is tuned (``session.tune_session``);
- the py4j gateway owns parsed expressions (``expr``, ``select``,
  ``geometry.way_geom_type``);
- ``None`` (the process) owns trained ANN artifacts
  (``artifacts.train_once``).

Values are plan handles, expressions and small artifacts, never query
results: every action still computes from its inputs.  A hit is one dict
lookup plus an ``is owner`` check and makes no py4j call.  A miss prunes
the entries of stopped owners, checking each SparkContext (or gateway)
once.

Table datasets are assumed static while a session lives: a table handle
freezes the parquet file listing.  Code that rewrites a dataset in-session
calls ``invalidate(sf_dir)``.  Data-source relation handles are not
assumed static: each entry carries the fingerprint (size, mtime, inode) of
the files its read covers, and ``load`` replaces an entry whose files
changed, since a held relation freezes its blob plan.  ``invalidate(path)``
drops them too.
"""

from __future__ import annotations

import math
import threading
from typing import TYPE_CHECKING, Any, Callable, Hashable

from py4j.java_gateway import JavaGateway
from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_STORE: dict[tuple[int, str, Hashable], tuple[Any, Any]] = {}


def _stopped(owner: Any) -> bool:
    if owner is None:
        return False
    if isinstance(owner, JavaGateway):
        return owner is not SparkContext._gateway
    try:
        jsc = owner._sc._jsc
        return jsc is None or jsc.sc().isStopped()
    except Exception:
        return True


def get(owner: Any, namespace: str, key: Hashable, build: Callable[[], Any]) -> Any:
    """Return the value memoized for ``(owner, namespace, key)``, building
    and storing it on a miss."""
    with _LOCK:
        hit = _STORE.get((id(owner), namespace, key))
    if hit is not None and hit[0] is owner:
        return hit[1]
    value = build()
    put(owner, namespace, key, value)
    return value


def put(owner: Any, namespace: str, key: Hashable, value: Any) -> Any:
    """Store ``value`` after pruning stopped owners; return the value it
    replaced (or None)."""
    with _LOCK:
        # sessions from ``newSession()`` share one SparkContext, so one
        # probe answers for all of them (a gateway is its own context:
        # its __getattr__ would ask the JVM)
        stopped: dict[int, bool] = {}
        for k, (o, _) in list(_STORE.items()):
            ctx = id(o if isinstance(o, JavaGateway) else getattr(o, "_sc", o))
            if ctx not in stopped:
                stopped[ctx] = _stopped(o)
            if stopped[ctx]:
                del _STORE[k]
        prev = _STORE.get((id(owner), namespace, key))
        _STORE[(id(owner), namespace, key)] = (owner, value)
    return prev[1] if prev is not None else None


def expr(sql: str) -> Column:
    """``F.expr(sql)``, parsed once per py4j gateway.

    Built as Column algebra, every node of an expression tree costs ~3-13
    py4j round trips (call-site capture included); a kernel written as SQL
    text costs one parse call the first time and none after.  The SQL text
    is the key, so literals baked into it never reuse a stale expression.
    A memoized Column is an unresolved expression, not data: every plan
    that uses it still resolves and computes it from its own inputs."""
    return get(SparkContext._gateway, "expr", sql, lambda: F.expr(sql))


def select(df: "DataFrame", *sqls: str) -> "DataFrame":
    """``df.select`` over SQL expressions in one py4j call: the parsed
    column list (a JVM ``Seq``) is memoized per gateway like ``expr``.
    ``df.select(*cols)`` would pay one round trip per column to build the
    list on every call."""
    seq = get(
        SparkContext._gateway, "select", sqls,
        lambda: SparkContext._active_spark_context._jvm.PythonUtils.toSeq(
            [expr(s)._jc for s in sqls]
        ),
    )
    return type(df)(df._jdf.select(seq), df.sparkSession)


def dlit(x: float) -> str:
    """Exact SQL DOUBLE literal (the ``F.lit(float)`` of SQL text): repr()
    round-trips IEEE doubles and the string→double cast parses exactly,
    then constant-folds.  Non-finite values raise: the cast would turn
    'nan'/'inf' into NULL."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"non-finite SQL literal {x!r}")
    return f"CAST('{x!r}' AS DOUBLE)"


def ident(name: str) -> str:
    """Backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sstr(s: str) -> str:
    """Single-quoted SQL string literal (backslashes and quotes escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def items(namespace: str) -> list[tuple[Hashable, Any]]:
    with _LOCK:
        return [(k[2], v) for k, (_, v) in _STORE.items() if k[1] == namespace]


def _drop(match: Callable[[str, Hashable], bool]) -> list[Any]:
    with _LOCK:
        gone = [k for k in _STORE if match(k[1], k[2])]
        return [_STORE.pop(k)[1] for k in gone]


def clear(namespace: str) -> None:
    _drop(lambda ns, _: ns == namespace)


def invalidate(sf_dir: str) -> None:
    """Drop every entry whose key names ``sf_dir`` (table and spread
    handles, ANN artifacts), so the next call re-reads the directory."""
    _drop(lambda _, key: isinstance(key, tuple) and sf_dir in key)


def _unpersist(df: "DataFrame") -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # session already stopped — nothing to release


def managed_persist(df: "DataFrame", site: str) -> "DataFrame":
    """Persist ``df`` as the ONE live frame of call site ``site`` in its
    session, unpersisting the frame the site persisted before.

    A builder whose returned plan reads a persisted frame cannot release
    it before the caller's action runs; this bounds session-lifetime
    growth to one frame per site instead.  Contract: one live plan per
    call site.  Building a second plan through the same site before the
    first one's action runs unpersists the first plan's frame — its
    result is unchanged, but its action recomputes that subtree from
    lineage.  Run each plan's action before building the next, or accept
    the recompute."""
    prev = put(df.sparkSession, "persist", site, df)
    if prev is not None and prev is not df:
        _unpersist(prev)
    return df.persist()


def release(site: str | None = None) -> None:
    """Unpersist one call site's frame (or every managed frame)."""
    for df in _drop(lambda ns, key: ns == "persist" and (site is None or key == site)):
        _unpersist(df)
