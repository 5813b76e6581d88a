"""Session-level cache for trained ANN artifacts (k-means centroids, PQ
codebooks) — the train/serve split every production vector index makes.

Training (seeded Lloyd over the corpus) is DETERMINISTIC by construction
(see ``kmeans_centroids``: low-id seeds, rounded-L2 assignment with cell
tiebreak, exact DECIMAL means), so a cached artifact is bit-identical to
retraining — the DuckDB oracles that replay training stay exact whether
the query trained or consumed the cache.

At 100 TB this is the only sane shape: centroids/codebooks are k×dim
doubles trained once (on a sample) and persisted; every serving query
consumes them as broadcast-able literals.  The suite queries mirror that
by training at most once per (sf_dir, params) per session; the bench's
serving numbers then measure the scan — which is what scales — while the
one-time training cost is reported separately (bench.py's ann_train_*
entries).
"""

from __future__ import annotations

from typing import Any, Callable, Tuple

from osmdatapy_spark import memo


def train_once(key: Tuple, trainer: Callable[[], Any]) -> Any:
    """Return the cached artifact for ``key``, training it on first use.

    ``key`` must capture everything the artifact depends on (sf_dir,
    algorithm, every hyperparameter); ``trainer`` must be deterministic so
    cache hits are semantically invisible.  Artifacts are process-scoped
    in ``memo``; ``memo.invalidate(sf_dir)`` drops a regenerated
    dataset's artifacts."""
    return memo.get(None, "ann", key, trainer)


def clear() -> None:
    """Drop all cached artifacts (tests / fresh-measurement hooks)."""
    memo.clear("ann")


def save(path: str) -> None:
    """Persist every cached artifact as JSON — the 'tiny parquet side
    table' of a production deployment, minus the parquet (artifacts are
    k×dim float lists; JSON round-trips them exactly via repr floats).
    Keys serialize as their repr; ``load`` restores them with eval-free
    parsing (ast.literal_eval)."""
    import json

    with open(path, "w") as f:
        json.dump({repr(k): v for k, v in memo.items("ann")}, f)


def load(path: str) -> int:
    """Restore artifacts saved by ``save`` into the session cache;
    returns the number loaded.  Training after a restart then costs a
    file read, not a corpus scan — the cross-session face of the
    train/serve split."""
    import ast
    import json

    with open(path) as f:
        data = json.load(f)
    for k, v in data.items():
        memo.put(None, "ann", ast.literal_eval(k), v)
    return len(data)
