"""The one directory-watcher implementation behind both stream sources.

Both watchers (``xml.py:OsmXmlSimpleStreamReader`` over ``.osc``
changefiles, ``pbf.py:OsmPbfSimpleStreamReader`` over ``.pbf`` epoch
extracts) are ``DirectoryWatcher`` subclasses that supply only their file
suffixes and ``_rows``.  Offsets key on the last processed file's
BASENAME, so the listing they advance over must sort by basename and each
basename must be unique — this module owns that contract, the
``maxFilesPerTrigger`` ration and the offset arithmetic, so a hardening
applied to one watcher cannot miss the other.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import SimpleDataSourceStreamReader
from pyspark.sql.types import StructType


def get_option(options: dict, name: str, default: str) -> str:
    """Case-insensitive option lookup for data-source readers.

    Spark hands Python data sources a ``CaseInsensitiveDict`` that STORES
    keys lowercased, and ``dict(options)`` keeps them lowercased — so a
    plain ``options.get("maxFilesPerTrigger")`` silently returns the
    default for an option the user definitely set.  This helper matches
    the spec'd camelCase name against lowercased keys, and still works on
    plain dicts (tests construct readers directly)."""
    low = name.lower()
    for k, v in dict(options).items():
        if k.lower() == low:
            return v
    return default


def list_watched_files(path: str, suffixes: tuple[str, ...], source_name: str) -> list[str]:
    """Basename-ordered listing of the files a watcher advances over.

    Sorted by BASENAME — the offset scalar compares basenames, so the
    sort key and the offset key must agree, or a glob spanning multiple
    directories could emit a file whose basename sorts above the
    recorded end offset (duplicates on replay).  Basenames must be
    zero-padded (the replication-sequence contract, ``000123.osc``):
    lexicographic order is the arrival order only then — ``9.osc``
    sorting after ``10.osc`` would be silently skipped, so a listing
    whose basenames are not all the same width is rejected loudly, as
    are duplicate basenames across a multi-directory glob (they make
    the offset ambiguous).  Hidden dotfiles (editor swap files, macOS
    AppleDouble ``._*`` sidecars) are skipped: they are not part of any
    replication sequence, they sort before every real file (``.`` <
    ``0``) so one could permanently wedge an existing stream below its
    recorded offset, and their content would crash the decode.
    """
    import glob

    if os.path.isdir(path):
        files = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(suffixes) and not f.startswith(".")
        ]
    else:
        # an explicit glob already states the pattern — don't second-guess
        # its extension (both watchers' batch readers do the same); still
        # drop dotfiles a permissive '*' pattern would sweep in
        files = [f for f in glob.glob(path) if not os.path.basename(f).startswith(".")]
    files.sort(key=os.path.basename)
    seen: set[str] = set()
    dupes: set[str] = set()
    for f in files:
        n = os.path.basename(f)
        (dupes if n in seen else seen).add(n)
    if dupes:
        raise ValueError(
            f"{source_name} stream source: duplicate basenames across the "
            f"glob {sorted(dupes)[:3]} — offsets are basename-keyed, so "
            "each file must have a unique (zero-padded) name"
        )
    # zero-padding lint on the sequence STEM, not the whole basename: a
    # directory may legally mix suffixes of different lengths (the xml
    # watcher advertises .osc/.osc.gz/.osc.bz2 — compression enabled
    # mid-stream is fine, digits decide the order before the suffix), so
    # strip the matched suffix first and require the remaining stems to
    # be one width — '9.osc' + '10.osc' fails loudly, '000009.osc' +
    # '000010.osc.gz' passes.
    def _stem(f: str) -> str:
        n = os.path.basename(f)
        for suf in sorted(suffixes, key=len, reverse=True):
            if n.endswith(suf):
                return n[: -len(suf)]
        return n.split(".", 1)[0]

    # ... and only over the purely NUMERIC stems: those are the one
    # case where lexicographic != numeric order actually skips files.
    # Non-numeric stems (date-stamped names, an .osm snapshot beside
    # numbered .osc diffs) sort consistently at whatever widths they
    # have — hard-failing those would break a deployed stream at its
    # next listing for a hazard it doesn't face.  The guard applies to
    # the numeric SUBSET, not all-or-nothing: one snapshot.osm beside
    # unpadded '9.osc'/'10.osc' diffs (the motivating mixed directory)
    # must still fail loudly for the numeric sequence it would skip.
    stems = [_stem(f) for f in files]
    num_widths = {len(s) for s in stems if s.isdigit()}
    if len(num_widths) > 1:
        numeric = [f for f in files if _stem(f).isdigit()]
        by_len = sorted(numeric, key=lambda f: (len(_stem(f)), f))
        raise ValueError(
            f"{source_name} stream source: basenames are not zero-padded to "
            f"a uniform width (e.g. {os.path.basename(by_len[0])!r} vs "
            f"{os.path.basename(by_len[-1])!r}) — lexicographic order is the "
            "arrival order only for equal-width names ('10.osc' sorts before "
            "'9.osc'), so an unpadded sequence would be silently skipped; "
            "rename files to a fixed-width sequence (000123.osc)"
        )
    return files


class DirectoryWatcher(SimpleDataSourceStreamReader):
    """Emit each file that appears under ``path`` with a lexicographically
    LATER basename exactly once.

    The offset is the last processed file's basename, so
    ``readBetweenOffsets`` replays any (start, end] window
    deterministically for recovery.  The unit of progress is the FILE.

    ``maxFilesPerTrigger`` (0 = unlimited) rations arrivals: the simple
    reader pickles a whole microbatch's rows on the driver, so with the cap
    set the offset advances past only the first N new files per microbatch
    and the rest arrive in later triggers.  It stays opt-in because the
    simple reader plans exactly one ``read()`` per ``availableNow`` run — a
    default cap would make drain-everything jobs stop after one ration."""

    source = ""  # the format name, for error messages
    suffixes: tuple[str, ...] = ()

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.options = dict(options)
        self.path = self.options.get("path")
        if not self.path:
            raise ValueError(f"{self.source} stream source requires a directory path")
        self.max_files = int(get_option(options, "maxFilesPerTrigger", "0"))
        if self.max_files < 0:
            raise ValueError(f"{self.source} stream source: maxFilesPerTrigger must be >= 0")

    def initialOffset(self) -> dict:
        return {"last": ""}

    def _all_files(self) -> list[str]:
        return list_watched_files(self.path, self.suffixes, self.source)

    def _rows(self, files: list[str]) -> list[tuple]:
        """All rows of ``files`` as schema-ordered tuples.  A LIST, not a
        generator: the simple-reader wrapper prefetches and pickles the
        batch to cache it against replay."""
        raise NotImplementedError

    def read(self, start: dict):
        new = [f for f in self._all_files() if os.path.basename(f) > start["last"]]
        if self.max_files > 0:
            new = new[: self.max_files]
        if not new:
            return [], start
        return self._rows(new), {"last": os.path.basename(new[-1])}

    def readBetweenOffsets(self, start: dict, end: dict) -> list[tuple]:
        # recovery replay of a committed window: the ration was already
        # applied when the window was planned
        files = [
            f
            for f in self._all_files()
            if start["last"] < os.path.basename(f) <= end["last"]
        ]
        return self._rows(files)
