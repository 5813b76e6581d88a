"""The Python-worker zip-importer guard (``osmdatapy_spark/_pyworker.py``)
and the ``kernel`` mark that brings it into kernel workers.

Each guard check runs in a fresh interpreter: the guard patches
``zipimport.zipimporter`` process-wide, and the checks need importers
created from a zip of their own."""

from __future__ import annotations

import subprocess
import sys
import textwrap
import zipimport
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]

LAZY = hasattr(zipimport.zipimporter, "_get_files")

# a package and three sub-packages, each with a module, so the process
# holds one zip importer for the archive, one for the package and one per
# sub-package
_WRITE_ZIP = """
import zipfile

def write_zip(path, extra=()):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pkg/__init__.py", "")
        for sub in ("a", "b", "c"):
            z.writestr(f"pkg/{sub}/__init__.py", "")
            z.writestr(f"pkg/{sub}/m.py", f"NAME = {sub!r}")
        for name in extra:
            z.writestr(name, "NEW = 1")
"""


def _run(tmp_path, body: str) -> str:
    script = _WRITE_ZIP + textwrap.dedent(body)
    proc = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "lib.zip")],
        cwd=str(ROOT),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    return proc.stdout


@pytest.mark.skipif(LAZY, reason="this interpreter's zip importer is already lazy")
def test_unchanged_archive_is_not_reread(tmp_path):
    """After ``import osmdatapy_spark`` a second ``invalidate_caches()``
    reads no zip directory; a rewritten archive is re-read (its new module
    imports) and a deleted one does not raise."""
    out = _run(tmp_path, """
        import importlib, os, sys, zipimport
        zp = sys.argv[1]
        write_zip(zp)
        sys.path.insert(0, zp)
        import pkg.a.m, pkg.b.m, pkg.c.m
        mine = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter) and f.archive == zp]
        assert len(mine) == 5, mine

        import osmdatapy_spark
        reads = []
        stdlib_read = zipimport._read_directory
        def counted(archive):
            reads.append(archive)
            return stdlib_read(archive)
        zipimport._read_directory = counted

        def invalidate():
            reads.clear()
            importlib.invalidate_caches()
            return reads.count(zp)

        print("first", invalidate())
        print("second", invalidate())
        print("third", invalidate())
        write_zip(zp, extra=["pkg/c/new.py"])
        print("rewritten", invalidate())
        import pkg.c.new
        print("new", pkg.c.new.NEW)
        print("after", invalidate())
        os.remove(zp)
        print("deleted", invalidate())
        print("files", sorted(len(f._files) for f in mine))
    """)
    got = dict(line.split(" ", 1) for line in out.splitlines())
    # one read covers the archive's five importers
    assert got["first"] == "1"
    assert got["second"] == "0" and got["third"] == "0"
    assert got["rewritten"] == "1"
    assert got["new"] == "1"
    assert got["after"] == "0"
    # a missing archive gets the stdlib behaviour: an empty directory
    assert got["files"] == "[0, 0, 0, 0, 0]"


def test_lazy_interpreter_gets_no_guard(tmp_path):
    """Where ``zipimport`` is already lazy (CPython 3.13+ has
    ``zipimporter._get_files``) the stdlib method stays in place."""
    out = _run(tmp_path, """
        import zipimport
        if not hasattr(zipimport.zipimporter, "_get_files"):
            zipimport.zipimporter._get_files = lambda self: self._files
        stdlib = zipimport.zipimporter.invalidate_caches
        import osmdatapy_spark
        from osmdatapy_spark import _pyworker
        print(_pyworker.install(), zipimport.zipimporter.invalidate_caches is stdlib)
    """)
    assert out.split() == ["False", "True"]


@pytest.mark.skipif(LAZY, reason="this interpreter's zip importer is already lazy")
def test_install_is_idempotent(tmp_path):
    out = _run(tmp_path, """
        import importlib, zipimport
        import osmdatapy_spark
        from osmdatapy_spark import _pyworker
        guarded = zipimport.zipimporter.invalidate_caches
        importlib.reload(_pyworker)
        print(_pyworker.install(), zipimport.zipimporter.invalidate_caches is guarded)
    """)
    assert out.split() == ["True", "True"]


def test_kernel_mark_imports_the_package_on_unpickle():
    """A kernel nested in an engine function is pickled by value; marked
    with ``kernel``, unpickling it (as a Python worker does) imports the
    package and so installs the guard."""
    from pyspark import cloudpickle

    from osmdatapy_spark._pyworker import kernel

    def plain(it):
        return it

    @kernel
    def marked(it):
        return it

    def imports_package(fn) -> str:
        proc = subprocess.run(
            [sys.executable, "-c",
             "import sys; from pyspark import cloudpickle; "
             "cloudpickle.loads(sys.stdin.buffer.read()); "
             "print('osmdatapy_spark' in sys.modules)"],
            input=cloudpickle.dumps(fn),
            cwd=str(ROOT),
            capture_output=True,
            timeout=120,
        )
        assert proc.returncode == 0, proc.stderr
        return proc.stdout.decode().strip()

    assert imports_package(plain) == "False"
    assert imports_package(marked) == "True"


_KERNEL_CALLS = {
    "mapInPandas", "applyInPandas", "applyInPandasWithState", "mapInArrow",
    "foreachPartition", "pandas_udf", "arrow_udf",
}


def test_nested_kernels_are_marked():
    """Every function nested in an engine function and handed to a
    Python-worker API carries the ``kernel`` mark (module-level kernels
    are pickled by reference and import the package anyway)."""
    import ast

    unmarked = []
    for path in sorted((ROOT / "osmdatapy_spark").rglob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            nested = {
                n.name: n for n in ast.walk(fn)
                if isinstance(n, ast.FunctionDef) and n is not fn
            }
            for call in ast.walk(fn):
                if not (isinstance(call, ast.Call) and call.args):
                    continue
                f = call.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                arg = call.args[0]
                if name in _KERNEL_CALLS and isinstance(arg, ast.Name) and arg.id in nested:
                    marks = [getattr(d, "id", None) for d in nested[arg.id].decorator_list]
                    if "kernel" not in marks:
                        unmarked.append(f"{path.relative_to(ROOT)}:{nested[arg.id].lineno}")
    assert not unmarked, "Python-worker kernels without @kernel: " + ", ".join(unmarked)
