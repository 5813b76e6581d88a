"""Import smoke test for the command-line scripts: ``bench.py`` and every
``tools/*.py`` must import as a module without running ``main()`` and
without starting a Spark session (importing is what a reader or a test
of one helper does)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = [REPO / "bench.py", *sorted((REPO / "tools").glob("*.py"))]

_PROBE = """
import importlib.util, json, sys
from pyspark import SparkContext
loaded = []
for i, path in enumerate(sys.argv[1:]):
    spec = importlib.util.spec_from_file_location(f"_script_{i}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    loaded.append(hasattr(mod, "main"))
print(json.dumps({"loaded": loaded,
                  "context": SparkContext._active_spark_context is not None,
                  "gateway": SparkContext._gateway is not None}))
"""


def test_scripts_import_without_a_session():
    assert len(SCRIPTS) > 1
    # a fresh interpreter: this test process already holds a session
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, *map(str, SCRIPTS)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["loaded"] == [True] * len(SCRIPTS)
    assert not got["context"] and not got["gateway"], "importing a script started Spark"
