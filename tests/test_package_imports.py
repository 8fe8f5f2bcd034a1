"""Importing the package has no side effects on the interpreter: no module
edits ``sys.path`` or the environment (Python workers inherit both), and
none pulls in the ``google`` namespace (protobuf)."""

from __future__ import annotations

import json
import subprocess
import sys

from tests.conftest import REPO_ROOT

_PROBE = """
import importlib, json, os, pkgutil, sys
path, env = list(sys.path), dict(os.environ)
import kinesis_writer_spark as pkg
names = [m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
for name in names:
    importlib.import_module(name)
print(json.dumps({
    "modules": names,
    "path_added": [p for p in sys.path if p not in path],
    "path_unchanged": sys.path == path,
    "env_changed": sorted(
        k for k in set(env) | set(os.environ) if env.get(k) != os.environ.get(k)
    ),
    "google": sorted(m for m in sys.modules if m.split(".")[0] == "google"),
}))
"""


def test_importing_every_module_leaves_interpreter_unchanged():
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert "kinesis_writer_spark.streaming.kpl_batcher" in got["modules"]
    assert got["path_unchanged"], f"sys.path gained {got['path_added']}"
    assert got["env_changed"] == []
    assert got["google"] == []
