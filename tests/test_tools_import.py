"""Every script outside the package must still import.

The scripts are run by hand, so a script that imports a deleted name
would otherwise fail only at its next manual run. Importing does not
run ``main``: each script guards it with ``if __name__ == "__main__"``.
"""

from __future__ import annotations

import importlib.util
import os
from glob import glob

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = ["bench.py"] + sorted(
    os.path.relpath(p, ROOT) for p in glob(os.path.join(ROOT, "tools", "*.py"))
)


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_imports(script):
    path = os.path.join(ROOT, script)
    name = "_script_" + os.path.splitext(os.path.basename(script))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(module.main)
