"""Import smoke test for ``scripts/*.py``: every script keeps its work
under a ``__main__`` guard, so importing it only resolves its imports.
A rename or deletion of an engine name a script uses fails here instead
of in the next session that runs the script."""

import glob
import importlib.util
import os

import pytest

_SCRIPTS = sorted(
    glob.glob(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "*.py"))
)


def test_scripts_found():
    assert _SCRIPTS


@pytest.mark.parametrize("path", _SCRIPTS, ids=os.path.basename)
def test_script_imports(path):
    name = "scripts_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
