"""Every top-level entry point and helper script byte-compiles. Nothing
imports the scripts during the suite, so a syntax error in one would
otherwise go unnoticed until someone ran it."""

import glob
import os
import py_compile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FILES = ["bench.py", "__spark_entry__.py"] + sorted(
    os.path.relpath(p, ROOT) for p in glob.glob(os.path.join(ROOT, "scripts", "*.py"))
)


@pytest.mark.parametrize("relpath", FILES)
def test_compiles(relpath, tmp_path):
    py_compile.compile(
        os.path.join(ROOT, relpath), cfile=str(tmp_path / "out.pyc"), doraise=True
    )
