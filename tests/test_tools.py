"""Command-line tools under tools/ and scripts/ (no Spark session)."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

import numpy as np
import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL_FILES = sorted(
    os.path.join(d, f)
    for d in ("tools", "scripts")
    for f in os.listdir(os.path.join(ROOT, d))
    if f.endswith(".py")
)


def _load(rel: str):
    name = os.path.splitext(os.path.basename(rel))[0]
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("rel", TOOL_FILES)
def test_tool_module_imports(rel):
    """Every tool imports cleanly (main stays behind the __main__ guard),
    so a tool still importing a removed library symbol fails here."""
    assert hasattr(_load(rel), "main")


def _library_imports():
    """(file, module, name) for every ``from syslog_spark... import name``
    in the code that drives the library from outside it, at any depth:
    perfbench imports inside functions, so a deleted name would otherwise
    fail only when the benchmark runs."""
    files = (
        sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))
        + [os.path.join(ROOT, "__spark_entry__.py")]
        + [os.path.join(ROOT, rel) for rel in TOOL_FILES]
    )
    for path in files:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (
                node.module or ""
            ).split(".")[0] == "syslog_spark":
                for alias in node.names:
                    yield os.path.relpath(path, ROOT), node.module, alias.name


def test_library_names_resolve():
    """Every name those files import from syslog_spark exists: a module
    attribute or a submodule."""
    imports = sorted(set(_library_imports()))
    missing = []
    for rel, module, name in imports:
        if hasattr(importlib.import_module(module), name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{rel}: from {module} import {name}")
    assert any(rel.startswith("perfbench") for rel, _m, _n in imports)
    assert not missing, missing


def test_upscale_rotate_text_rejects_wrapping_copies(monkeypatch):
    up = _load("tools/upscale_sf.py")
    col = pa.chunked_array([["abc xyz", None]])
    assert up.rotate_text(col, 1).to_pylist() == ["bcd yza", None]
    assert up.rotate_text(col, 25).to_pylist() == ["zab wxy", None]
    with pytest.raises(ValueError):
        up.rotate_text(col, 26)  # identity again: cross-copy near-dups
    monkeypatch.setattr("sys.argv", ["upscale_sf.py", "--copies", "27"])
    with pytest.raises(SystemExit):
        up.main()


def test_upscale_permute_vecs_rejects_null_and_ragged_rows():
    up = _load("tools/upscale_sf.py")
    t = pa.list_(pa.float32())
    ok = pa.chunked_array([pa.array([[1, 2, 3], [4, 5, 6]], t)])
    out = np.array(up.permute_vecs(ok, 1, 3).to_pylist())
    assert sorted(out[0]) == [1, 2, 3] and sorted(out[1]) == [4, 5, 6]
    assert (out[1] - out[0] == 3).all()  # one permutation for every row
    for bad in ([[1, 2, 3], None, [4, 5, 6]],   # null row
                [[1, 2, 3, 4], [5, 6]],         # ragged, same total
                [[1, 2, None], [4, 5, 6]]):     # null element
        with pytest.raises(ValueError):
            up.permute_vecs(pa.chunked_array([pa.array(bad, t)]), 1, 3)


def test_gate_check_gates_its_own_checkout(tmp_path, monkeypatch):
    """gate_check puts the checkout it lives in first on sys.path, so a
    copy of the repo gates its own code: load a copy of the tool from
    another directory and check the path it inserts."""
    import shutil
    import sys

    checkout = tmp_path / "checkout"
    (checkout / "tools").mkdir(parents=True)
    shutil.copy(os.path.join(ROOT, "tools", "gate_check.py"),
                checkout / "tools" / "gate_check.py")
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location(
        "gate_check_copy", checkout / "tools" / "gate_check.py"
    )
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    assert sys.path[0] == str(checkout)
