"""The benchmark's imports from the package resolve, and its calls bind.
``perfbench/`` imports its probes lazily inside methods, so a renamed
function or parameter would only surface as a failed traced run; this
reads ``perfbench/*.py`` with ``ast``, resolves every ``from routers_spark…
import …`` name and binds every call of an imported function against the
function's signature."""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

import pytest

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"


def _scan() -> tuple[list[tuple], list[tuple]]:
    """(file, module, name) of every package import in perfbench, and
    (file, line, module, name, n_positional, keywords) of every call to
    an imported name."""
    imports, calls = set(), []
    for path in sorted(PERFBENCH.glob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        local = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 0 \
                    and (node.module or "").split(".")[0] == "routers_spark":
                for a in node.names:
                    imports.add((path.name, node.module, a.name))
                    local[a.asname or a.name] = (node.module, a.name)
            elif isinstance(node, ast.Import):
                imports |= {(path.name, a.name, "") for a in node.names
                            if a.name.split(".")[0] == "routers_spark"}
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Name) \
                    and node.func.id in local:
                if any(isinstance(a, ast.Starred) for a in node.args) \
                        or any(k.arg is None for k in node.keywords):
                    continue  # *args / **kwargs: nothing to bind statically
                calls.append((path.name, node.lineno, *local[node.func.id],
                              len(node.args), [k.arg for k in node.keywords]))
    return sorted(imports), calls


IMPORTS, CALLS = _scan()


def test_workloads_probe_the_shard_layer():
    """The scan sees the lazy imports and calls inside the workloads."""
    called = {n for f, _, _, n, _, _ in CALLS if f == "workloads.py"}
    assert {"admitted_edge_coords", "trip_cover_sigs_cells",
            "candidates_cell_join", "sig_subgraph_edges"} <= called


@pytest.mark.parametrize("file,module,name", IMPORTS,
                         ids=[f"{f}:{m}.{n}" if n else f"{f}:{m}"
                              for f, m, n in IMPORTS])
def test_perfbench_import_resolves(file, module, name):
    mod = importlib.import_module(module)
    if name:
        assert hasattr(mod, name), f"{file}: {module} has no {name}"


@pytest.mark.parametrize("file,line,module,name,n_pos,keywords", CALLS,
                         ids=[f"{c[0]}:{c[1]}:{c[3]}" for c in CALLS])
def test_perfbench_call_binds(file, line, module, name, n_pos, keywords):
    fn = getattr(importlib.import_module(module), name)
    try:
        inspect.signature(fn).bind(*range(n_pos),
                                   **dict.fromkeys(keywords))
    except TypeError as e:
        pytest.fail(f"{file}:{line}: {name}(...) no longer binds: {e}")
