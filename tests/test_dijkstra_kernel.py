"""The compiled bounded Dijkstra against the Python oracle in
``dijkstra_oracle.py`` (same pop order, parents and depths), and the
kernels' one build path (``routers_spark.native``): compiler and loader
errors, concurrent builds, source-keyed rebuilds, the private fallback
build directory, and the image codecs' source built through it too."""

from __future__ import annotations

import os
import stat
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pytest

from routers_spark.fixtures.roads import grid_network
from routers_spark.graph.dijkstra import _SOURCE, settle_many
from routers_spark.graph.packed import build_packed_graph
from routers_spark.native import _build_dir, build_kernel, open_library

from dijkstra_oracle import bounded_dijkstra_parents, pop_order

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def settle(g, root, threshold_cm=200_000, access_mask=None):
    """One root's (nodes, parents, depths) from the batched kernel."""
    return settle_many(g, [root], threshold_cm, access_mask)[1:]


def assert_same(g, roots, threshold_cm=200_000, access_mask=None):
    for r in roots:
        got = settle(g, r, threshold_cm, access_mask)
        want = pop_order(bounded_dijkstra_parents(g, r, threshold_cm,
                                                  access_mask))
        for name, a, b in zip(("nodes", "parents", "depths"), got, want):
            assert a.dtype == np.int64
            np.testing.assert_array_equal(a, b, err_msg=f"root {r}: {name}")


@pytest.fixture(scope="module")
def grid40():
    nodes, edges = grid_network(40)
    return build_packed_graph(nodes, edges)


def test_every_root_of_grid(grid40):
    assert_same(grid40, range(len(grid40.node_ids)))


def test_many_roots_in_one_call(grid40):
    """All roots in one call (their output outgrows the first buffer, so
    the call resumes after the root that did not fit) equal the roots one
    by one."""
    roots = np.arange(len(grid40.node_ids))[::-1]
    counts, nodes, parents, depths = settle_many(grid40, roots)
    assert counts.sum() == len(nodes) > 64 * len(roots)
    at = np.concatenate([[0], np.cumsum(counts)])
    for i, r in enumerate(roots):
        for a, b in zip((nodes, parents, depths), settle(grid40, r)):
            np.testing.assert_array_equal(a[at[i]:at[i + 1]], b)


def test_every_root_of_grid_with_access_mask(grid40):
    mask = np.random.default_rng(3).random(len(grid40.edge_id)) < 0.8
    assert_same(grid40, range(len(grid40.node_ids)), access_mask=mask)


def _graph(node_xy, rows):
    nodes = pd.DataFrame({"node_id": np.arange(len(node_xy)),
                          "lon": [p[0] for p in node_xy],
                          "lat": [p[1] for p in node_xy]})
    edges = pd.DataFrame(rows, columns=["edge_id", "src", "dst", "weight"])
    return build_packed_graph(nodes, edges)


def test_odd_graph_shapes():
    # node 3 sits on node 2 (zero-length edge 2->3); node 5 is isolated
    xy = [(-118.10, 34.10), (-118.09, 34.10), (-118.09, 34.11),
          (-118.09, 34.11), (-118.08, 34.11), (-118.00, 34.00)]
    rows = [(0, 0, 1, 3), (1, 0, 1, 1),   # duplicate (src, dst) rows
            (2, 1, 2, 2), (3, 2, 3, 5),   # zero-length edge
            (4, 3, 3, 1),                 # self-loop
            (5, 3, 4, 1), (6, 4, 0, 7), (7, 1, 0, 1)]
    g = _graph(xy, rows)
    assert 0 in g.edge_len_cm
    assert_same(g, range(len(xy)))
    assert_same(g, range(len(xy)), threshold_cm=150_000)
    nodes, _, _ = settle(g, 5)
    np.testing.assert_array_equal(nodes, [5])  # isolated: only the root


def test_repr_saturates_at_u32_max():
    # a road-class weight near u32::MAX: (w/1)^2 * len overflows u32 at the
    # first hop, so every heavy repr is 0xFFFFFFFF and ties fall to FIFO
    heavy = 0xFFFF_FFFF
    xy = [(-118.100, 34.100), (-118.099, 34.100), (-118.098, 34.100),
          (-118.100, 34.101), (-118.099, 34.101)]
    rows = [(0, 0, 1, heavy), (1, 0, 3, 1), (2, 3, 4, heavy), (3, 1, 2, 1),
            (4, 4, 1, 1), (5, 3, 1, heavy), (6, 1, 4, 2)]
    g = _graph(xy, rows)
    assert float(heavy) ** 2 * float(g.edge_len_cm.min()) > 0xFFFF_FFFF
    assert_same(g, range(len(xy)))


def test_empty_bound_and_bad_inputs(grid40):
    nodes, parents, depths = settle(grid40, 0, threshold_cm=0)
    assert len(nodes) == len(parents) == len(depths) == 0
    with pytest.raises(IndexError):
        settle(grid40, len(grid40.node_ids))
    with pytest.raises(IndexError):
        settle(grid40, -1)
    with pytest.raises(ValueError, match="access mask has 3 entries"):
        settle(grid40, 0, access_mask=np.ones(3, dtype=bool))


# ------------------------------------------------------------------ build


_PKG = "routers_spark.graph"


def test_missing_compiler_names_the_command(tmp_path):
    with pytest.raises(ImportError, match="no-such-cc-4f1d"):
        build_kernel(_PKG, _SOURCE, str(tmp_path), cc="no-such-cc-4f1d")


def test_compiler_that_cannot_run_raises_import_error(tmp_path):
    cc = tmp_path / "cc"
    cc.write_text("not a program\n")
    cc.chmod(0o644)
    with pytest.raises(ImportError, match=str(cc)):
        build_kernel(_PKG, _SOURCE, str(tmp_path / "out"), cc=str(cc))


def test_unloadable_library_raises_import_error(tmp_path):
    bad = tmp_path / "bounded_dijkstra-0.so"
    bad.write_bytes(b"not a shared object")
    with pytest.raises(ImportError, match=str(bad)):
        open_library(str(bad))


def _zipped_package(tmp_path):
    """A package directory inside a zip, as ``--py-files`` ships it: its
    ``__pycache__`` cannot be made."""
    z = tmp_path / "deps.zip"
    z.write_bytes(b"PK")
    return str(z / "routers_spark" / "graph")


def test_fallback_dir_is_made_private_and_reused(tmp_path):
    root = tmp_path / "tmp"
    root.mkdir()
    d = _build_dir(_zipped_package(tmp_path), str(root))
    assert d == str(root / f"routers_spark-{os.getuid()}")
    st = os.lstat(d)
    assert stat.S_ISDIR(st.st_mode) and stat.S_IMODE(st.st_mode) == 0o700
    assert _build_dir(_zipped_package(tmp_path), str(root)) == d


@pytest.mark.parametrize("plant", ["other_owner", "group_writable",
                                   "world_writable", "symlink"])
def test_fallback_refuses_a_planted_dir(tmp_path, monkeypatch, plant):
    root = tmp_path / "tmp"
    root.mkdir()
    me = os.getuid()
    if plant == "other_owner":  # the shared name of a uid that is not ours
        monkeypatch.setattr(os, "getuid", lambda: me + 1)
    shared = root / f"routers_spark-{os.getuid()}"
    if plant == "symlink":
        target = tmp_path / "theirs"
        target.mkdir(0o700)
        shared.symlink_to(target)
    else:
        shared.mkdir(0o700)
        shared.chmod({"other_owner": 0o700, "group_writable": 0o770,
                      "world_writable": 0o777}[plant])
    (shared / "bounded_dijkstra-0123456789abcdef.so").write_bytes(b"planted")
    d = _build_dir(_zipped_package(tmp_path), str(root))
    assert d != str(shared) and os.path.dirname(d) == str(root)
    st = os.lstat(d)
    assert stat.S_ISDIR(st.st_mode) and st.st_uid == me
    assert stat.S_IMODE(st.st_mode) == 0o700
    assert os.listdir(d) == []


def test_source_change_rebuilds(tmp_path):
    with open(os.path.join(ROOT, "routers_spark", "graph", _SOURCE), "rb") as f:
        src = f.read()
    first = build_kernel(_PKG, _SOURCE, str(tmp_path), source=src)
    mtime = os.stat(first).st_mtime_ns
    changed = build_kernel(_PKG, _SOURCE, str(tmp_path),
                           source=src + b"\n/* rev 2 */\n")
    assert changed != first and os.path.exists(changed)
    assert build_kernel(_PKG, _SOURCE, str(tmp_path), source=src) == first
    assert os.stat(first).st_mtime_ns == mtime  # a hit compiles nothing
    assert sorted(os.listdir(tmp_path)) == sorted(
        os.path.basename(p) for p in (first, changed))


_BUILD_AND_LOAD = """
import os, sys, time
from routers_spark.native import build_kernel, open_library
while not os.path.exists(sys.argv[2]):
    time.sleep(0.005)
print(open_library(build_kernel("routers_spark.graph", "bounded_dijkstra.c",
                                sys.argv[1]))._name)
"""


def test_concurrent_builds_both_load(tmp_path):
    out, go = str(tmp_path / "kernels"), str(tmp_path / "go")
    procs = [subprocess.Popen([sys.executable, "-c", _BUILD_AND_LOAD, out, go],
                              cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.PIPE, text=True)
             for _ in range(2)]
    time.sleep(0.5)  # both interpreters are up and polling
    open(go, "w").close()
    results = [p.communicate(timeout=120) for p in procs]
    assert [p.returncode for p in procs] == [0, 0], results
    paths = {r[0].strip() for r in results}
    assert len(paths) == 1
    assert os.listdir(out) == [os.path.basename(paths.pop())]


def test_codec_source_builds_and_loads_through_the_same_helper(tmp_path):
    path = build_kernel("routers_spark.functions", "raster_codecs.c",
                        str(tmp_path))
    assert os.path.basename(path).startswith("raster_codecs-")
    lib = open_library(path)
    assert lib.rc_jpeg_scan and lib.rc_png_unfilter
    assert os.listdir(tmp_path) == [os.path.basename(path)]


def test_submit_zip_ships_every_kernel_source(tmp_path):
    """The zip ``tools/submit.sh`` builds for ``--py-files`` holds every C
    source under the package, so executors can build both kernels."""
    import zipfile

    with open(os.path.join(ROOT, "tools", "submit.sh")) as f:
        script = f.read()
    packer = script.split("<<'EOF'\n", 1)[1].split("\nEOF\n", 1)[0]
    out = str(tmp_path / "deps.zip")
    subprocess.run([sys.executable, "-c", packer, out], cwd=ROOT, check=True)
    shipped = {n for n in zipfile.ZipFile(out).namelist() if n.endswith(".c")}
    assert shipped == {"routers_spark/graph/bounded_dijkstra.c",
                       "routers_spark/functions/raster_codecs.c"}
