"""No query may import a NEW native extension mid-run — the r12 gate
regression, pinned (VERDICT r12 items 1, 2, 5).

The driver sandbox killed 10/50 correctness entries on one line: a
function-body ``import pyarrow.dataset`` whose ``_dataset.so`` mmap
failed under memory pressure ("failed to map segment").  The same
queries were green in this repo's own environment minutes earlier —
the import is pressure-flaky, so only a *policy* stops the recurrence:

1. ``pyarrow.dataset`` appears NOWHERE in the package (lint);
2. every function-body import is pure-Python stdlib, package-internal,
   or a module guaranteed loaded at catalog-import time (AST lint);
3. both centroid-load paths (driver ``load_cents``, worker
   ``_load_cb``) still work with ``pyarrow.dataset`` POISONED so that
   importing it raises — plus one end-to-end in-window ANN query.

``tools/gate_repro.py --import-hostile`` is the whole-window version of
the same check (a meta-path finder that fails any fresh ``.so`` import
after session build).
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "spark_dns_spark"

#: Module roots allowed inside function bodies.  Everything here is
#: either pure-Python (stdlib, this package), loaded by the
#: harness long before any query runs (pyspark), or a native module
#: that test_catalog_import_preloads_native_deps proves is already in
#: sys.modules once the catalog is imported (pandas, numpy).
ALLOWED_ROOTS = {
    # pure-Python stdlib
    "os", "sys", "io", "re", "gc", "json", "math", "time", "uuid",
    "shutil", "hashlib", "tempfile", "threading", "socket", "struct",
    "atexit", "contextlib", "itertools", "collections", "typing",
    "importlib", "functools", "random", "string", "datetime",
    # framework (loaded pre-query by harness)
    "pyspark",
    # package-internal
    "spark_dns_spark",
    # native, but PRELOADED at catalog import time (asserted below)
    "pandas", "numpy",
}


def _function_body_imports() -> list[tuple[str, int, str]]:
    """(file, line, module-root) for every import nested inside a
    function/method body anywhere in the package."""
    found = []
    for py in sorted(PKG.rglob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        # map each node to whether it sits under a FunctionDef
        class V(ast.NodeVisitor):
            def __init__(self):
                self.depth = 0
                self.hits: list[tuple[int, str]] = []

            def visit_FunctionDef(self, node):
                self.depth += 1
                self.generic_visit(node)
                self.depth -= 1

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Import(self, node):
                if self.depth:
                    for a in node.names:
                        self.hits.append((node.lineno, a.name))

            def visit_ImportFrom(self, node):
                if self.depth and node.level == 0 and node.module:
                    self.hits.append((node.lineno, node.module))

        v = V()
        v.visit(tree)
        rel = str(py.relative_to(PKG.parent))
        found.extend((rel, ln, mod) for ln, mod in v.hits)
    return found


def test_pyarrow_dataset_banned_from_package():
    """No import of pyarrow.dataset ANYWHERE (module level included) —
    AST-based so docstrings explaining the ban don't trip it."""
    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(py.read_text(), filename=str(py))):
            mods = []
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module:
                mods = [node.module] + [
                    f"{node.module}.{a.name}" for a in node.names
                ]
            for m in mods:
                if m.startswith("pyarrow.dataset") or m == "pyarrow.dataset":
                    offenders.append(
                        (str(py.relative_to(PKG.parent)), node.lineno, m)
                    )
    assert not offenders, f"pyarrow.dataset crept back in: {offenders}"


def test_function_body_imports_allowlisted():
    bad = [
        (f, ln, mod)
        for f, ln, mod in _function_body_imports()
        if mod.split(".")[0] not in ALLOWED_ROOTS
    ]
    assert not bad, (
        "function-body import of a module that may load a fresh native "
        f"extension mid-query (move it to module import time): {bad}"
    )


def test_dynamic_imports_allowlisted():
    """The static lints above see ``import X`` statements only — a
    function-body ``importlib.import_module('pyarrow.dataset')`` or
    ``__import__(...)`` would slip both because 'importlib' itself is
    an allowed root (ADVICE r13).  Scan every dynamic-import CALL site
    in the package: string-literal targets must resolve to an allowed
    root, and non-literal targets are banned outright (unauditable)."""
    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(py.read_text(), filename=str(py))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            is_dyn = (isinstance(f, ast.Name) and f.id == "__import__") or (
                isinstance(f, ast.Attribute)
                and f.attr == "import_module"
            )
            if not is_dyn:
                continue
            rel = str(py.relative_to(PKG.parent))
            if node.args and isinstance(node.args[0], ast.Constant) and \
                    isinstance(node.args[0].value, str):
                root = node.args[0].value.split(".")[0]
                if root not in ALLOWED_ROOTS:
                    offenders.append((rel, node.lineno, node.args[0].value))
            else:
                offenders.append((rel, node.lineno, "<non-literal target>"))
    assert not offenders, (
        "dynamic import of a module outside the allowlist (could load "
        f"a fresh native extension mid-query): {offenders}"
    )


def test_catalog_import_preloads_native_deps():
    """Importing the catalog must leave every native module the
    allowlist relies on already in sys.modules — so a driver that
    builds queries() then starves its address space never needs a new
    .so mmap."""
    from spark_dns_spark.plans.catalog import catalog

    catalog()
    for mod in ("pandas", "numpy", "pyarrow", "pyarrow.parquet"):
        assert mod in sys.modules, f"{mod} not preloaded by catalog import"


@pytest.fixture()
def poisoned_pyarrow_dataset():
    """Make ``import pyarrow.dataset`` raise ImportError for the test's
    duration (the driver-sandbox failure, made deterministic)."""
    saved = sys.modules.get("pyarrow.dataset", "<absent>")
    sys.modules["pyarrow.dataset"] = None  # import -> ImportError
    try:
        yield
    finally:
        if saved == "<absent>":
            sys.modules.pop("pyarrow.dataset", None)
        else:
            sys.modules["pyarrow.dataset"] = saved


def _write_cents(tmp_path, n: int):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "cents"
    d.mkdir()
    t = pa.table(
        {
            "cell": pa.array(list(range(n)), pa.int64()),
            "cv": pa.array([[i, i + 1] for i in range(n)], pa.list_(pa.int64())),
        }
    )
    half = max(1, n // 2)
    pq.write_table(t.slice(0, half), str(d / "part-00000.snappy.parquet"))
    if n - half:
        pq.write_table(t.slice(half), str(d / "part-00001.snappy.parquet"))
    (d / "_SUCCESS").touch()
    return str(d)


def test_load_cents_both_branches_poisoned(
    spark, tmp_path, poisoned_pyarrow_dataset, monkeypatch
):
    from spark_dns_spark.plans import q_similarity as qs

    cents_dir = _write_cents(tmp_path, 5)
    got = qs.load_cents(spark, cents_dir)  # collect branch
    assert got == [[i, i + 1] for i in range(5)]
    monkeypatch.setattr(qs, "KC_DRIVER_MAX", 3)  # force the path branch
    assert qs.load_cents(spark, cents_dir) == cents_dir


def test_load_cb_poisoned(tmp_path, poisoned_pyarrow_dataset):
    from spark_dns_spark.plans import q_kmeans as km

    cents_dir = _write_cents(tmp_path, 4)
    km._CB_CACHE.clear()
    cb = km._load_cb(cents_dir)
    assert cb.tolist() == [[i, i + 1] for i in range(4)]
    assert km.parquet_dir_rows(cents_dir) == 4


def test_loader_empty_dir_semantics(spark, tmp_path, poisoned_pyarrow_dataset):
    """load_cents on an EMPTY index dir keeps the documented emptiness
    contract (-> [] , falsy); read_parquet_dir names the problem
    instead of failing opaquely."""
    from spark_dns_spark.plans import q_kmeans as km
    from spark_dns_spark.plans import q_similarity as qs

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "empty"
    d.mkdir()
    (d / "_SUCCESS").touch()
    # an empty index a Spark coalesce(1) write leaves behind: ONE part
    # file with zero rows (schema present, no data)
    t = pa.table(
        {"cell": pa.array([], pa.int64()),
         "cv": pa.array([], pa.list_(pa.int64()))}
    )
    pq.write_table(t, str(d / "part-00000.snappy.parquet"))
    assert km.parquet_dir_rows(str(d)) == 0
    assert qs.load_cents(spark, str(d)) == []

    partless = tmp_path / "partless"
    partless.mkdir()
    with pytest.raises(FileNotFoundError, match="no parquet part files"):
        km.read_parquet_dir(str(partless), ["cell", "cv"])


def test_native_import_blocker_blocks_fresh_so_only():
    """tools/gate_repro._NativeImportBlocker: a NEW .so-backed module
    import raises; pure-Python and already-loaded modules pass."""
    sys.path.insert(0, str(PKG.parent / "tools"))
    try:
        from gate_repro import _NativeImportBlocker
    finally:
        sys.path.pop(0)

    blocker = _NativeImportBlocker()
    sys.meta_path.insert(0, blocker)
    try:
        import wave  # noqa: F401 — pure-Python stdlib: must pass

        # a native extension NOT yet loaded in this process must fail;
        # _curses/_multibytecodec ship with CPython as .so and are not
        # imported by the suite — pick the first not-yet-loaded one
        victim = next(
            (m for m in ("_curses", "_multibytecodec", "audioop")
             if m not in sys.modules),
            None,
        )
        if victim is not None:
            with pytest.raises(ImportError, match="import-hostile"):
                __import__(victim)
        # already-loaded modules keep working regardless
        import math  # noqa: F401
    finally:
        sys.meta_path.remove(blocker)


def test_in_window_ann_query_poisoned(spark, sf_dir, poisoned_pyarrow_dataset):
    """End-to-end: an r12-red in-window query runs green with the
    poison active (the driver's exact failure, now impossible)."""
    from spark_dns_spark.plans.catalog import catalog

    df = catalog()["similarity_ivf_recall"].fn(spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
