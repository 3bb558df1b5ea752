"""Static import hygiene: every `from v2_ocr_spark... import name` in the
package, the CLIs and the entry scripts resolves, and the CLIs under
tools/ use only public package names. A deletion that leaves a dangling
import fails here instead of at run time; most CLIs import inside
main(), so no other test would load them. Operators take tables, not
paths: no operator function has a `spark` or `sf_dir` parameter and no
operator module reads parquet. The merge sink owns its table: no
writer threads a `held` lease tuple or a maintenance `num_partitions`,
and only the sink module touches SinkLease. A kernel is one scalar
function: no `*_series` wrappers, no `.loc`/`.at` writes in the
extraction pass, no kind if-chain in the fixture generator. The
composed job and the pipeline_clean_pack gate entry share one cleaning
tail, clean_and_pack."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "v2_ocr_spark"
TOOLS = sorted((ROOT / "tools").glob("*.py"))
OPERATORS = sorted((ROOT / PKG / "operators").glob("*.py"))
MAINTENANCE = ROOT / PKG / "pipeline" / "maintenance.py"
STREAMING = sorted((ROOT / PKG / "streaming").glob("*.py"))
SOURCES = [
    *sorted((ROOT / PKG).rglob("*.py")),
    *TOOLS,
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
]


def _tree(path: Path) -> ast.AST:
    return ast.parse(path.read_text(encoding="utf-8"), str(path))


def _package_imports(tree: ast.AST):
    """(line, module, name) for every package import at any depth;
    name is None for a plain `import v2_ocr_spark.x`."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] == PKG:
                for alias in node.names:
                    yield node.lineno, node.module, alias
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield node.lineno, alias.name, None


def _resolves(module: str, name: str | None) -> bool:
    mod = importlib.import_module(module)
    return (
        name is None
        or hasattr(mod, name)
        or importlib.util.find_spec(f"{module}.{name}") is not None
    )


def _private(name: str) -> bool:
    return name.startswith("_") and not name.startswith("__")


def test_every_package_import_resolves():
    dangling = [
        f"{path.relative_to(ROOT)}:{line}: {module} -> {alias.name}"
        for path in SOURCES
        for line, module, alias in _package_imports(_tree(path))
        if not _resolves(module, alias and alias.name)
    ]
    assert not dangling, dangling


def test_tools_use_only_public_package_names():
    found = []
    for path in TOOLS:
        tree = _tree(path)
        bound = set()  # local names bound to something from the package
        for line, module, alias in _package_imports(tree):
            if alias is None:
                bound.add(module.split(".")[0])
                if any(map(_private, module.split("."))):
                    found.append(f"{path.name}:{line}: import {module}")
                continue
            bound.add(alias.asname or alias.name)
            if _private(alias.name):
                found.append(f"{path.name}:{line}: {module}.{alias.name}")
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and _private(node.attr):
                base = node.value
                while isinstance(base, ast.Attribute):
                    base = base.value
                if isinstance(base, ast.Name) and base.id in bound:
                    found.append(f"{path.name}:{node.lineno}: .{node.attr}")
    assert not found, found


def test_operators_take_tables_not_paths():
    found = []
    for path in OPERATORS:
        for node in ast.walk(_tree(path)):
            if isinstance(node, (ast.FunctionDef, ast.Lambda)):
                a = node.args
                params = {x.arg for x in (*a.posonlyargs, *a.args, *a.kwonlyargs)}
                for bad in sorted(params & {"spark", "sf_dir"}):
                    found.append(f"{path.name}:{node.lineno}: param {bad}")
            elif (
                isinstance(node, ast.Attribute)
                and node.attr == "parquet"
                and isinstance(node.value, ast.Attribute)
                and node.value.attr == "read"
            ):
                found.append(f"{path.name}:{node.lineno}: .read.parquet")
    assert not found, found


def _params(node) -> set[str]:
    a = node.args
    return {x.arg for x in (*a.posonlyargs, *a.args, *a.kwonlyargs)}


def test_sink_owns_its_table():
    found = []
    for path in (*sorted((ROOT / PKG / "pipeline").glob("*.py")), *STREAMING):
        for node in ast.walk(_tree(path)):
            if isinstance(node, ast.FunctionDef) and "held" in _params(node):
                found.append(f"{path.name}:{node.lineno}: param held")
    for node in _tree(MAINTENANCE).body:
        if (
            isinstance(node, ast.FunctionDef)
            and not _private(node.name)
            and "num_partitions" in _params(node)
        ):
            found.append(f"maintenance.py:{node.lineno}: num_partitions")
    for path in SOURCES:
        if path != ROOT / PKG / "pipeline" / "sink.py":
            for node in ast.walk(_tree(path)):
                if "SinkLease" in {
                    getattr(node, "id", None), getattr(node, "attr", None),
                    getattr(node, "name", None),
                }:
                    found.append(f"{path.name}:{node.lineno}: SinkLease")
    for path in (MAINTENANCE, *STREAMING):
        for _, module, _alias in _package_imports(_tree(path)):
            if module == f"{PKG}.pipeline.runner":
                found.append(f"{path.name}: imports pipeline.runner")
    assert not found, found


def test_one_kernel_contract():
    """A kernel is one scalar function that KERNELS lifts: no hand-written
    Series wrappers, no per-kind .loc/.at writes in the extraction pass,
    no second kind dispatch in the fixture generator."""
    found = []
    for path in sorted((ROOT / PKG / "kernels").glob("*.py")):
        for node in ast.walk(_tree(path)):
            if isinstance(node, ast.FunctionDef) and node.name.endswith("_series"):
                found.append(f"{path.name}:{node.lineno}: def {node.name}")
    for node in ast.walk(_tree(ROOT / PKG / "operators" / "extract.py")):
        targets = getattr(node, "targets", None) or [getattr(node, "target", None)]
        for sub in (s for t in targets if t for s in ast.walk(t)):
            if (
                isinstance(sub, ast.Subscript)
                and isinstance(sub.value, ast.Attribute)
                and sub.value.attr in ("loc", "at")
            ):
                found.append(f"extract.py:{sub.lineno}: .{sub.value.attr}[...] =")
    generate = _tree(ROOT / PKG / "fixtures" / "generate.py")
    expected_for = next(
        n for n in generate.body
        if isinstance(n, ast.FunctionDef) and n.name == "expected_for"
    )
    for node in ast.walk(expected_for):
        if isinstance(node, (ast.If, ast.IfExp, ast.Match)):
            found.append(f"generate.py:{node.lineno}: expected_for branches")
    assert not found, found


TAIL = {
    "duplicate_clusters", "dedup_keep_list_for", "corpus_filter_for",
    "token_pack_for",
}


def test_one_cleaning_tail():
    """The composed job and the gate entry that checks it run the same
    clean_and_pack; neither chains the tail's operators itself."""
    found = []
    for path, name in (
        (ROOT / "__spark_entry__.py", "q_pipeline_clean_pack"),
        (ROOT / PKG / "pipeline" / "compose.py", "run_extract_clean_pipeline"),
    ):
        fn = next(
            n for n in _tree(path).body
            if isinstance(n, ast.FunctionDef) and n.name == name
        )
        calls = {
            getattr(n.func, "id", None) or getattr(n.func, "attr", None)
            for n in ast.walk(fn) if isinstance(n, ast.Call)
        }
        if "clean_and_pack" not in calls:
            found.append(f"{name}: no clean_and_pack call")
        found += [f"{name}: calls {c}" for c in sorted(calls & TAIL)]
    assert not found, found
