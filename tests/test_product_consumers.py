"""Every public top-level function in ``log2seq_spark`` needs a product
consumer: a name reference from the query entry point
(``__spark_entry__.py``), the CLI (``__main__.py``, which is itself the
entry point and is not scanned), another package module, or another
function of its own module. Tests alone do not count. Spark-free: the
check is an AST scan.

``ALLOWED`` lists the functions kept without a product consumer, each
with its reason. An entry that no longer names a function fails the
check, so the list cannot go stale.

The same rule holds for ``PipelineConfig``: a field that no product
caller passes is a knob nobody turns, and belongs in a module
constant.

And no helper is copy-pasted: two functions (nested ones included)
whose bodies are identical AST, docstrings ignored, are one helper
written twice.

Files Spark writes are moved and deleted through the Hadoop FileSystem
API (``fsio``), never with ``shutil`` or ``os.rename``/``os.replace``
on the driver's disk, which is not where a ``hdfs://`` path or a
non-local ``fs.defaultFS`` puts them."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "log2seq_spark"

# reference implementations a test compares a fused production path to
_REFERENCE = "reference the tests check a fused production path against"
# the package's public API mirrors the reference library's
_PARITY = "reference-API parity (log2seq/__init__.py exports it)"
# called by the benchmark, which sits outside the package
_BENCHMARK = "benchmark entry point (perfbench/ calls it)"

ALLOWED = {
    "operators.similarity.ivf_topk": _REFERENCE + " (ivf_topk_indexed)",
    "operators.bloom.might_contain_join": _REFERENCE
    + " (might_contain expr probe)",
    "operators.dedup.minhash_near_duplicates": _REFERENCE
    + " (the dedup_minhash_lsh query)",
    "operators.dedup.line_dedup_stats": _REFERENCE
    + " (line_dedup_profile)",
    "operators.dedup.duplicate_span_stats": _REFERENCE
    + " (duplicate_span_profile)",
    "operators.dedup.drop_duplicate_spans": _REFERENCE
    + " (duplicate_span_profile)",
    "operators.dedup.exact_dedup_index": _REFERENCE
    + " (updated_dedup_index)",
    "operators.dedup.minhash_index": _REFERENCE + " (updated_minhash_index)",
    "init_parser": _PARITY,
    "load_parser_script": _PARITY,
    "plans.manifest.read_manifest": _BENCHMARK,
}


def _names(nodes) -> set:
    """Identifiers a subtree references: names, attributes, imports."""
    out = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.rsplit(".", 1)[-1])
    return out


def _qualified(path: pathlib.Path) -> str:
    """Dotted module path relative to the package ('' for its root
    ``__init__``)."""
    parts = path.relative_to(PACKAGE).with_suffix("").parts
    return ".".join(p for p in parts if p != "__init__")


def _package_functions():
    """(qualified name, whether product code references it) per public
    top-level function of a package module."""
    paths = [*PACKAGE.rglob("*.py"), ROOT / "__spark_entry__.py"]
    trees = {path: ast.parse(path.read_text()) for path in paths}
    names = {path: _names([tree]) for path, tree in trees.items()}
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PACKAGE / "__main__.py":
            continue
        elsewhere = set().union(*(n for p, n in names.items() if p != path))
        body = trees[path].body
        per_node = [_names([node]) for node in body]
        module = _qualified(path)
        for i, fn in enumerate(body):
            if (isinstance(fn, ast.FunctionDef)
                    and not fn.name.startswith("_")):
                same_module = set().union(*per_node[:i], *per_node[i + 1:])
                yield (f"{module}.{fn.name}".lstrip("."),
                       fn.name in elsewhere or fn.name in same_module)


def test_package_functions_have_product_consumers():
    orphans = sorted(name for name, used in _package_functions()
                     if not used and name not in ALLOWED)
    assert not orphans, (
        f"package functions with no product consumer: {orphans}; "
        "delete them (and their tests) or wire them into the product")


def test_allowlist_names_existing_functions():
    defined = {name for name, _ in _package_functions()}
    assert not sorted(set(ALLOWED) - defined)


# every PipelineConfig knob must be set by some product caller; out_dir
# is the required field, so it is set by every caller
_CONFIG_CALLERS = [ROOT / "log2seq_spark" / "__main__.py", ROOT / "bench.py",
                   ROOT / "__spark_entry__.py",
                   *sorted((ROOT / "perfbench").rglob("*.py"))]


def _config_fields() -> list:
    tree = ast.parse((PACKAGE / "plans" / "pipeline.py").read_text())
    cls = next(node for node in tree.body
               if isinstance(node, ast.ClassDef)
               and node.name == "PipelineConfig")
    return [node.target.id for node in cls.body
            if isinstance(node, ast.AnnAssign)]


def _config_keywords() -> set:
    """Keywords product code passes to a ``PipelineConfig(...)`` call."""
    out = set()
    for path in _CONFIG_CALLERS:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and (
                    getattr(node.func, "id", None) == "PipelineConfig"
                    or getattr(node.func, "attr", None) == "PipelineConfig"):
                out.update(k.arg for k in node.keywords)
    return out


def test_pipeline_config_fields_have_product_callers():
    fields = _config_fields()
    assert "out_dir" in fields
    unset = sorted(set(fields) - _config_keywords() - {"out_dir"})
    assert not unset, (
        f"PipelineConfig fields no product caller sets: {unset}; make "
        "them module constants or wire them into a caller")


# bodies smaller than this many AST nodes (``return x``, ``pass``) may
# repeat without being a copied helper
_COPY_FLOOR = 12


def _function_bodies():
    """(body dump, AST node count, 'module:line:name') per function
    under the package, docstring dropped."""
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            body = node.body
            if (isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                body = body[1:]
            size = sum(1 for stmt in body for _ in ast.walk(stmt))
            yield ("\n".join(ast.dump(stmt) for stmt in body), size,
                   f"{path.relative_to(PACKAGE)}:{node.lineno}:{node.name}")


def test_no_copy_pasted_function_bodies():
    seen = {}
    for body, size, where in _function_bodies():
        if size >= _COPY_FLOOR:
            seen.setdefault(body, []).append(where)
    copies = sorted(sites for sites in seen.values() if len(sites) > 1)
    assert not copies, (
        f"functions with identical bodies: {copies}; keep one helper "
        "and call it from every site")


# modules that may touch the driver's own disk: the raw-log readers
# open user-given local files, and the session makes its local scratch
# dir
_LOCAL_DISK_OK = {"sources/logfiles.py", "__main__.py", "session.py"}


def _local_disk_moves(tree) -> list:
    """Line numbers of ``shutil`` imports and ``os.rename``/``os.replace``
    calls in a module."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            if any(a.name.split(".")[0] == "shutil" for a in node.names):
                out.append(node.lineno)
        elif isinstance(node, ast.ImportFrom):
            if node.module == "shutil" or (
                    node.module == "os"
                    and {a.name for a in node.names} & {"rename", "replace"}):
                out.append(node.lineno)
        elif (isinstance(node, ast.Attribute)
              and isinstance(node.value, ast.Name)
              and node.value.id == "os"
              and node.attr in ("rename", "replace")):
            out.append(node.lineno)
    return out


def test_no_driver_local_file_moves():
    assert all((PACKAGE / rel).is_file() for rel in _LOCAL_DISK_OK)
    found = sorted(
        f"{path.relative_to(PACKAGE)}:{line}"
        for path in PACKAGE.rglob("*.py")
        if str(path.relative_to(PACKAGE)) not in _LOCAL_DISK_OK
        for line in _local_disk_moves(ast.parse(path.read_text())))
    assert not found, (
        f"driver-local file moves: {found}; go through fsio so the "
        "Hadoop FileSystem that Spark writes through does the move")
