"""Every product Python UDF body starts by dropping the worker's cached
zip finders (``functions.udf._drop_zip_finders``): PySpark re-reads each
of them at the start of every task, so a UDF site that skips the call
brings the fixed per-task cost back. Spark-free: the check is an AST
scan of ``log2seq_spark/``.

A UDF site is a function passed to ``mapInArrow``/``mapInPandas`` or a
function decorated with ``pandas_udf``. The parse and tokenize bindings
in ``log2seq_spark/functions/`` use ``mapInArrow`` only: a
``pandas_udf`` there would bring back the list-of-lists output path."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "log2seq_spark"
HELPER = "_drop_zip_finders"
MAP_METHODS = {"mapInArrow", "mapInPandas"}


def _called_name(node):
    func = node.func if isinstance(node, ast.Call) else node
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _is_pandas_udf(fn):
    return any(_called_name(d) == "pandas_udf" for d in fn.decorator_list)


def _calls_helper_first(fn):
    body = fn.body
    if (body and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)):
        body = body[1:]   # docstring
    return (bool(body) and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Call)
            and _called_name(body[0].value) == HELPER)


def _local_defs(node):
    """Functions defined in ``node``'s own body, by name (not those
    inside its nested functions or classes)."""
    out, stack = {}, list(ast.iter_child_nodes(node))
    while stack:
        child = stack.pop()
        if isinstance(child, ast.FunctionDef):
            out[child.name] = child
        elif not isinstance(child, (ast.ClassDef, ast.Lambda)):
            stack.extend(ast.iter_child_nodes(child))
    return out


def _udf_sites():
    """(site label, the UDF's FunctionDef or None when unresolved)."""
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        rel = path.relative_to(ROOT)
        parent = {c: n for n in ast.walk(tree)
                  for c in ast.iter_child_nodes(n)}
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and _is_pandas_udf(node):
                yield f"{rel}:{node.lineno} {node.name}", node
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in MAP_METHODS):
                continue
            arg = node.args[0] if node.args else None
            fn, scope = None, node
            while isinstance(arg, ast.Name) and fn is None and scope in parent:
                scope = parent[scope]
                if isinstance(scope, (ast.FunctionDef, ast.Module)):
                    fn = _local_defs(scope).get(arg.id)
            yield f"{rel}:{node.lineno} {node.func.attr}", fn


def test_udf_bodies_drop_zip_finders_first():
    sites = list(_udf_sites())
    bad = sorted({label for label, fn in sites
                  if fn is None or not _calls_helper_first(fn)})
    assert not bad, (
        f"Python UDF bodies that do not call {HELPER}() first (or whose "
        f"function the check cannot resolve): {bad}")


def test_scan_finds_the_known_sites():
    # guards the check above against passing on a scan that finds nothing
    sites = [label for label, _ in _udf_sites()]
    assert len(sites) >= 9, sites
    assert {"log2seq_spark/functions/udf.py",
            "log2seq_spark/operators/veccand.py",
            "log2seq_spark/operators/heavy.py",
            "log2seq_spark/operators/scrub.py",
            "log2seq_spark/operators/bpe.py",
            "log2seq_spark/operators/multimodal.py"} <= {
                label.split(":", 1)[0] for label in sites}


def test_functions_package_has_no_pandas_udf():
    hits = [str(path.relative_to(ROOT))
            for path in sorted((PACKAGE / "functions").rglob("*.py"))
            if "pandas_udf" in path.read_text()]
    assert not hits, hits
