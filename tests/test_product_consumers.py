"""Every public top-level function in ``log2seq_spark/operators`` needs a
product consumer: a name reference from the query entry point
(``__spark_entry__.py``), the CLI, the pipeline plans, the streaming
layer, another package module, or another function of its own module.
Tests alone do not count. Spark-free: the check is an AST scan.

``ALLOWED`` lists the functions kept without a product consumer, each
with its reason. An entry that no longer names a function fails the
check, so the list cannot go stale."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "log2seq_spark"

# reference implementations a test compares a fused production path to
_REFERENCE = "reference the tests check a fused production path against"
# no product consumer and no reference role yet (see ROADMAP.md)
_PENDING = "test-only, pending removal"

ALLOWED = {
    "similarity.ivf_topk": _REFERENCE + " (ivf_topk_indexed)",
    "bloom.might_contain_join": _REFERENCE + " (might_contain expr probe)",
    "dedup.minhash_near_duplicates": _REFERENCE
    + " (the dedup_minhash_lsh query)",
    "dedup.line_dedup_stats": _REFERENCE + " (line_dedup_profile)",
    "dedup.duplicate_span_stats": _REFERENCE + " (duplicate_span_profile)",
    "dedup.drop_duplicate_spans": _REFERENCE + " (duplicate_span_profile)",
    "dedup.exact_dedup_index": _REFERENCE + " (updated_dedup_index)",
    "dedup.minhash_index": _REFERENCE + " (updated_minhash_index)",
    "dedup.conversation_texts": _PENDING,
    "dedup.conversation_hashes": _PENDING,
    "classifier.train_classifier": _PENDING,
    "expectations.expect": _PENDING,
    "expectations.mean_between": _PENDING,
    "expectations.profile_drift": _PENDING,
    "lm.top_vocab": _PENDING,
    "lm.merge_bigram_lms": _PENDING,
    "sampling.hash_sample": _PENDING,
    "substrdedup.eval_contaminated_spans": _PENDING,
    "textstats.compression_ratio": _PENDING,
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


def _operator_functions():
    """(qualified name, whether product code references it) per public
    top-level function of an operators module."""
    paths = [*PACKAGE.rglob("*.py"), ROOT / "__spark_entry__.py"]
    trees = {path: ast.parse(path.read_text()) for path in paths}
    names = {path: _names([tree]) for path, tree in trees.items()}
    for path in sorted((PACKAGE / "operators").glob("*.py")):
        elsewhere = set().union(*(n for p, n in names.items() if p != path))
        body = trees[path].body
        per_node = [_names([node]) for node in body]
        for i, fn in enumerate(body):
            if (isinstance(fn, ast.FunctionDef)
                    and not fn.name.startswith("_")):
                same_module = set().union(*per_node[:i], *per_node[i + 1:])
                yield (f"{path.stem}.{fn.name}",
                       fn.name in elsewhere or fn.name in same_module)


def test_operator_functions_have_product_consumers():
    orphans = sorted(name for name, used in _operator_functions()
                     if not used and name not in ALLOWED)
    assert not orphans, (
        f"operator functions with no product consumer: {orphans}; "
        "delete them (and their tests) or wire them into the product")


def test_allowlist_names_existing_functions():
    defined = {name for name, _ in _operator_functions()}
    assert not sorted(set(ALLOWED) - defined)
