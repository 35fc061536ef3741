"""The CLI's structure, checked Spark-free by an AST scan of
``log2seq_spark/__main__.py``:

* one session lifecycle: ``_cli_spark`` is called only by
  ``_cli_session``, and nothing else stops a session, so every command
  stops the session it started however it exits;
* one raw-log reader: ``spark.read.text`` and ``format("logtext")``
  appear only in ``_read_raw_lines``, and the module imports none of
  ``tarfile``/``lzma``/``gzip``/``bz2`` (archives and compressed files
  are the readers' business)."""

import ast
import pathlib

MAIN = (pathlib.Path(__file__).resolve().parent.parent
        / "log2seq_spark" / "__main__.py")


def _sites(match) -> dict:
    """{top-level function name (or "<module>"): number of nodes in it
    for which ``match(node)`` holds}."""
    tree = ast.parse(MAIN.read_text())
    out = {}
    for top in tree.body:
        owner = (top.name if isinstance(top, ast.FunctionDef)
                 else "<module>")
        n = sum(1 for node in ast.walk(top) if match(node))
        if n:
            out[owner] = out.get(owner, 0) + n
    return out


def _calls(name):
    return lambda node: (isinstance(node, ast.Call)
                         and isinstance(node.func, ast.Name)
                         and node.func.id == name)


def _method_calls(attr):
    return lambda node: (isinstance(node, ast.Call)
                         and isinstance(node.func, ast.Attribute)
                         and node.func.attr == attr)


def _read_text(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "text"
            and isinstance(node.value, ast.Attribute)
            and node.value.attr == "read")


def _format_logtext(node) -> bool:
    return (_method_calls("format")(node) and bool(node.args)
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "logtext")


def test_session_started_only_by_the_lifecycle_helper():
    assert set(_sites(_calls("_cli_spark"))) == {"_cli_session"}


def test_session_stopped_only_by_the_lifecycle_helper():
    assert set(_sites(_method_calls("stop"))) == {"_cli_session"}


def test_raw_text_read_only_by_the_raw_line_helper():
    assert set(_sites(_read_text)) == {"_read_raw_lines"}
    assert set(_sites(_format_logtext)) == {"_read_raw_lines"}


def test_no_archive_or_compression_imports():
    banned = {"tarfile", "lzma", "gzip", "bz2"}

    def imports_banned(node):
        if isinstance(node, ast.Import):
            return any(a.name.split(".")[0] in banned for a in node.names)
        return (isinstance(node, ast.ImportFrom) and node.module
                and node.module.split(".")[0] in banned)
    assert _sites(imports_banned) == {}
