"""Plan-shape guards read from the engine's source, no Spark needed."""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "py_pdf_parser_spark"

# A window spec with no partition key runs in ONE task over its whole
# input (Spark warns "No Partition Defined for Window operation").  Each
# allowed one runs over a table whose size does not grow with the
# corpus: k top-k rows, or one row per bucket of a bucketed prefix sum.
UNPARTITIONED_OK = {
    ("analysis", "vocab_topk"),
    ("analysis", "bpe_merge_counts"),
    ("packing", "token_shards"),
    ("packing", "corpus_shuffle"),
}


def unpartitioned_windows(tree: ast.AST, module: str):
    """(module, enclosing function, line) of every ``Window.orderBy`` /
    ``rowsBetween`` / ``rangeBetween`` spec not built from
    ``Window.partitionBy``: a chain that starts with ``partitionBy``
    never calls one of these on ``Window`` itself."""
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "Window"
            and node.func.attr in ("orderBy", "rowsBetween", "rangeBetween")
        ):
            found.append((module, func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_no_unpartitioned_window_outside_the_allow_list():
    found = [
        hit
        for path in sorted(PACKAGE.rglob("*.py"))
        for hit in unpartitioned_windows(
            ast.parse(path.read_text(), str(path)), path.stem
        )
    ]
    assert [h for h in found if h[:2] not in UNPARTITIONED_OK] == []
    # an allowed function that no longer has one leaves the list
    assert {(m, f) for m, f, _ in found} == UNPARTITIONED_OK
