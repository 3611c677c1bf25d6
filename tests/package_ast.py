"""Where the package calls a method, read from its source: the guard
tests that pin a call (``mapInArrow``, ``foreachBatch``) to the one
function allowed to make it."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / \
    "flink_user_behavior_analysis_spark"


def calls(method):
    """(module, enclosing top-level function) of every ``.<method>(``
    call in the package. Fails if a ``.<method>(`` spelled in the
    source is not a call the AST walk sees."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == method):
                    found.append((path.relative_to(PACKAGE).as_posix(),
                                  getattr(top, "name", None)))
    text_hits = sum(p.read_text().count(f".{method}(")
                    for p in PACKAGE.rglob("*.py"))
    assert text_hits == len(found), method
    return sorted(found)
