"""Where the package calls a function or method, read from its source:
the guard tests that pin a call (``mapInArrow``, ``foreachBatch``,
the stored-index commit steps) to the functions allowed to make it."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / \
    "flink_user_behavior_analysis_spark"


def calls(name):
    """(module, enclosing top-level function) of every call of ``name``
    in the package: a method call ``.<name>(`` or a bare ``<name>(``
    call of an imported or module-level function. Fails if a
    ``.<name>(`` spelled in the source is not a call the AST walk
    sees."""
    found = []
    methods = 0
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                if isinstance(f, ast.Attribute) and f.attr == name:
                    methods += 1
                elif not (isinstance(f, ast.Name) and f.id == name):
                    continue
                found.append((path.relative_to(PACKAGE).as_posix(),
                              getattr(top, "name", None)))
    text_hits = sum(p.read_text().count(f".{name}(")
                    for p in PACKAGE.rglob("*.py"))
    assert text_hits == methods, name
    return sorted(found)
