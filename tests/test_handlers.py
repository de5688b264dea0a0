"""Failures are loud and typed: no new broad exception handler in the
library.  A handler that catches ``Exception``, ``BaseException`` or
everything (bare ``except:``) must end in ``raise`` — cleanup that
re-raises is fine, swallowing is not — unless it is one of the listed
sites, each with the reason a typed handler cannot replace it."""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BROAD = {"Exception", "BaseException"}

# (module path, innermost enclosing function) -> why it stays broad
ALLOWED = {
    ("ringo_spark/functions/localrel.py", "literal_df"):
        "the Arrow createDataFrame path is an optimization over an exact "
        "fallback; pandas and Arrow raise many unrelated types on the "
        "inputs it cannot convert, and every one must degrade to the "
        "plain path",
    ("ringo_spark/operators/multimodal.py", "kernel"):
        "decoding an untrusted PNG payload can fail in any way; a "
        "malformed payload passes through with null dimensions instead "
        "of failing the whole batch",
}


def _is_broad(handler: ast.ExceptHandler) -> bool:
    t = handler.type
    if t is None:
        return True
    names = t.elts if isinstance(t, ast.Tuple) else [t]
    return any(isinstance(n, ast.Name) and n.id in BROAD for n in names)


def _broad_handlers(path: str):
    """(innermost function name, line) of every broad handler in the
    module at ``path`` whose body does not end in ``raise``."""
    tree = ast.parse(open(path).read(), filename=path)
    out = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (isinstance(node, ast.ExceptHandler) and _is_broad(node)
                and not isinstance(node.body[-1], ast.Raise)):
            out.append((func, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return out


def test_no_broad_exception_handler_swallows():
    found = {}
    pkg = os.path.join(REPO, "ringo_spark")
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                rel = os.path.relpath(path, REPO)
                for func, line in _broad_handlers(path):
                    found.setdefault((rel, func), []).append(line)
    unexpected = {k: v for k, v in found.items() if k not in ALLOWED}
    assert not unexpected, (
        "broad except without a re-raise (catch the typed errors the "
        f"call can raise instead): {unexpected}")
    # the allow-list names live sites only, so it cannot outgrow the code
    assert set(found) == set(ALLOWED), set(ALLOWED) - set(found)
