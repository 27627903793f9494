"""Module-level constant-namespace lint (VERDICT r10 ask #5).

Round 10's q_chi2 commit reused the ``_CHI2_TERM`` name at
statistics.py module scope, silently rebinding q_benford's
goodness-of-fit SQL term to the contingency-grid text and breaking its
analysis until a health check caught it (fixed in de4945b). The
pattern -- dozens of module-level SQL-text constants shared between
operator and oracle -- invites the next collision, so this lint makes
it structural: NO module-level name in ``operators/*.py`` (or the
other engine packages that share the constant-twin discipline) may be
bound twice. A second binding is either a copy-paste collision (the
bug class) or two constants that deserve two names.

Functions/classes count as bindings too: redefining ``q_foo`` lower in
a module would silently shadow the registered implementation the same
way.
"""

from __future__ import annotations

import ast
import glob
import os

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dump1090_stream_parser_spark",
)
PACKAGES = tuple(
    os.path.join(_PKG, sub, "*.py")
    for sub in ("operators", "functions", "plans", "streaming", "sources")
)


def _toplevel_bindings(tree: ast.Module) -> list[tuple[str, int]]:
    """(name, lineno) for every name bound by a top-level statement.

    Statements INSIDE a top-level ``if``/``try`` are deliberately out
    of scope: branches legitimately bind the same fallback name. The
    collision class this guards against is sequential module-scope
    assignments, which is where the SQL-text constants live.
    """
    out: list[tuple[str, int]] = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    out.append((t.id, node.lineno))
                elif isinstance(t, (ast.Tuple, ast.List)):
                    out.extend(
                        (e.id, node.lineno)
                        for e in t.elts
                        if isinstance(e, ast.Name)
                    )
        elif isinstance(node, ast.AnnAssign) and isinstance(
            node.target, ast.Name
        ):
            if node.value is not None:
                out.append((node.target.id, node.lineno))
        elif isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            out.append((node.name, node.lineno))
        elif isinstance(node, ast.For) and isinstance(node.target, ast.Name):
            # a module-level loop variable is a binding like any other
            # (operators/__init__.py's registry-reorder loop)
            out.append((node.target.id, node.lineno))
    return out


def test_no_module_level_name_bound_twice():
    collisions: list[str] = []
    for pattern in PACKAGES:
        for path in sorted(glob.glob(pattern)):
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            seen: dict[str, int] = {}
            for name, lineno in _toplevel_bindings(tree):
                if name in seen:
                    collisions.append(
                        f"{path}:{lineno} rebinds module-level name"
                        f" {name!r} (first bound at line {seen[name]})"
                    )
                seen[name] = lineno
    assert collisions == [], "\n".join(collisions)


def test_lint_catches_the_chi2_collision_shape():
    """The lint must fail on the reverted r10 bug: the same constant
    name assigned twice at module scope with different SQL text."""
    src = (
        "_CHI2_TERM = 'benford goodness-of-fit term'\n"
        "def q_benford():\n    return _CHI2_TERM\n"
        "_CHI2_TERM = 'contingency grid term'\n"
        "def q_chi2():\n    return _CHI2_TERM\n"
    )
    bindings = _toplevel_bindings(ast.parse(src))
    names = [n for n, _ in bindings]
    assert names.count("_CHI2_TERM") == 2
    seen: set[str] = set()
    dupes = [n for n, _ in bindings if n in seen or seen.add(n)]
    assert "_CHI2_TERM" in dupes
