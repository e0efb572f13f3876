"""Shared AST mechanics for the static call-site audits.

Seven audits pin call-site inventories over the package (driver
materialization, broadcast hints, cache lifecycles, scratch-file
writers, plan-text renderers, public-function callers, parameter
setters; the scratch audit also walks ``examples/``, the public-surface
audits every caller tree). They share the walk-and-attribute machinery
so a fix to the mechanics (e.g. how calls are attributed to their enclosing
function) lands once; each audit supplies only its matcher.
"""

from __future__ import annotations

import ast
import os
from collections import Counter
from collections.abc import Callable, Iterator

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "xgboost_ray_spark")
EXAMPLES = os.path.join(REPO, "examples")
SCRIPTS = os.path.join(REPO, "scripts")


def _modules(
    top: str = PKG,
) -> Iterator[tuple[str, ast.AST, dict[ast.AST, str]]]:
    """Yield (path relative to ``top``, parsed tree, node ->
    enclosing-function map) for every module under ``top``, or for
    ``top`` itself when it is one file (rel is then its base name)."""
    if os.path.isfile(top):
        paths = [top]
        base = os.path.dirname(top)
    else:
        paths = [
            os.path.join(root, fname)
            for root, _, files in os.walk(top)
            if "__pycache__" not in root
            for fname in sorted(files)
            if fname.endswith(".py")
        ]
        base = top
    for path in paths:
        rel = os.path.relpath(path, base).replace(os.sep, "/")
        with open(path) as fh:
            tree = ast.parse(fh.read())
        func_of: dict[ast.AST, str] = {}

        def assign(node: ast.AST, fn: str) -> None:
            for child in ast.iter_child_nodes(node):
                nfn = fn
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    nfn = child.name
                func_of[child] = nfn
                assign(child, nfn)

        assign(tree, "<module>")
        yield rel, tree, func_of


def call_sites(match: Callable[[ast.Call], str | None]) -> Counter:
    """(file, enclosing function, label) -> count for every Call node the
    matcher labels. The matcher returns a label string (what to count the
    site AS) or None to skip."""
    sites: Counter = Counter()
    for rel, tree, func_of in _modules():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                label = match(node)
                if label is not None:
                    sites[(rel, func_of.get(node, "?"), label)] += 1
    return sites


def call_name(node: ast.Call) -> str | None:
    """The called name: attribute name for x.f(...), bare name for f(...)."""
    f = node.func
    if isinstance(f, ast.Attribute):
        return f.attr
    if isinstance(f, ast.Name):
        return f.id
    return None


def string_constants(substr_lower: str) -> list[tuple[str, str, str]]:
    """(file, enclosing function, constant) for every string constant in
    the package whose lowercase form contains ``substr_lower`` — the
    escape hatch SQL-text spellings (CACHE TABLE, /*+ BROADCAST */) use
    to dodge a call-site audit."""
    hits = []
    for rel, tree, func_of in _modules():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and substr_lower in node.value.lower()
            ):
                hits.append((rel, func_of.get(node, "?"), node.value))
    return hits


def name_references(
    names: set[str], top: str = PKG
) -> list[tuple[str, str, str]]:
    """(file, enclosing function, name) for every bare name, attribute or
    imported name in ``names`` under ``top``: ``x.rmtree``, ``rmtree`` and
    ``from shutil import rmtree`` all count, called or passed along."""
    hits = []
    for rel, tree, func_of in _modules(top):
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                found = [node.id]
            elif isinstance(node, ast.Attribute):
                found = [node.attr]
            elif isinstance(node, ast.ImportFrom):
                found = [a.name for a in node.names]
            else:
                continue
            hits += [(rel, func_of.get(node, "?"), n) for n in found
                     if n in names]
    return hits


def top_level_functions(top: str = PKG) -> list[tuple[str, ast.FunctionDef]]:
    """(file, definition) for every module-level function under ``top``."""
    return [
        (rel, node)
        for rel, tree, _ in _modules(top)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


def defaulted_parameters(
    top: str = PKG,
) -> list[tuple[str, str, str, str, int | None]]:
    """(file, owning class or "", function, parameter, position) for every
    parameter with a default of every function or method under ``top``,
    nested ones included. ``position`` is the index a call passes the
    parameter at positionally (a method's ``self``/``cls`` not counted),
    None for a keyword-only one."""
    out = []

    def visit(node: ast.AST, rel: str, owner: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, rel, child.name)
                continue
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = child.args
                pos = a.posonlyargs + a.args
                bound = owner and pos and pos[0].arg in ("self", "cls")
                shift = 1 if bound else 0
                first = len(pos) - len(a.defaults)
                for i, arg in enumerate(pos[first:], start=first):
                    out.append((rel, owner, child.name, arg.arg, i - shift))
                for arg, default in zip(a.kwonlyargs, a.kw_defaults):
                    if default is not None:
                        out.append((rel, owner, child.name, arg.arg, None))
                visit(child, rel, "")
                continue
            visit(child, rel, owner)

    for rel, tree, _ in _modules(top):
        visit(tree, rel, "")
    return out


def class_bases(top: str = PKG) -> dict[str, set[str]]:
    """Class name -> the names its ``class`` statement lists as bases,
    for every class under ``top``."""
    return {
        node.name: {
            b.id if isinstance(b, ast.Name) else b.attr
            for b in node.bases
            if isinstance(b, (ast.Name, ast.Attribute))
        }
        for _, tree, _ in _modules(top)
        for node in ast.walk(tree)
        if isinstance(node, ast.ClassDef)
    }


def calls_by_name(tops: tuple[str, ...]) -> dict[str, list[ast.Call]]:
    """Called name (as :func:`call_name` reads it) -> every Call node
    under each of ``tops``."""
    calls: dict[str, list[ast.Call]] = {}
    for top in tops:
        for _, tree, _ in _modules(top):
            for node in ast.walk(tree):
                if isinstance(node, ast.Call):
                    name = call_name(node)
                    if name is not None:
                        calls.setdefault(name, []).append(node)
    return calls


def call_passes(call: ast.Call, param: str, position: int | None) -> bool:
    """Whether ``call`` may pass ``param``: by keyword, through ``**``,
    through ``*``, or positionally at ``position`` or beyond."""
    if any(k.arg in (param, None) for k in call.keywords):
        return True
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return position is not None and len(call.args) > position
