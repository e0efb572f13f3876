"""Static audit: every public function in the package has a caller.

A public top-level function that no code path calls is surface that
still has to be read, documented and kept working, and its tests pin
behaviour the engine never runs: pass-through wrappers over
``spark.read``/``df.write``, helpers that grew a semantics no operator
applies, codec stubs that only raise. So each public top-level function
in the package must be named from the package itself (outside its own
body), ``examples/``, ``scripts/``, ``bench.py``, ``__spark_entry__.py``
or ``perfbench/``. Tests do not count as callers. ``@register`` builders
are exempt: the registry calls them by name. A new orphan fails here
with the burden of proof on its author: give it a caller, delete it, or
add it to ``_EXEMPT`` with its reason.

The second audit holds every defaulted parameter of a package function
to the same rule: some call site, tests included, must pass it.
"""

from __future__ import annotations

import ast
import os

from tests.audit_utils import (
    EXAMPLES,
    PKG,
    REPO,
    SCRIPTS,
    call_passes,
    calls_by_name,
    class_bases,
    defaulted_parameters,
    name_references,
    top_level_functions,
)

_CALLER_TREES = (
    PKG,
    EXAMPLES,
    SCRIPTS,
    os.path.join(REPO, "bench.py"),
    os.path.join(REPO, "__spark_entry__.py"),
    os.path.join(REPO, "perfbench"),
)

# Whole modules exempt from the rule, with the reason.
_EXEMPT_MODULES = {
    "plans/explain.py": "the tests' plan-capture tool: its helpers exist "
    "for tests and people reading a plan, never for the run path",
}

# (module, function) exempt from the rule, with the reason.
_EXEMPT = {
    ("functions/vector.py", "dot"): "the Column-composed reference that "
    "pins dot_sql's SQL text bit for bit (tests/test_ann.py)",
    ("matrix.py", "shard"): "the forward half of the exported "
    "combine_data; the pair round-trips a sharded frame",
    ("ml/callback.py", "get_worker_rank"): "the reference's "
    "get_actor_rank API, called from user callbacks inside the barrier "
    "stage",
}


def _is_registered(fn: ast.FunctionDef) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "register"
        for d in fn.decorator_list
    )


def orphans() -> list[str]:
    """``module:function`` for every public top-level package function
    that no caller tree names, the exemptions left out."""
    defs = [
        (rel, fn) for rel, fn in top_level_functions(PKG)
        if not fn.name.startswith("_")
        and not _is_registered(fn)
        and rel not in _EXEMPT_MODULES
        and (rel, fn.name) not in _EXEMPT
    ]
    names = {fn.name for _, fn in defs}
    callers: dict[str, set[tuple[str, str]]] = {n: set() for n in names}
    for top in _CALLER_TREES:
        for rel, func, name in name_references(names, top):
            where = (rel, func) if top == PKG else ("", "")
            callers[name].add(where)
    return sorted(
        f"{rel}:{fn.name}" for rel, fn in defs
        # a function naming itself (recursion) is not a caller
        if not callers[fn.name] - {(rel, fn.name)}
    )


def test_every_public_function_has_a_caller():
    found = orphans()
    assert not found, (
        "public package functions with no caller outside tests (delete "
        f"them, or exempt them with a reason): {found}"
    )
    # an exemption outlives its function only by mistake
    defined = {(rel, fn.name) for rel, fn in top_level_functions(PKG)}
    assert set(_EXEMPT) <= defined, set(_EXEMPT) - defined
    assert all(os.path.isfile(os.path.join(PKG, m)) for m in _EXEMPT_MODULES)


_SETTER_TREES = _CALLER_TREES + (os.path.join(REPO, "tests"),)

# (module, function) whose defaulted parameters are exempt, with the reason.
_PARAM_EXEMPT = {
    ("ml/estimators.py", "_RFMixin.__init__"): "the reference's "
    "random-forest estimator keywords and defaults (sklearn.py:618-620), "
    "public configuration like GBTParams",
}


def unset_parameters() -> list[str]:
    """``module:function.parameter`` for every defaulted parameter of a
    package function that no call site in a setter tree passes. A class's
    ``__init__`` is called through the class or any subclass."""
    bases = class_bases()

    def lineage(cls: str) -> set[str]:
        out = {cls}
        for b in bases.get(cls, ()):
            out |= lineage(b)
        return out

    calls = calls_by_name(_SETTER_TREES)
    unset = []
    for rel, owner, fn, param, position in defaulted_parameters():
        qual = f"{owner}.{fn}" if owner else fn
        if rel in _EXEMPT_MODULES or (rel, qual) in _PARAM_EXEMPT:
            continue
        if fn == "__init__":
            names = [c for c in bases if owner in lineage(c)]
        else:
            names = [fn]
        if not any(
            call_passes(call, param, position)
            for name in names
            for call in calls.get(name, ())
        ):
            unset.append(f"{rel}:{qual}.{param}")
    return sorted(unset)


def test_every_optional_parameter_has_a_setter():
    """Every defaulted parameter of a package function is passed by some
    call site, by keyword, by position or through ``**``: one that every
    caller leaves at its default is a constant spelled as an option, and
    each such option doubles what tests and benchmarks must cover.

    Unlike the function audit above, tests count as setters here: a
    parameter only a test sets is the seam a property test sweeps
    (thresholds, caps, widths) or a fault test injects through, and such
    seams stay. A new unset parameter fails with the burden of proof on
    its author: give it a setter, make it a module constant, or exempt
    the function with a reason."""
    found = unset_parameters()
    assert not found, (
        "defaulted parameters no call site sets (make each a module "
        f"constant, or exempt its function with a reason): {found}"
    )
    defined = {
        (rel, f"{owner}.{fn}" if owner else fn)
        for rel, owner, fn, _, _ in defaulted_parameters()
    }
    assert set(_PARAM_EXEMPT) <= defined, set(_PARAM_EXEMPT) - defined
