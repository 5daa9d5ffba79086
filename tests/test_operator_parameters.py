"""No operator option with a single value in use: every defaulted
parameter of a top-level function in ``operators/``, ``etl/``,
``plans/`` and ``materialize.py`` is set by some call. Static (AST)
only, no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

import scraping_etl_spark

#: Defaulted parameters kept although no call sets them, each with its
#: reason.
_UNSET_ALLOWED = {
    # the star tables' output format: the deployment setting of the
    # paper's warehouse write
    ("materialize_star", "fmt"),
}


def _defaulted_params() -> dict[str, list[tuple[list[str], set[str]]]]:
    """name -> [(positional parameter names, defaulted names)] for
    every top-level function in scope (a name may repeat across
    modules)."""
    pkg = Path(scraping_etl_spark.__file__).parent
    paths = [pkg / "materialize.py"] + [
        path
        for sub in ("operators", "etl", "plans")
        for path in sorted((pkg / sub).glob("*.py"))
    ]
    out: dict[str, list[tuple[list[str], set[str]]]] = {}
    for path in paths:
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if not isinstance(node, ast.FunctionDef):
                continue
            a = node.args
            pos = [x.arg for x in a.posonlyargs + a.args]
            defaulted = set(pos[len(pos) - len(a.defaults):]) | {
                x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            }
            out.setdefault(node.name, []).append((pos, defaulted))
    return out


def _set_params(scope) -> set[tuple[str, str]]:
    """``(function, parameter)`` pairs some call sets, matching calls by
    the callee's name: a keyword names one parameter, a positional
    argument the parameter at its index, ``*args`` every parameter from
    its index on and ``**kw`` every parameter."""
    root = Path(scraping_etl_spark.__file__).parent.parent
    sources = (
        sorted((root / "scraping_etl_spark").rglob("*.py"))
        + sorted((root / "tools").glob("*.py"))
        + sorted((root / "perfbench").glob("*.py"))
        + sorted((root / "tests").rglob("*.py"))
        + [root / "bench.py", root / "__spark_entry__.py"]
    )
    out: set[tuple[str, str]] = set()
    for path in sources:
        for call in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = (f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None)
            for pos, defaulted in scope.get(name, ()):
                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred):
                        out |= {(name, p) for p in pos[i:]}
                        break
                    if i < len(pos):
                        out.add((name, pos[i]))
                for kw in call.keywords:
                    if kw.arg is None:
                        out |= {(name, p) for p in defaulted}
                    else:
                        out.add((name, kw.arg))
    return out


def test_every_defaulted_operator_parameter_is_set():
    """A defaulted parameter no call sets is an option with one value
    in use: it becomes a constant in the body (and a switch whose
    other arm no call takes loses that arm)."""
    scope = _defaulted_params()
    unset = {
        (name, p)
        for name, sigs in scope.items()
        for _, defaulted in sigs
        for p in defaulted
    } - _set_params(scope)
    assert sorted(unset) == sorted(_UNSET_ALLOWED)
