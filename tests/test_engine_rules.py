"""Source-level guard for the ROADMAP rule that contracts between
operators are explicit arguments: engine code never flips session
config (`*.conf.set(` / `*.conf.unset(`) and never hangs hidden state
on objects (`x._graft_* = ...`). Parses every module under
error_analysis_spark/ — no Spark session needed."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
ENGINE = ROOT / "error_analysis_spark"


def _violations(tree: ast.AST) -> list[tuple[int, str]]:
    out = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "unset")
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"):
            out.append((node.lineno, f"conf.{node.func.attr}("))
        if isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for t in targets:
                for sub in ast.walk(t):
                    if (isinstance(sub, ast.Attribute)
                            and sub.attr.startswith("_graft_")):
                        out.append((node.lineno, f".{sub.attr} ="))
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "setattr"
                and len(node.args) >= 2
                and isinstance(node.args[1], ast.Constant)
                and str(node.args[1].value).startswith("_graft_")):
            out.append((node.lineno, f"setattr(..., {node.args[1].value!r})"))
    return out


def test_engine_sets_no_session_config_and_no_hidden_attributes():
    modules = sorted(ENGINE.rglob("*.py"))
    assert modules, f"no engine modules under {ENGINE}"
    found = []
    for path in modules:
        tree = ast.parse(path.read_text(), filename=str(path))
        found += [f"{path.relative_to(ENGINE.parent)}:{line}: {what}"
                  for line, what in _violations(tree)]
    assert not found, ("engine code must pass contracts as arguments, "
                       "not session conf or hidden attributes:\n"
                       + "\n".join(found))


def _blas_calls(tree: ast.AST) -> list[tuple[int, str]]:
    out = []
    for node in ast.walk(tree):
        if (isinstance(node, (ast.BinOp, ast.AugAssign))
                and isinstance(node.op, ast.MatMult)):
            out.append((node.lineno, "@"))
        if isinstance(node, ast.Attribute) and node.attr in ("linalg", "dot"):
            out.append((node.lineno, f".{node.attr}"))
        if isinstance(node, ast.ImportFrom) and (
                (node.module or "").startswith("numpy.linalg")
                or any(a.name in ("linalg", "dot") for a in node.names)):
            out.append((node.lineno, f"from {node.module} import"))
        if isinstance(node, ast.Import) and any(
                a.name.startswith("numpy.linalg") for a in node.names):
            out.append((node.lineno, "import numpy.linalg"))
    return out


def test_fitting_calls_no_blas():
    """The variogram model search runs in the driver, whose BLAS is
    multi-threaded; its fits are bit-identical across thread counts only
    because `operators/fitting.py` never reaches BLAS. No `@`, no
    `np.linalg.*`, no `np.dot` / `.dot(` there."""
    path = ENGINE / "operators" / "fitting.py"
    found = _blas_calls(ast.parse(path.read_text(), filename=str(path)))
    assert not found, ("operators/fitting.py must stay BLAS-free:\n"
                       + "\n".join(f"{path.name}:{line}: {what}"
                                   for line, what in found))
