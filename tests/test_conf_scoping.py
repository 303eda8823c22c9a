"""Guard against unscoped session conf writes: a caller hands the
engine its own session, so a conf the engine sets and leaves behind
changes every later query in it. Engine code pins a conf for one step
with ``session.pinned_conf``; the only other writer is
``tables.ensure_session_confs``, which re-asserts the loaders' confs on
every load on purpose (its docstring says why). AST-audit every engine
module for any other ``<session>.conf.set(``, ``.conf.unset(`` or SQL
``SET spark.…`` / ``RESET``."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "mapreduce_rust_spark"

ALLOWED = {("session.py", "pinned_conf"), ("tables.py", "ensure_session_confs")}


def _is_conf_call(node: ast.Call) -> bool:
    return (
        node.func.attr in ("set", "unset")
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
    )


def _is_sql_set(node: ast.Call) -> bool:
    """``spark.sql("SET spark.…")``; ``SET VAR`` declares a session
    variable, not a conf."""
    return (
        node.func.attr == "sql"
        and bool(node.args)
        and isinstance(node.args[0], ast.Constant)
        and isinstance(node.args[0].value, str)
        and node.args[0].value.lstrip().upper().startswith(("SET SPARK.", "RESET"))
    )


def _conf_writes(path: Path) -> list[str]:
    found: list[str] = []

    def visit(node: ast.AST, func: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and (_is_conf_call(node) or _is_sql_set(node))
            and (path.name, func) not in ALLOWED
        ):
            found.append(f"{path.relative_to(PKG)}:{node.lineno} in {func}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(path.read_text()), None)
    return found


def test_session_conf_is_set_only_through_pinned_conf():
    found = [hit for path in sorted(PKG.rglob("*.py")) for hit in _conf_writes(path)]
    assert not found, "unscoped session conf writes:\n" + "\n".join(found)
