"""Policy-constant audit: every tunable constant a query function uses
must reach its DuckDB oracle by NAME (f-string interpolation), never as
a literal twin.

Twice, a scale-dependent policy constant lived in only one engine: a
fixed-bit LSH ladder, and ndcg/recall oracles still pinned to the
6-bit hash after the Spark side moved to the occupancy-adaptive
ladder. Both were identical at gate scale and divergent at sf1. The structural fix: if a query
function references a module-level ALL_CAPS numeric constant AND that
constant's value appears as a standalone numeric token in the
rendered oracle SQL, the oracle's SOURCE expression must reference
the constant by name (directly, or transitively through module-level
f-string helpers / SQL-builder functions). A literal twin passes
today and silently diverges on the next retune; interpolation cannot.

Used by tests/test_policy_constants.py; runnable standalone:

    python tools/audit_policy_constants.py
"""

from __future__ import annotations

import ast
import re
import sys
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "mapreduce_rust_spark"

# Adjudicated false positives: (slug, const) pairs where the numeric
# coincidence is NOT the constant reaching the SQL. Every entry needs
# a justification comment — this list is the conscious-decision log.
ALLOW: set[tuple[str, str]] = {
    # Each pair below was read in source to confirm the oracle's
    # numeric token is NOT the constant: keep this list deliberately
    # small and justified per entry.
    #
    # IVF_K enters these two slugs only as kmeans_centroids' DEFAULT
    # argument; both call sites pass k=KMEANS_K explicitly, and the
    # oracle interpolates KMEANS_K (same value 8 by coincidence — the
    # IVF coarse quantizer and the Lloyd demo share a cell count).
    ("embedding_kmeans", "IVF_K"),
    ("embedding_cluster_purity", "IVF_K"),
}

_NUM_TOKEN = re.compile(r"(?<![\w.$])(\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)(?![\w.])")

_CONST_RE = re.compile(r"^[A-Z][A-Z0-9_]*$")


def _safe_eval(node: ast.expr) -> float | None:
    """Evaluate a constant expression of numbers and arithmetic."""
    if isinstance(node, ast.Constant) and isinstance(node.value, (int, float)):
        if isinstance(node.value, bool):
            return None
        return float(node.value)
    if isinstance(node, ast.BinOp) and isinstance(
        node.op, (ast.Add, ast.Sub, ast.Mult, ast.Div, ast.FloorDiv, ast.Pow, ast.Mod)
    ):
        lhs, rhs = _safe_eval(node.left), _safe_eval(node.right)
        if lhs is None or rhs is None:
            return None
        try:
            return float(
                eval(  # noqa: S307 - operands are audited numbers
                    compile(ast.Expression(node), "<const>", "eval"),
                    {"__builtins__": {}},
                )
            )
        except Exception:
            return None
    if isinstance(node, ast.UnaryOp) and isinstance(node.op, (ast.USub, ast.UAdd)):
        inner = _safe_eval(node.operand)
        if inner is None:
            return None
        return -inner if isinstance(node.op, ast.USub) else inner
    return None


def _names(node: ast.AST) -> set[str]:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


class _ModuleAudit:
    """Static facts extracted from one engine module's source."""

    def __init__(self, path: Path):
        self.path = path
        tree = ast.parse(path.read_text())
        self.consts: dict[str, float] = {}
        self.helpers: dict[str, set[str]] = {}  # module var -> names in expr
        self.funcs: dict[str, set[str]] = {}  # function -> names in body
        self.oracle_refs: dict[str, set[str]] = {}  # slug -> names in expr
        self.queries: dict[str, str] = {}  # slug -> function name

        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                self.funcs[node.name] = _names(node)
            elif isinstance(node, ast.Assign) and len(node.targets) == 1:
                tgt = node.targets[0]
                if isinstance(tgt, ast.Name):
                    val = _safe_eval(node.value)
                    if _CONST_RE.match(tgt.id) and val is not None:
                        self.consts[tgt.id] = val
                    elif isinstance(node.value, (ast.JoinedStr, ast.Constant, ast.Call, ast.BinOp)):
                        self.helpers[tgt.id] = _names(node.value)
                    if tgt.id == "QUERIES" and isinstance(node.value, ast.Dict):
                        for k, v in zip(node.value.keys, node.value.values):
                            if isinstance(k, ast.Constant) and isinstance(v, ast.Name):
                                self.queries[k.value] = v.id
                elif (
                    isinstance(tgt, ast.Subscript)
                    and isinstance(tgt.value, ast.Name)
                    and tgt.value.id == "ORACLE"
                    and isinstance(tgt.slice, ast.Constant)
                ):
                    self.oracle_refs[tgt.slice.value] = _names(node.value)
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                if node.value is not None:
                    val = _safe_eval(node.value)
                    if _CONST_RE.match(node.target.id) and val is not None:
                        self.consts[node.target.id] = val

    def _expand(self, names: set[str], seen: frozenset[str] = frozenset()) -> set[str]:
        """Close a name set over module helpers and functions."""
        out = set(names)
        for n in names:
            if n in seen:
                continue
            nested = self.helpers.get(n) or self.funcs.get(n)
            if nested:
                out |= self._expand(nested, seen | {n})
        return out

    def query_consts(self, slug: str) -> set[str]:
        fn = self.queries.get(slug)
        if fn is None:
            return set()
        return self._expand(self.funcs[fn]) & set(self.consts)

    def oracle_consts(self, slug: str) -> set[str]:
        refs = self.oracle_refs.get(slug)
        if refs is None:
            return set()
        return self._expand(refs) & set(self.consts)


def _sql_numeric_values(sql: str) -> set[float]:
    return {float(m) for m in _NUM_TOKEN.findall(sql)}


def check_module(
    mod: _ModuleAudit, oracles: dict[str, str], allow: set[tuple[str, str]]
) -> list[str]:
    violations: list[str] = []
    for slug in mod.queries:
        sql = oracles.get(slug)
        if sql is None:
            continue
        sql_values = _sql_numeric_values(sql)
        interp = mod.oracle_consts(slug)
        for const in sorted(mod.query_consts(slug)):
            if const in interp or (slug, const) in allow:
                continue
            if mod.consts[const] in sql_values:
                violations.append(
                    f"{mod.path.name}:{slug}: constant {const}="
                    f"{mod.consts[const]:g} appears as a literal in the "
                    "oracle SQL but is not interpolated by name — a "
                    "retune of the Python constant would silently "
                    "diverge the two engines"
                )
    return violations


def audit() -> list[str]:
    sys.path.insert(0, str(PKG.parent))
    from mapreduce_rust_spark import registry

    oracles = registry.oracle_sql()
    violations: list[str] = []
    for path in sorted(PKG.rglob("*.py")):
        mod = _ModuleAudit(path)
        if mod.queries:
            violations.extend(check_module(mod, oracles, ALLOW))
    return violations


if __name__ == "__main__":
    out = audit()
    for v in out:
        print("VIOLATION", v)
    print(f"{len(out)} violation(s)")
    sys.exit(1 if out else 0)
