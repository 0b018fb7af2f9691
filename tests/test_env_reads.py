"""The package reads no environment variable outside the deployment
allow-list: an env var that switches between implementations is a second
code path no workload runs, so one must not creep back in."""

from __future__ import annotations

import ast
from pathlib import Path

import etl_pipeline_challenge_aladia_spark

#: deployment settings the package may read: the local core count and
#: driver heap for the session, and the route-tuning store seam
ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SEMANTIC_ROUTE_STORE"}


def _module_strings(tree: ast.Module) -> dict[str, str]:
    """Module-level ``NAME = "literal"`` constants (env-var name aliases)."""
    out = {}
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    out[t.id] = node.value.value
    return out


def _key(node: ast.AST | None, consts: dict[str, str]) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.Name) and node.id in consts:
        return consts[node.id]
    return f"<unresolved: {ast.unparse(node) if node else 'no key'}>"


def env_reads(path: Path) -> list[tuple[int, str]]:
    """(line, variable) for every ``os.environ`` / ``getenv`` use in one
    source file; a use the scan cannot resolve to a name reports as
    ``<unresolved: ...>`` so it fails the allow-list check too."""
    tree = ast.parse(path.read_text(), str(path))
    consts = _module_strings(tree)
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    found = []
    for node in ast.walk(tree):
        name = (
            node.attr if isinstance(node, ast.Attribute)
            else node.id if isinstance(node, ast.Name)
            else None
        )
        if name == "getenv":
            call = parents.get(node)
            arg = call.args[0] if isinstance(call, ast.Call) and call.args else None
            found.append((node.lineno, _key(arg, consts)))
        elif name == "environ":
            p = parents.get(node)
            if isinstance(p, ast.Subscript):
                found.append((node.lineno, _key(p.slice, consts)))
                continue
            call = parents.get(p)
            if (
                isinstance(p, ast.Attribute)
                and p.attr in ("get", "setdefault", "pop")
                and isinstance(call, ast.Call)
                and call.args
            ):
                found.append((node.lineno, _key(call.args[0], consts)))
            else:
                found.append((node.lineno, f"<unresolved: {ast.unparse(p)}>"))
    return found


def test_package_reads_only_deployment_env_vars():
    root = Path(etl_pipeline_challenge_aladia_spark.__file__).parent
    reads = {
        f"{path.relative_to(root)}:{line}": var
        for path in sorted(root.rglob("*.py"))
        for line, var in env_reads(path)
    }
    assert reads, "the scan found no env reads at all — it is broken"
    bad = {where: var for where, var in reads.items() if var not in ALLOWED}
    assert not bad, f"env vars outside the deployment allow-list: {bad}"
