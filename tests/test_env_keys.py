"""The package reads only deployment settings from the environment.

An environment variable that silently changes a physical plan makes a
run irreproducible from its code and config alone, so plan choices are
function parameters or PipelineConfig fields, never env knobs. This
test pins the full set of keys the package reads.
"""

import ast
import pathlib

import knowledge_graph_creation_from_text_with_llms_spark as pkg

DEPLOYMENT_KEYS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_DRIVER_MEM",
    "KG_RUN_ID",
}


def _is_os_attr(node: ast.AST, name: str) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == name
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_keys(tree: ast.AST, where: str) -> set[str]:
    """Literal keys of os.environ[...], os.environ.get/setdefault/pop(...)
    and os.getenv(...); any other use of os.environ, or a non-literal
    key, fails so that no read escapes the scan."""
    keys: set[str] = set()
    allowed_environ = set()
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            bad = {a.name for a in node.names} & {"environ", "getenv"}
            assert not bad, f"{where}: from os import {bad}"
        elif isinstance(node, ast.Subscript) and _is_os_attr(node.value, "environ"):
            allowed_environ.add(id(node.value))
            key = node.slice
        elif isinstance(node, ast.Call) and node.args:
            f = node.func
            if _is_os_attr(f, "getenv"):
                key = node.args[0]
            elif (
                isinstance(f, ast.Attribute)
                and f.attr in ("get", "setdefault", "pop")
                and _is_os_attr(f.value, "environ")
            ):
                allowed_environ.add(id(f.value))
                key = node.args[0]
        if key is not None:
            assert isinstance(key, ast.Constant) and isinstance(key.value, str), (
                f"{where}:{node.lineno}: non-literal environment key"
            )
            keys.add(key.value)
    for node in ast.walk(tree):
        if _is_os_attr(node, "environ"):
            assert id(node) in allowed_environ, (
                f"{where}:{node.lineno}: unscanned os.environ use"
            )
    return keys


def test_package_reads_only_deployment_env_keys():
    root = pathlib.Path(pkg.__file__).parent
    found: set[str] = set()
    files = sorted(root.rglob("*.py"))
    assert files
    for path in files:
        tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
        found |= _env_keys(tree, str(path.relative_to(root)))
    assert found == DEPLOYMENT_KEYS


def test_env_key_scan_sees_every_read_form():
    src = """
import os
a = os.environ.get("A", "x")
b = os.getenv("B")
c = os.environ["C"]
os.environ.setdefault("D", "1")
"""
    assert _env_keys(ast.parse(src), "t") == {"A", "B", "C", "D"}
