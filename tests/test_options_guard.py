"""The package reads only its two deployment settings from the process
environment.  Path choices and plan shapes are not user options: a size
gate lives in ``functions.single_task``, and a test forces the other
path by monkeypatching its constant, never through an env var."""

from __future__ import annotations

import ast
import pathlib

import ecs_ecommerce_data_pipeline_spark as pkg

ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_LOCAL_DRIVER_MEM"}


def _env_keys(tree: ast.AST):
    """Yield the key of every environment read: ``<x>.environ[...]``,
    ``<x>.environ.get/pop/setdefault(...)``, ``getenv(...)``.  A key
    that is not a string literal yields ``"<dynamic>"``."""

    def key(node):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        return "<dynamic>"

    def is_environ(node):
        return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
            isinstance(node, ast.Name) and node.id == "environ"
        )

    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Subscript)
            and isinstance(node.ctx, ast.Load)
            and is_environ(node.value)
        ):
            yield key(node.slice)
        elif isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr in ("get", "pop", "setdefault"):
                if is_environ(f.value):
                    yield key(node.args[0])
            elif (isinstance(f, ast.Attribute) and f.attr == "getenv") or (
                isinstance(f, ast.Name) and f.id == "getenv"
            ):
                yield key(node.args[0])


def test_package_reads_only_deployment_env_vars():
    root = pathlib.Path(pkg.__file__).parent
    read = {
        f"{path.relative_to(root)}: {k}"
        for path in sorted(root.rglob("*.py"))
        for k in _env_keys(ast.parse(path.read_text(encoding="utf-8")))
        if k not in ALLOWED
    }
    assert read == set()


def test_env_scan_sees_every_read_form():
    src = (
        "import os\nfrom os import environ, getenv\n"
        "os.environ.get('A')\nos.environ['B']\n_os.environ.pop('C', 1)\n"
        "getenv('D')\nos.getenv('E')\nenviron[name]\n"
        "os.environ['SPARK_GRAFT_CPUS'] = '4'\n"
    )
    assert sorted(_env_keys(ast.parse(src))) == ["<dynamic>", "A", "B", "C", "D", "E"]
