"""The engine keeps one streaming-state transport
(``applyInPandasWithState``): building a session leaves the process
environment alone, and the package carries no protobuf runtime or
second (transformWithState) code path."""

from __future__ import annotations

import os
import pathlib

import ecs_ecommerce_data_pipeline_spark as pkg
from ecs_ecommerce_data_pipeline_spark.session import get_spark


def test_get_spark_leaves_pythonpath_unchanged(spark):
    before = os.environ.get("PYTHONPATH")
    # the session fixture already ran get_spark once: nothing it added
    # may point into the package
    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    assert not any(
        p.startswith(pkg_dir) for p in (before or "").split(os.pathsep) if p
    )
    get_spark()
    assert os.environ.get("PYTHONPATH") == before


# spelled in pieces so a repository-wide grep for these names finds
# only real uses
_VENDOR_DIR = "_" + "vendor"
BANNED = ("google." + "protobuf", _VENDOR_DIR, "transformWithState" + "InPandas")


def test_package_has_no_second_state_transport():
    root = pathlib.Path(pkg.__file__).parent
    assert not (root / _VENDOR_DIR).exists()
    hits = [
        f"{path.relative_to(root)}: {word}"
        for path in sorted(root.rglob("*.py"))
        for word in BANNED
        if word in path.read_text(encoding="utf-8")
    ]
    assert hits == []
