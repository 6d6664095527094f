"""``session.local_frame`` builds driver-side frames in the JVM; it must
give exactly what ``createDataFrame(<list>)`` gives, and it must stay the
library's only way to build a frame from driver-side rows."""

import ast
import math
import pathlib

import pytest
from pyspark.sql.types import StructType

from mds_provider_spark.session import local_frame

# every type the library's local frames use
SCHEMA = (
    "s string, i int, l long, d double, a array<double>, b binary, t boolean"
)
ROWS = [
    ("x", 1, 2**40, float("nan"), [1.0, float("nan"), -0.0], b"\x00\x01", True),
    (None, None, None, None, None, None, None),
    ("", -(2**31), -(2**63), 2.5, [], b"", False),
    ("é中", 2**31 - 1, 2**63 - 1, float("inf"), [None, 3.0], bytearray(b"z"), None),
]


def _canon(row):
    """Row -> comparable tuple (NaN != NaN, so NaN becomes "nan")."""
    def c(v):
        if isinstance(v, float) and math.isnan(v):
            return "nan"
        if isinstance(v, list):
            return tuple(c(x) for x in v)
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        return v
    return tuple(c(v) for v in row)


@pytest.mark.parametrize("as_struct", [False, True], ids=["ddl", "struct"])
@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_create_dataframe(spark, rows, as_struct):
    schema = StructType.fromDDL(SCHEMA) if as_struct else SCHEMA
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert [_canon(r) for r in got.collect()] == [_canon(r) for r in want.collect()]


def _create_dataframe_calls(path: pathlib.Path):
    """(line, enclosing function) of every ``<x>.createDataFrame(...)``."""
    tree = ast.parse(path.read_text(), str(path))
    out = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, child.name)
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                out.append((child.lineno, fn))
            walk(child, fn)

    walk(tree, None)
    return out


def test_create_dataframe_only_in_local_frame():
    """No Spark needed: every frame the library builds from driver-side
    rows goes through ``local_frame``, so none starts a Python RDD."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "mds_provider_spark"
    stray = []
    for path in sorted(pkg.rglob("*.py")):
        for line, fn in _create_dataframe_calls(path):
            if not (path.name == "session.py" and fn == "local_frame"):
                stray.append(f"{path.relative_to(pkg.parent)}:{line} in {fn}")
    assert not stray, "createDataFrame outside session.local_frame: " + ", ".join(stray)
