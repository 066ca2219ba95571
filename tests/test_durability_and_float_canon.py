"""One durability policy, and float-canonical changelog hashing.

- Every materialization goes through session.materialize, the one place
  that picks a reliable checkpoint (checkpoint dir set) over an
  executor-local one; a direct .localCheckpoint()/.checkpoint() call
  elsewhere in the package would bypass it.
- Rows cross the Python boundary as Arrow batches only: no package
  module imports pandas or calls a pandas UDF/map/collect form, so there
  is one null model (pandas would turn a nullable bigint into float64).
- The keyed changelog compares rows by hash; -0.0 == 0.0 in SQL but
  serializes apart, so float/double hash inputs are canonicalized."""

from __future__ import annotations

import ast
import math
import pathlib

import pytest

import fscrawler_spark
from fscrawler_spark.plans.snapshot_table import SnapshotTable

PKG = pathlib.Path(fscrawler_spark.__file__).parent


def test_only_session_checkpoints():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path.relative_to(PKG).as_posix() == "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                offenders.append(f"{path.relative_to(PKG)}:{node.func.end_lineno}")
    assert offenders == [], f"use session.materialize instead: {offenders}"


PANDAS_BOUNDARY = ("pandas_udf", "mapInPandas", "applyInPandas", "toPandas")


def test_python_boundary_is_arrow_only():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""] + [a.name for a in node.names]
            elif isinstance(node, ast.Call):
                f = node.func
                names = [f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")]
            else:
                continue
            if any(n.split(".")[0] == "pandas" or n in PANDAS_BOUNDARY for n in names):
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert offenders == [], f"use the Arrow form (arrow_udf/mapInArrow/applyInArrow/toArrow): {offenders}"


@pytest.mark.parametrize(
    "before,after,expect",
    [
        (0.0, -0.0, {}),
        (math.nan, math.nan, {}),
        (0.0, 1.0, {"update_preimage": 1, "update_postimage": 1}),
    ],
    ids=["zero-to-negative-zero", "nan-to-nan", "zero-to-one"],
)
def test_changelog_float_values(spark, tmp_path, before, after, expect):
    schema = "conv_id string, turn_idx int, a double, f float, xs array<double>"
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark, spark.createDataFrame([("c", 0, before, before, [before])], schema))
    t.upsert(spark, spark.createDataFrame([("c", 0, after, after, [after])], schema))
    ch = t.read_changes(spark, 1, 2)
    counts = {r["_change_type"]: r["count"] for r in ch.groupBy("_change_type").count().collect()}
    assert counts == expect
