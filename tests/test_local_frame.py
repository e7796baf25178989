"""session.local_frame: every frame the package builds from driver-side data
is an Arrow LocalRelation — no pickled rows for a Spark Python worker to
decode, for any input (rows, pandas, arrays, nulls, zero rows) — and no
package module builds one any other way."""

from __future__ import annotations

import ast
import math
import pathlib

import numpy as np
import pandas as pd
import pytest

from taxahfe_spark.session import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "taxahfe_spark"


def _assert_local(df) -> None:
    qe = df._jdf.queryExecution()
    analyzed = qe.analyzed().toString()
    assert "LocalRelation" in analyzed and "LogicalRDD" not in analyzed, analyzed
    lineage = qe.toRdd().toDebugString()
    assert "applySchemaToPythonRDD" not in lineage, lineage
    assert "PythonRDD" not in lineage, lineage


def test_rows_with_null_string_and_arrays_round_trip(spark):
    rows = [
        ("a", [1, 2], [0.5, 1.5], 3),
        (None, [], [float("nan")], None),
        ("c", None, None, 7),
    ]
    df = local_frame(spark, rows, "s string, i array<int>, d array<double>, n bigint")
    _assert_local(df)
    assert df.schema.simpleString() == (
        "struct<s:string,i:array<int>,d:array<double>,n:bigint>"
    )
    got = [tuple(r) for r in df.collect()]
    assert got[0] == ("a", [1, 2], [0.5, 1.5], 3)
    assert got[1][0] is None and got[1][1] == [] and math.isnan(got[1][2][0])
    assert got[1][3] is None
    assert got[2] == ("c", None, None, 7)


def test_numpy_arrays_in_rows(spark):
    rows = [("p", np.array([0, 3], dtype=np.int32), np.array([1.0, 2.0]))]
    df = local_frame(spark, rows, "path string, idxs array<int>, vals array<double>")
    _assert_local(df)
    assert [tuple(r) for r in df.collect()] == [("p", [0, 3], [1.0, 2.0])]


def test_pandas_with_schema_matches_by_position(spark):
    pdf = pd.DataFrame({"x": ["a", None], "y": [1.0, np.nan]})
    df = local_frame(spark, pdf, "name string, v double")
    _assert_local(df)
    assert df.columns == ["name", "v"]
    # pandas semantics, as in Spark's Arrow path: NaN is null
    assert [tuple(r) for r in df.collect()] == [("a", 1.0), (None, None)]


def test_pandas_without_schema_keeps_arrow_types(spark):
    pdf = pd.DataFrame({"k": ["a", "b"], "n": [1, 2], "f": [0.5, 1.5], "b": [True, False]})
    df = local_frame(spark, pdf, None)
    _assert_local(df)
    assert df.dtypes == [("k", "string"), ("n", "bigint"), ("f", "double"), ("b", "boolean")]
    pd.testing.assert_frame_equal(df.toPandas(), pdf)


@pytest.mark.parametrize("data", [[], pd.DataFrame({"a": [], "b": []})])
def test_zero_rows_are_a_local_relation(spark, data):
    df = local_frame(spark, data, "a string, b array<double>")
    _assert_local(df)
    assert df.dtypes == [("a", "string"), ("b", "array<double>")]
    assert df.collect() == []


def test_unconvertible_data_raises(spark):
    with pytest.raises(Exception):
        local_frame(spark, [("not a number",)], "n bigint")
    with pytest.raises(Exception):
        local_frame(spark, pd.DataFrame({"n": ["x"]}), "n bigint")
    with pytest.raises(ValueError):
        local_frame(spark, [("a", 1), ("b",)], "s string, n bigint")
    with pytest.raises(ValueError):
        local_frame(spark, pd.DataFrame({"a": [1]}), "a bigint, b bigint")


def test_create_dataframe_only_inside_local_frame():
    """A list-built frame must not come back: in the package,
    ``createDataFrame`` is called only by ``session.local_frame``."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        if path.name == "session.py" and path.parent == PACKAGE:
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                    allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno}")
    assert not offenders, offenders
