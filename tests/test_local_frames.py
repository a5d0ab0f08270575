"""Driver-side rows become DataFrames only through ``session.local_frame``.

``spark.createDataFrame(list)`` re-serializes the parallelized rows through
a Python ``map``, so every job over the frame runs one Python-worker task
per partition.  ``local_frame`` runs the same inference and verification
and unpickles the rows in the JVM.  Contract under test:

- same ``.schema`` and same ``collect()`` as ``createDataFrame`` over the
  value shapes the engine builds (including the forced types of
  ``StatementRunner._literal_rows``);
- frames returned by literal CREATE / INSERT / RELATE / UPSERT carry no
  ``PythonRDD`` in their lineage;
- no ``createDataFrame(`` call exists in ``surrealdb_spark/``.
"""

from __future__ import annotations

import ast
import datetime
import decimal
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from surrealdb_spark.dml import Database
from surrealdb_spark.session import local_frame
from surrealdb_spark.sql.statements import StatementRunner, Target

PKG = Path(__file__).resolve().parents[1] / "surrealdb_spark"

_MEMBERS = T.ArrayType(T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("n", T.LongType()),
]))

CASES = {
    "ints": ([{"a": 1, "b": -(2 ** 40)}, {"a": None, "b": 3}], None),
    "floats": ([{"x": 1.5}, {"x": float("inf")}, {"x": -0.0}], None),
    "strings": ([{"s": "a"}, {"s": ""}, {"s": "ünï"}], None),
    "nested_lists": ([{"xs": [[1, 2], [3]]}, {"xs": [[]]}], None),
    "dict_to_map": ([{"m": {"k": 1, "j": 2}}, {"m": {}}], None),
    "row_to_struct": ([Row(r=Row(x=1, y="z")), Row(r=Row(x=2, y=None))], None),
    "datetime": ([{"t": datetime.datetime(2024, 2, 29, 23, 59, 59, 123456)},
                  {"t": datetime.datetime(1970, 1, 1)}], None),
    "date": ([{"d": datetime.date(2020, 1, 2)}], None),
    "decimal": ([{"d": decimal.Decimal("12.3400")},
                 {"d": decimal.Decimal("-0.5")}], None),
    "tuples_ddl": ([("a", 1), ("b", None)], "k string, v int"),
    "empty_ddl": ([], "id string"),
    "empty_ddl_wide": ([], "__rk string, __path array<string>, __depth int"),
    # the forced types of StatementRunner._literal_rows
    "all_none": ([(None, "t:1")], T.StructType([
        T.StructField("a", T.NullType()), T.StructField("id", T.StringType())])),
    "empty_array": ([([], "t:1")], T.StructType([
        T.StructField("xs", T.ArrayType(T.StringType())),
        T.StructField("id", T.StringType())])),
    "empty_object": ([({}, "t:1")], T.StructType([
        T.StructField("m", T.MapType(T.StringType(), T.StringType())),
        T.StructField("id", T.StringType())])),
    "member_fields": ([([], "t:1"), ([Row(name="a", n=1)], "t:2")],
                      T.StructType([T.StructField("tags", _MEMBERS),
                                    T.StructField("id", T.StringType())])),
}


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("case", sorted(CASES))
def test_matches_create_dataframe(spark, case):
    rows, schema = CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "PythonRDD[" not in _lineage(got)


def test_verifies_rows_against_a_schema(spark):
    with pytest.raises(TypeError):
        local_frame(spark, [("not an int",)], "v int")


def test_literal_statements_run_no_python_worker(spark, tmp_path,
                                                 monkeypatch):
    db = Database(spark, str(tmp_path))
    r = StatementRunner(spark, db)
    r.run("CREATE person:1 SET name = 'a'")
    # the lineage of the rows each verb hands to the store (the returned
    # frames are localCheckpointed, which cuts the lineage)
    handed: dict[str, list[str]] = {}
    for verb in ("create", "insert", "relate", "upsert"):
        def spy(tbl, rows, *a, _orig=getattr(db, verb), _verb=verb, **k):
            handed.setdefault(_verb.upper(), []).append(_lineage(rows))
            return _orig(tbl, rows, *a, **k)
        monkeypatch.setattr(db, verb, spy)
    returned = {
        "CREATE": r.run("CREATE person:2 SET name = 'b'"),
        "INSERT": r.run("INSERT INTO person [{id: 3, name: 'c'}, "
                        "{id: 4, name: 'd'}]"),
        "RELATE": r.run("RELATE person:1->knows->person:2 SET since = 2020"),
        "UPSERT": r.run("UPSERT person:5 SET name = 'e'"),
    }
    assert sorted(handed) == sorted(returned)
    for verb, df in returned.items():
        for lineage in handed[verb]:
            assert "PythonRDD[" not in lineage, (verb, lineage)
        assert "PythonRDD[" not in _lineage(df), verb
    names = sorted(x["name"] for x in r.run("SELECT name FROM person").collect())
    assert names == ["a", "b", "c", "d", "e"]


def test_literal_rows_forced_types(spark, tmp_path):
    r = StatementRunner(spark, Database(spark, str(tmp_path)))
    r.run("DEFINE TABLE item SCHEMALESS")
    r.run("DEFINE FIELD tags.*.name ON item TYPE string")
    r.run("DEFINE FIELD tags.*.n ON item TYPE int")
    df = r._literal_rows(
        [{"n": 1, "none": None, "xs": [], "m": {}, "tags": []}],
        Target("item"), {})
    types = {f.name: f.dataType for f in df.schema.fields}
    assert types["none"] == T.NullType()
    assert types["xs"] == T.ArrayType(T.StringType())
    assert types["m"] == T.MapType(T.StringType(), T.StringType())
    assert types["tags"] == T.ArrayType(T.StructType([
        T.StructField("n", T.LongType()), T.StructField("name", T.StringType())]))
    assert types["n"] == T.LongType()
    assert [f.name for f in df.schema.fields] == sorted(types)
    assert "PythonRDD[" not in _lineage(df)


def test_no_create_dataframe_outside_local_frame():
    calls = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                calls.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert calls == [], (
        "build driver-side rows with session.local_frame, not "
        f"createDataFrame: {calls}")
