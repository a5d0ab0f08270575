"""BEGIN / CANCEL / COMMIT and statement atomicity through StatementRunner.

A transaction is a savepoint over the generation manifest (dml.py): CANCEL,
or COMMIT after a failed statement, puts back the manifest, the table set
and the change-log files of BEGIN time; COMMIT keeps the writes.  The
golden harness uses the same savepoint for FOR/IF statement atomicity.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from surrealdb_spark.dml import Database, TableDef
from surrealdb_spark.script import ScriptRunner
from surrealdb_spark.sql.statements import StatementRunner
from surrealdb_spark.views import IncrementalAggView, define_incremental_view


def _runner(spark, tmp_path):
    db = Database(spark, str(tmp_path))
    r = StatementRunner(spark, db)
    r.run("CREATE person:1 SET age = 10")
    r.run("CREATE person:2 SET age = 20")
    return db, r


def _ages(r, tbl="person"):
    return sorted(x["age"] for x in r.run(f"SELECT age FROM {tbl}").collect())


def test_cancel_restores_rows(spark, tmp_path):
    _db, r = _runner(spark, tmp_path)
    r.run("BEGIN")
    r.run("UPDATE person SET age = 99")
    r.run("DELETE person:1")
    r.run("CREATE person:3 SET age = 30")
    assert _ages(r) == [30, 99]
    r.run("CANCEL")
    assert _ages(r) == [10, 20]


def test_cancel_drops_tables_created_inside(spark, tmp_path):
    db, r = _runner(spark, tmp_path)
    r.run("BEGIN")
    r.run("CREATE pet:1 SET name = 'rex'")
    assert "pet" in db.tables
    r.run("CANCEL")
    assert "pet" not in db.tables and not db._exists("pet")
    assert _ages(r) == [10, 20]


def test_cancel_brings_back_a_removed_table(spark, tmp_path):
    db, r = _runner(spark, tmp_path)
    r.run("BEGIN")
    r.run("REMOVE TABLE person")
    assert "person" not in db.tables
    r.run("CANCEL")
    assert "person" in db.tables
    assert _ages(r) == [10, 20]


def test_cancel_drops_change_rows(spark, tmp_path):
    db = Database(spark, str(tmp_path))
    db.define_table(TableDef("feed", changefeed=True))
    r = StatementRunner(spark, db)
    r.run("CREATE feed:1 SET x = 1")

    def actions():
        return [c.action for c in
                r.run("SHOW CHANGES FOR TABLE feed SINCE 0").collect()]

    assert actions() == ["CREATE"]
    r.run("BEGIN")
    r.run("UPDATE feed SET x = 2")
    r.run("CREATE feed:2 SET x = 3")
    assert sorted(actions()) == ["CREATE", "CREATE", "UPDATE"]
    r.run("CANCEL")
    assert actions() == ["CREATE"]
    assert [x["x"] for x in r.run("SELECT x FROM feed").collect()] == [1]


def test_cancel_restores_incremental_view(spark, tmp_path):
    db = Database(spark, str(tmp_path))
    db.define_table(TableDef("sales"))
    define_incremental_view(db, IncrementalAggView(
        "by_region", "sales", ["region"],
        [("count", None, "n"), ("sum", "amt", "total")]))
    r = StatementRunner(spark, db)
    r.run("CREATE sales:1 SET region = 'eu', amt = 10.0")

    def view():
        return {x["region"]: (x["n"], x["total"])
                for x in db.table("by_region").collect()}

    assert view() == {"eu": (1, 10.0)}
    r.run("BEGIN")
    r.run("CREATE sales:2 SET region = 'eu', amt = 5.0")
    r.run("CREATE sales:3 SET region = 'us', amt = 1.0")
    assert view() == {"eu": (2, 15.0), "us": (1, 1.0)}
    r.run("CANCEL")
    assert view() == {"eu": (1, 10.0)}
    # maintenance continues from the restored state
    r.run("CREATE sales:4 SET region = 'us', amt = 2.0")
    assert view() == {"eu": (1, 10.0), "us": (1, 2.0)}


def test_commit_after_failure_raises_and_restores(spark, tmp_path):
    _db, r = _runner(spark, tmp_path)
    r.run("BEGIN")
    r.run("UPDATE person SET age = 99")
    with pytest.raises(Exception):
        r.run("CREATE person:1 SET age = 1")  # id already exists
    with pytest.raises(ValueError, match="failed transaction"):
        r.run("CREATE person:5 SET age = 50")
    with pytest.raises(ValueError, match="Cannot COMMIT"):
        r.run("COMMIT")
    assert _ages(r) == [10, 20]


def test_commit_keeps_writes(spark, tmp_path):
    db, r = _runner(spark, tmp_path)
    r.run("BEGIN")
    r.run("UPDATE person SET age = age + 1")
    r.run("CREATE pet:1 SET age = 3")
    r.run("COMMIT")
    assert _ages(r) == [11, 21]
    assert _ages(r, "pet") == [3]
    assert "pet" in db.tables
    # nothing stays pinned once the transaction closes
    r.run("UPDATE person SET age = 0")
    r.run("UPDATE person SET age = 1")
    gens = [d for d in os.listdir(f"{db.root}/person")
            if d.startswith("data_g")]
    assert len(gens) <= 2


def test_failed_for_statement_rolls_back(spark, tmp_path):
    db, r = _runner(spark, tmp_path)
    script = ScriptRunner(spark, db=db, catalog=r.catalog, stmts=r)
    sp = r.savepoint()  # the golden harness's per-statement atomicity
    with pytest.raises(Exception):
        try:
            script.run("FOR $i IN [1, 2, 3] { CREATE pet SET n = $i; "
                       "UPDATE person SET age = age + $i; "
                       "IF $i = 2 { THROW 'boom' }; }")
        except Exception:
            r.rollback(sp)
            raise
    assert "pet" not in db.tables
    assert _ages(r) == [10, 20]
    assert db.table("person").filter(F.col("age") > 20).count() == 0
