"""Immutable table generations under one manifest.

Every write lands in a fresh ``data_g<N>`` dir and commits by atomically
replacing ``<root>/_manifest.json``, which names each table's live
generation (and, for VERSIONed tables, the generation each versionstamp
reads).  Contract under test:

- the live-generation pointer is the manifest's, never a dir scan: an
  uncommitted dir left by a killed write is invisible, and the next
  commit's GC deletes it;
- a lazy reader taken BEFORE a mutation still sees the old rows after it
  (GC keeps the generation before the live one);
- repeated mutations keep advancing generations and reading back
  correctly; appends hard-link the live files instead of rewriting them;
- disk stays bounded: after N writes only the live and previous
  generations remain, plus what an open savepoint or a VERSION entry pins;
- REMOVE TABLE drops the manifest entry; a re-DEFINE starts empty and
  generation numbers keep counting up;
- ``table``/``table_at`` serve one cached lazy scan per generation: a
  repeat read launches no Spark job, a write or GC moves to a new entry,
  and the cache never outgrows the referenced generations.
"""

import json
import os
import time
import uuid

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from surrealdb_spark import get_spark
from surrealdb_spark.dml import Database, TableDef


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_dml_generations")


def _db(spark, tmp_path):
    db = Database(spark, str(tmp_path))
    db.define_table(TableDef("t"))
    db.create(
        "t",
        spark.createDataFrame(
            [("t:1", 1), ("t:2", 2), ("t:3", 3)], "id string, v int"
        ),
    )
    return db


def _gens(db, tbl):
    base = f"{db.root}/{tbl}"
    return sorted(d for d in os.listdir(base) if d.startswith("data_g"))


def test_reader_taken_before_mutation_is_stable(spark, tmp_path):
    db = _db(spark, tmp_path)
    snapshot = db.table("t")  # lazy plan over the pre-mutation generation
    db.update("t", {"v": F.lit(99)}, F.col("id") == "t:1")
    assert sorted(r.v for r in snapshot.collect()) == [1, 2, 3]
    assert sorted(r.v for r in db.table("t").collect()) == [2, 3, 99]


def test_generations_advance_and_read_back(spark, tmp_path):
    db = _db(spark, tmp_path)
    assert db._data("t").endswith("/t/data_g1")  # create() commits g1
    db.update("t", {"v": F.col("v") + 10})
    assert db._data("t").endswith("data_g2")
    db.delete("t", F.col("v") == 12)
    g3 = db._data("t")
    assert g3.endswith("data_g3")
    assert sorted(r.v for r in db.table("t").collect()) == [11, 13]
    with open(f"{db.root}/_manifest.json") as fh:
        assert json.load(fh)["tables"]["t"]["gen"] == 3
    # GC kept the live generation and the one before it
    assert _gens(db, "t") == ["data_g2", "data_g3"]
    # an append links the live files into the next generation
    db.create("t", spark.createDataFrame([("t:4", 4)], "id string, v int"))
    g4 = db._data("t")
    old = [f for f in os.listdir(g3) if f.endswith(".parquet")]
    assert old and all(os.path.samefile(f"{g3}/{f}", f"{g4}/{f}") for f in old)
    assert sorted(r.v for r in db.table("t").collect()) == [4, 11, 13]


def test_remove_and_redefine_resets_generations(spark, tmp_path):
    db = _db(spark, tmp_path)
    db.update("t", {"v": F.lit(0)})
    assert db._data("t").endswith("data_g2")
    db.drop("t")  # REMOVE TABLE path (statements.py)
    assert "t" not in db.tables and _gens(db, "t") == []
    db.define_table(TableDef("t"))
    assert not db._exists("t")
    db.create("t", spark.createDataFrame([("t:9", 9)], "id string, v int"))
    assert db._data("t").endswith("data_g3")  # numbers never repeat
    assert [r.v for r in db.table("t").collect()] == [9]


def test_upsert_and_insert_roundtrip_across_generations(spark, tmp_path):
    db = _db(spark, tmp_path)
    db.upsert(
        "t", spark.createDataFrame([("t:2", 20), ("t:4", 40)], "id string, v int")
    )
    assert dict((r.id, r.v) for r in db.table("t").collect()) == {
        "t:1": 1, "t:2": 20, "t:3": 3, "t:4": 40,
    }
    db.insert(
        "t",
        spark.createDataFrame([("t:5", 5)], "id string, v int"),
    )
    assert sorted(r.v for r in db.table("t").collect()) == [1, 3, 5, 20, 40]


def test_killed_write_is_invisible_and_collected(spark, tmp_path):
    db = _db(spark, tmp_path)
    # a write killed before its manifest commit: a newer dir, no _SUCCESS
    orphan = f"{db.root}/t/data_g2"
    db.table("t").filter(F.col("v") > 1).write.parquet(orphan)
    os.remove(f"{orphan}/_SUCCESS")
    db = Database(spark, str(tmp_path))  # reopen
    assert db._data("t").endswith("data_g1")
    assert sorted(r.v for r in db.table("t").collect()) == [1, 2, 3]
    db.define_table(TableDef("t"))
    db.update("t", {"v": F.col("v") * 10})
    assert not os.path.exists(orphan)
    assert db._data("t").endswith("data_g3")
    assert sorted(r.v for r in db.table("t").collect()) == [10, 20, 30]


def test_disk_bounded_across_writes_and_savepoints(spark, tmp_path):
    db = _db(spark, tmp_path)
    for _ in range(20):
        db.update("t", {"v": F.col("v") + 1})
    assert len(_gens(db, "t")) <= 2
    assert sorted(r.v for r in db.table("t").collect()) == [21, 22, 23]
    sp = db.savepoint()
    pinned = db._data("t")
    for _ in range(3):
        db.update("t", {"v": F.col("v") + 1})
    assert os.path.isdir(pinned)  # an open savepoint pins its generation
    db.release(sp)
    assert not os.path.exists(pinned) and len(_gens(db, "t")) <= 2
    assert sorted(r.v for r in db.table("t").collect()) == [24, 25, 26]


def test_versioned_table_keeps_every_version(spark, tmp_path):
    db = Database(spark, str(tmp_path))
    db.define_table(TableDef("vt", versioned=True))
    db.create("vt", spark.createDataFrame([("vt:1", 0)], "id string, v int"))
    marks = []
    for i in range(1, 6):
        marks.append(time.time_ns() // 1_000_000)
        time.sleep(0.01)
        db.update("vt", {"v": F.lit(i)})
        time.sleep(0.01)
    assert [db.table_at("vt", m).first().v for m in marks] == [0, 1, 2, 3, 4]
    assert db.table("vt").first().v == 5


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"scan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "scan cache probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_table_read_is_one_cached_scan(spark, tmp_path):
    _db(spark, tmp_path)
    db = Database(spark, str(tmp_path))  # reopen: an empty scan cache
    db.define_table(TableDef("t"))
    first, n_first = _jobs(spark, lambda: db.table("t"))
    again, n_again = _jobs(spark, lambda: db.table("t"))
    assert n_first >= 1  # the footer-reading schema job
    assert again is first and n_again == 0
    db.update("t", {"v": F.col("v") + 1})
    after = db.table("t")
    assert after is not first
    assert sorted(r.v for r in after.collect()) == [2, 3, 4]
    assert sorted(r.v for r in first.collect()) == [1, 2, 3]


def test_scan_cache_bounded_by_referenced_generations(spark, tmp_path):
    db = _db(spark, tmp_path)
    for _ in range(20):
        db.update("t", {"v": F.col("v") + 1})
    on_disk = {f"{db.root}/t/{g}" for g in _gens(db, "t")}
    assert set(db._scans) <= on_disk and len(db._scans) <= len(on_disk) <= 2


def test_rollback_serves_the_pinned_scan(spark, tmp_path):
    db = _db(spark, tmp_path)
    sp = db.savepoint()
    pinned = db.table("t")
    for _ in range(3):
        db.update("t", {"v": F.lit(0)})
    db.rollback(sp)
    assert db.table("t") is pinned
    assert sorted(r.v for r in db.table("t").collect()) == [1, 2, 3]


def test_table_at_returns_cached_scans(spark, tmp_path):
    db = Database(spark, str(tmp_path))
    db.define_table(TableDef("vt", versioned=True))
    db.create("vt", spark.createDataFrame([("vt:1", 0)], "id string, v int"))
    mark = time.time_ns() // 1_000_000
    time.sleep(0.01)
    db.update("vt", {"v": F.lit(1)})
    old = db.table_at("vt", mark)
    again, n = _jobs(spark, lambda: db.table_at("vt", mark))
    assert again is old and n == 0 and old.first().v == 0
    live = db.table_at("vt", time.time_ns() // 1_000_000 + 1000)
    assert live is db.table("vt") and live.first().v == 1


def test_self_join_of_cached_scans(spark, tmp_path):
    db = Database(spark, str(tmp_path))
    db.define_table(TableDef("p"))
    db.create("p", spark.createDataFrame(
        [("p:1", "p:2"), ("p:2", None)], "id string, boss string"))
    a, b = db.table("p"), db.table("p")
    assert a is b
    # one frame on both sides: Spark refuses the ambiguous column
    # references instead of silently joining id#1 with itself
    with pytest.raises(AnalysisException):
        a.join(b, a["id"] == b["boss"]).collect()
    # aliased sides and string keys work as over any shared scan
    pairs = (a.alias("x").join(b.alias("y"), F.col("x.id") == F.col("y.boss"))
             .select(F.col("y.id").alias("emp"), F.col("x.id").alias("mgr"))
             .collect())
    assert [(r.emp, r.mgr) for r in pairs] == [("p:1", "p:2")]
    assert a.join(b.select("id"), "id").count() == 2
