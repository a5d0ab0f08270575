"""Smoke test of the benchmark itself, on the small layouts.

    python3 perfbench/smoke_test.py          # or: python3 -m pytest perfbench/smoke_test.py

Runs each workload once briefly (sf0.001; the pipeline on the 1x layout
built by tools/make_scaled_sf.py) and checks the result line, the metric
names against BENCHMARK.json, the trace schema of a traced run, and that a
damaged answer is caught: the run then exits 1 and reports correct=false.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
CACHE = HERE.parent / ".bench_cache"


def _env() -> dict:
    """Scratch space inside the checkout."""
    import os

    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return dict(os.environ, TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(tmp),
                SPARK_GRAFT_DRIVER_MEM="2g")


def _run(workload: str, layout: str, trace: int, *extra: str) -> tuple[int, dict, dict]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--layout", layout, *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, env=_env(), timeout=600)
    result = json.loads(p.stdout.strip().splitlines()[-1])
    report = json.loads((CACHE / "reports" / f"{workload}-seed7-trace{trace}.json").read_text())
    return p.returncode, result, report


def _check_result(result: dict, names: list[str]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["attempted"] >= 1 and isinstance(result["failed"], int)
    assert sorted(result["metrics"]) == sorted(names)
    for m in result["metrics"].values():
        assert set(m) == {"value", "unit"} and isinstance(m["value"], float)


def test_headline_traced_schema():
    code, result, report = _run("headline", "sf0.001", 1)
    assert code == 0 and result["correct"], report["failures"]
    _check_result(result, [m["name"] for m in SPEC["per_layer"]])
    spans = report["spans"]
    assert spans and all({"id", "name", "op", "parent", "start", "end", "jobs"} <= set(s)
                         for s in spans)
    names = {s["name"] for s in spans}
    assert {"build", "spark.plan", "spark.exec"} <= names
    # none of the headline entries reaches the SurrealQL front end or DML
    for k in ("sql.parser.calls", "sql.compiler.calls", "dml.bytes_written"):
        assert result["metrics"][k]["value"] == 0.0, k
    assert result["metrics"]["spark.jobs"]["value"] > 0


def test_surql_rw_end_to_end():
    code, result, report = _run("surql-rw", "sf0.001", 0)
    assert code == 0 and result["correct"], report["failures"]
    _check_result(result, [m["name"] for m in SPEC["end_to_end"]])
    kinds = {o["kind"] for o in report["ops"]}
    assert {"read", "write", "tx", "check"} <= kinds
    assert {"cold_pass_s", "pass_s", "op_gmean_s"} <= set(report["wall"])


def test_surql_rw_traced_layers():
    code, result, _ = _run("surql-rw", "sf0.001", 1)
    assert code == 0 and result["correct"]
    m = result["metrics"]
    for k in ("sql.parser.calls", "sql.compiler.calls", "dml.bytes_written",
              "tx.begin_s", "rw.write_p50_s"):
        assert m[k]["value"] > 0, k


def test_pipeline_on_scaled_layout():
    code, result, report = _run("pipeline", "x1", 0)
    assert code == 0 and result["correct"], report["failures"]
    assert report["layout"]["tables"]["documents"]["rows"] > 0


def test_wrong_answer_is_caught():
    code, result, report = _run("headline", "sf0.001", 0, "--corrupt")
    assert code == 1 and not result["correct"] and result["failed"] >= 1
    assert report["failures"]


_DEFECT = """
import sys, tempfile
sys.path.insert(0, %r)
from surrealdb_spark import get_spark
from surrealdb_spark.catalog import Catalog
from surrealdb_spark.dml import Database
from surrealdb_spark.sql.statements import StatementRunner
spark = get_spark("smoke", extra_conf={"spark.ui.showConsoleProgress": "false"})
r = StatementRunner(spark, Database(spark, tempfile.mkdtemp()),
                    catalog=Catalog(spark, %r))
r.run("DEFINE TABLE t SCHEMALESS")
r.run("INSERT INTO t (SELECT id, o_orderkey FROM orders)")
try:
    r.run("INSERT INTO t [{id: t:1, o_orderkey: 1}]")
    print("inserted")
except Exception as exc:
    print(type(exc).__name__, exc)
spark.stop()
"""


def test_known_defect_literal_insert_after_insert_select():
    """A record-literal INSERT into a table filled only by INSERT ... SELECT
    fails with NUM_COLUMNS_MISMATCH; SurqlWorkload.setup CREATEs one record
    first so the surql-rw stream does not hit it.  Once this test fails the
    defect is fixed: delete the test and that CREATE."""
    script = _DEFECT % (str(HERE.parent), str(HERE / "data" / "sf0.001"))
    p = subprocess.run([sys.executable, "-c", script], capture_output=True,
                       text=True, timeout=600, env=_env(), cwd=HERE.parent)
    assert "NUM_COLUMNS_MISMATCH" in p.stdout, p.stdout + p.stderr[-2000:]


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
