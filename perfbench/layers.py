"""Per-layer metrics of a traced run, each per warm round unless named
otherwise (``cold.pass_s`` is the wall time of the cold round).  Layer
names follow the engine's modules; see README.md for the end-to-end metric
each one should move."""

from __future__ import annotations

import os
import statistics

import sysinfo

# (metric, unit) in report order; the values come from per_layer()
PER_LAYER = [
    ("session.start_s", "s"), ("index.build_s", "s"),
    ("build.s", "s"), ("build.jobs", "count"),
    ("sql.parser.s", "s"), ("sql.parser.calls", "count"),
    ("sql.compiler.s", "s"), ("sql.compiler.calls", "count"),
    ("sql.compiler.jobs", "count"),
    ("sql.statements.self_s", "s"), ("tx.begin_s", "s"), ("tx.commit_s", "s"),
    ("dml.write_s", "s"), ("dml.bytes_written", "bytes"),
    ("dml.generations", "count"), ("changefeed.bytes", "bytes"),
    ("dml.disk_bytes_per_live_byte", "ratio"),
    ("spark.plan_s", "s"), ("spark.exec_s", "s"), ("spark.jobs", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"), ("spark.task_s", "s"),
    ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"), ("spark.core_busy", "ratio"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.input_bytes", "bytes"),
    ("op.broadcast_collect_s", "s"), ("op.agg_build_s", "s"), ("op.scan_s", "s"),
    ("op.shuffle_write_s", "s"), ("op.fetch_wait_s", "s"), ("op.python_s", "s"),
    ("op.peak_memory_bytes", "bytes"), ("op.join_rows_out", "count"),
    ("op.pairs_per_candidate", "ratio"),
    ("driver.py_cpu_s", "s"), ("jvm.cpu_s", "s"), ("workers.cpu_s", "s"),
    ("jvm.peak_rss_mb", "MB"), ("driver.peak_rss_mb", "MB"),
    ("rw.read_p50_s", "s"), ("rw.write_p50_s", "s"), ("rw.tx_p50_s", "s"),
    ("trace.pass_s", "s"), ("trace.overhead_s", "s"), ("cold.pass_s", "s"),
]

_SPARK = ["jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
          "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes"]
_OPS = ["broadcast_collect_s", "agg_build_s", "scan_s", "shuffle_write_s",
        "fetch_wait_s", "python_s", "join_rows_out"]


def _p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_layer(tr, records, rounds, setup, jvm_pid, disks, cores, cold=False) -> dict:
    """{metric: (value, unit)} per warm round of a traced run, or for its
    cold round; ``disks`` are the workload's disk readings at the start and
    end of those rounds."""
    def chosen(r):
        return r["round"] == 0 if cold else r["round"] >= 1

    ops = [r for r in records if chosen(r)]
    rnds = [r for r in rounds if chosen(r)]
    k = max(1, len(rnds))
    layers = tr.layer_totals({r["op"] for r in ops})

    def lay(name, field="s"):
        return layers.get(name, {}).get(field, 0.0) / k

    spark = {c: sum(r["spark"].get(c, 0.0) for r in ops) / k for c in _SPARK + _OPS}
    op_s = sum(r["s"] for r in ops) / k
    rows = sum(r["rows"] for r in ops) / k
    start, end = disks
    by_op: dict[str, list[float]] = {}
    for r in ops:
        by_op.setdefault(r["name"], []).append(r["s"])
    v = {
        "session.start_s": _p50(setup["session.start_s"]),
        "index.build_s": _p50(setup["index.build_s"]),
        "build.s": lay("build"), "build.jobs": lay("build", "jobs"),
        "sql.parser.s": lay("sql.parser"), "sql.parser.calls": lay("sql.parser", "calls"),
        "sql.compiler.s": lay("sql.compiler"),
        "sql.compiler.calls": lay("sql.compiler", "calls"),
        "sql.compiler.jobs": lay("sql.compiler", "jobs"),
        "sql.statements.self_s": lay("sql.statements"),
        "tx.begin_s": lay("tx.begin", "total_s"), "tx.commit_s": lay("tx.commit", "total_s"),
        "dml.write_s": lay("dml", "total_s"),
        "dml.bytes_written": (end.get("bytes", 0) - start.get("bytes", 0)) / k,
        "dml.generations": (end.get("generations", 0) - start.get("generations", 0)) / k,
        "changefeed.bytes": (end.get("changefeed_bytes", 0)
                             - start.get("changefeed_bytes", 0)) / k,
        "dml.disk_bytes_per_live_byte": (end["bytes"] / end["live_bytes"]
                                         if end.get("live_bytes") else 0.0),
        "spark.plan_s": lay("spark.plan", "total_s"),
        "spark.exec_s": lay("spark.exec", "total_s"),
        **{f"spark.{c}": spark[c] for c in _SPARK},
        "spark.core_busy": spark["task_s"] / (op_s * cores) if op_s else 0.0,
        **{f"op.{c}": spark[c] for c in _OPS},
        "op.peak_memory_bytes": max((r["spark"].get("peak_memory_bytes", 0.0)
                                     for r in ops), default=0.0),
        "op.pairs_per_candidate": (rows / spark["join_rows_out"]
                                   if spark["join_rows_out"] else 0.0),
        "driver.py_cpu_s": _p50([r["driver_cpu_s"] for r in rnds]),
        "jvm.cpu_s": _p50([r["jvm_cpu_s"] for r in rnds]),
        "workers.cpu_s": _p50([r["workers_cpu_s"] for r in rnds]),
        "jvm.peak_rss_mb": sysinfo.peak_rss_mb(jvm_pid),
        "driver.peak_rss_mb": sysinfo.peak_rss_mb(os.getpid()),
        "rw.read_p50_s": _p50([r["s"] for r in ops if r["kind"] == "read"]),
        "rw.write_p50_s": _p50([r["s"] for r in ops if r["kind"] == "write"]),
        "rw.tx_p50_s": _p50([r["s"] for r in ops if r["kind"] == "tx"]),
        "trace.pass_s": sum(_p50(v) for v in by_op.values()),
        "trace.overhead_s": tr.overhead_s / max(1, len(rounds)),
        "cold.pass_s": rounds[0]["wall_s"],
    }
    return {name: (float(v[name]), unit) for name, unit in PER_LAYER}
