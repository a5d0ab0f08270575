"""Benchmark of the surrealdb_spark engine: one workload per process.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 5 [--out FILE]

A run sets the session up three times and keeps the median as ``setup_s``,
runs one cold round of the workload, then warm rounds until ``--seconds``
have passed; the last round always completes, so every operation of the
workload has the same number of warm samples.  Every result is checked (see
data.py and workloads.py).  The run prints each metric with its unit and
sample count, then, as its last line, one JSON object: ``{"correct",
"attempted", "failed", "metrics"}``.  ``--trace 0`` reports the end-to-end
metrics, after the wall-clock figures, which are printed but not among
them (see README.md); ``--trace 1`` wraps the engine's layers (spans.py)
and reports the per-layer metrics instead (layers.py).  The full record of
a run (environment, steal ticks, per-op samples, spans) is written under
``.bench_cache/reports/``.  ``--all`` runs every workload untraced and
traced, prints the tracing overhead and, with ``--out``, writes the numbers
of all of them to one file.

Exit status: 0 when every answer was right, 1 when one was wrong or failed,
2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import subprocess
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("headline", "pipeline", "surql-rw")
DEFAULT_LAYOUT = {"headline": "sf0.01", "pipeline": "x3", "surql-rw": "sf0.01"}
SETUP_REPEATS = 3
# cpu_s covers a fixed amount of work: the cold round and the first warm
# round.  How much of the JIT's compiling lands in which round varies from
# run to run; over both rounds it is the same.
CPU_ROUNDS = 2
E2E_UNITS = {"setup_s": "s", "cpu_s": "s"}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="every workload, both modes")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--layout", help="sf0.01, sf0.001 or x<F> (F-fold sf0.01)")
    ap.add_argument("--out", help="with --all: write the combined numbers here")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one answer (checks the checker)")
    a = ap.parse_args(argv)
    if not a.all and not a.workload:
        ap.error("--workload or --all is required")
    return a


# -- session ----------------------------------------------------------------

def _start_session(cache: Path):
    from surrealdb_spark import get_spark

    return get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(cache / "spark-local"),
        # keep the JVM's temporary files, perf-data file included, in the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={cache / 'tmp'} -XX:-UsePerfData",
    })


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when the pipe from this process closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _set_up(wl, cache: Path):
    """Start the session and do the workload's DEFINE-time work,
    SETUP_REPEATS times; the last session is the one measured."""
    import sysinfo

    setup = {"setup_s": [], "session.start_s": [], "index.build_s": [], "cpu_s": []}
    spark = None
    for _ in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        cpu0 = sysinfo.tree_cpu_s()
        t0 = time.perf_counter()
        spark = _start_session(cache)
        t1 = time.perf_counter()
        wl.setup(spark)
        t2 = time.perf_counter()
        setup["cpu_s"].append(sysinfo.tree_cpu_s() - cpu0)
        setup["setup_s"].append(t2 - t0)
        setup["session.start_s"].append(t1 - t0)
        setup["index.build_s"].append(t2 - t1)
    return spark, setup


# -- measurement --------------------------------------------------------------

class Loop:
    """The closed loop: one client, rounds of the workload's operations."""

    def __init__(self, wl, spark, tr, seed: int, corrupt: bool):
        self.wl, self.tr, self.corrupt = wl, tr, corrupt
        self.sc = spark.sparkContext
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.rng = random.Random(seed)
        self.records: list[dict] = []
        self.rounds: list[dict] = []

    def run_ops(self, ops, round_no: int) -> None:
        for op in ops:
            i = len(self.records)
            self.tr.op_id = i
            self.sc.setJobGroup(f"op{i}", op.name)
            t0 = time.perf_counter()
            try:
                out, err = op.run(), None
            except Exception as exc:  # noqa: BLE001 — count it, keep measuring
                out, err = None, f"{type(exc).__name__}: {exc}"[:400]
            dt = time.perf_counter() - t0
            if err is None:
                self.wl.replay()
                err = op.check(out)
            self.records.append({"op": i, "round": round_no, "name": op.name,
                                 "kind": op.kind, "s": dt, "error": err,
                                 "rows": 0 if out is None else len(out)})

    def round(self, round_no: int) -> None:
        import sysinfo

        me = os.getpid()
        steal0, cpu0 = sysinfo.steal_ticks(), sysinfo.tree_cpu_s()
        jvm0, drv0 = sysinfo.cpu_s(self.jvm_pid), sysinfo.cpu_s(me)
        t0 = time.perf_counter()
        self.run_ops(self.wl.round(self.rng, self.corrupt and round_no == 1), round_no)
        wall = time.perf_counter() - t0
        cpu = sysinfo.tree_cpu_s() - cpu0
        jvm, drv = sysinfo.cpu_s(self.jvm_pid) - jvm0, sysinfo.cpu_s(me) - drv0
        steal = sysinfo.steal_ticks() - steal0
        self.rounds.append({"round": round_no, "wall_s": wall, "cpu_s": cpu,
                            "jvm_cpu_s": jvm, "driver_cpu_s": drv,
                            "workers_cpu_s": max(0.0, cpu - jvm - drv),
                            "steal_ticks": steal,
                            "steal_share": steal / sysinfo.ticks(wall)})
        if self.tr.enabled:  # read once the round's clock has stopped
            this = [r for r in self.records if r["round"] == round_no]
            counters = self.tr.spark_counters({r["op"]: f"op{r['op']}" for r in this})
            for r in this:
                r["spark"] = counters[r["op"]]

    def measure(self, seconds: float) -> dict:
        """Cold round, warm rounds for ``seconds`` (at least one), final
        checks; returns the workload's disk readings at each boundary."""
        disk = {"before": self.wl.disk()}
        self.round(0)
        disk["warm_start"] = self.wl.disk()
        start, n = time.perf_counter(), 1
        while n == 1 or time.perf_counter() - start < seconds:
            self.round(n)
            n += 1
        disk["end"] = self.wl.disk()
        self.run_ops(self.wl.finish(), -1)
        return disk


def _tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it; the maximum when there are fewer than eleven."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def _end_to_end(loop: Loop, setup: dict) -> tuple[dict, dict, dict]:
    """(metrics, sample counts, wall-clock figures).  The metrics are the
    median set-up and the CPU per round of the first CPU_ROUNDS rounds.
    The wall-clock figures, kept in the report, take each operation's
    median latency over the warm rounds: ``pass_s`` is their sum (a typical
    warm round) and ``op_gmean_s`` their geometric mean."""
    first = loop.rounds[:CPU_ROUNDS]
    values = {"setup_s": statistics.median(setup["setup_s"]),
              "cpu_s": statistics.fmean(r["cpu_s"] for r in first)}
    samples = {"setup_s": len(setup["setup_s"]), "cpu_s": len(first)}
    by_op: dict[str, list[float]] = {}
    for r in loop.records:
        if r["round"] >= 1:
            by_op.setdefault(r["name"], []).append(r["s"])
    op_p50 = [statistics.median(v) for v in by_op.values()]
    lat = [x for v in by_op.values() for x in v]
    tail, pct = _tail(lat)
    wall = {"cold_pass_s": loop.rounds[0]["wall_s"], "pass_s": math.fsum(op_p50),
            "op_gmean_s": math.exp(statistics.fmean(math.log(x) for x in op_p50)),
            "op_p50_s": statistics.median(lat), "op_tail_s": tail,
            "op_tail_percentile": pct, "op_samples": len(lat),
            "warm_rounds": len(loop.rounds) - 1}
    return values, samples, wall


def run_one(a) -> int:
    from data import CACHE

    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    for sub in ("spark-local", "tmp"):
        (CACHE / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(CACHE / "spark-local")
    os.environ["TMPDIR"] = str(CACHE / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    sys.path.insert(0, str(ROOT))
    try:
        from surrealdb_spark import suite  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import sysinfo
    from data import Answers, prepare_layout
    from layers import per_layer
    from spans import Tracer
    from workloads import PIPELINE, RegistryWorkload, SurqlWorkload

    # inputs: layout and expected answers, outside setup_s
    layout_name = a.layout or DEFAULT_LAYOUT[a.workload]
    layout, layout_rec = prepare_layout(layout_name)
    answers = Answers(layout_name, layout, layout_rec["sha256"])
    if a.workload == "surql-rw":
        wl = SurqlWorkload(layout, answers)
    else:
        wl = RegistryWorkload(PIPELINE if a.workload == "pipeline" else None,
                              layout, answers)

    phases = {"inputs_s": time.perf_counter() - T_START}
    spark, setup = _set_up(wl, CACHE)
    phases["setup_s"] = math.fsum(setup["setup_s"])
    tr = Tracer(spark, a.trace == 1)
    wl.prepare(spark, tr)
    loop = Loop(wl, spark, tr, a.seed, a.corrupt)
    tr.install()
    try:
        t0 = time.perf_counter()
        disk = loop.measure(a.seconds)
        phases["measure_s"] = time.perf_counter() - t0
    finally:
        tr.uninstall()

    e2e, samples, wall = _end_to_end(loop, setup)
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "layout": layout_rec,
        "environment": sysinfo.environment(spark),
        "setup": setup, "rounds": loop.rounds, "ops": loop.records, "disk": disk,
        "end_to_end": e2e, "samples": samples, "wall": wall,
        "peak_rss_mb": sysinfo.peak_rss_mb(loop.jvm_pid) + sysinfo.peak_rss_mb(os.getpid()),
        "failures": [r for r in loop.records if r["error"]],
        "phases": phases,
    }
    if a.trace:
        args = (tr, loop.records, loop.rounds, setup, loop.jvm_pid)
        layers = per_layer(*args, (disk["warm_start"], disk["end"]), cpus)
        report["per_layer_cold"] = {k: v for k, (v, _u) in per_layer(
            *args, (disk["before"], disk["warm_start"]), cpus, cold=True).items()}
        report["spans"] = tr.spans
        report["tracer_s"] = {"spans": tr.overhead_s, "counters": tr.counter_s}
        values = {k: v for k, (v, _u) in layers.items()}
        units = {k: u for k, (_v, u) in layers.items()}
        counts = dict.fromkeys(values, wall["warm_rounds"])
    else:
        values, units, counts = e2e, E2E_UNITS, samples
    report["metrics"] = values
    out = CACHE / "reports"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(report, indent=1, default=str))
    wl.close()
    _stop_jvm(spark)

    failed = len(report["failures"])
    for r in report["failures"]:
        print(f"FAILED {r['name']}: {r['error']}")
    if not a.trace:  # wall-clock figures: in the report, not among the metrics
        for k in ("cold_pass_s", "pass_s", "op_gmean_s"):
            print(f"{a.workload:>9} wall.{k:<29} {wall[k]:>14.6g} s      "
                  f"n={1 if k == 'cold_pass_s' else wall['op_samples']}")
    for k, v in values.items():
        print(f"{a.workload:>9} {k:<34} {v:>14.6g} {units[k]:<6} n={counts[k]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(loop.records), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0 if failed == 0 else 1


def run_all(a) -> int:
    """Every workload untraced then traced, one process each."""
    from data import CACHE

    status, results, combined = 0, {}, {}
    for w in WORKLOADS:
        for t in (0, 1):
            cmd = [sys.executable, str(Path(__file__)), "--workload", w,
                   "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(t)]
            p = subprocess.run(cmd, capture_output=True, text=True)
            lines = p.stdout.rstrip().splitlines()
            print("\n".join(lines[:-1]))
            try:
                results[(w, t)] = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                sys.stderr.write(p.stderr[-4000:])
                return p.returncode or 2
            status = max(status, p.returncode)
            rep = json.loads((CACHE / "reports" / f"{w}-seed{a.seed}-trace{t}.json").read_text())
            entry = combined.setdefault(w, {"environment": rep["environment"],
                                            "layout": rep["layout"]})
            if t:
                entry.update(per_layer_warm=rep["metrics"],
                             per_layer_cold=rep["per_layer_cold"])
            else:
                entry.update(end_to_end=rep["end_to_end"], samples=rep["samples"],
                             wall=rep["wall"], peak_rss_mb=rep["peak_rss_mb"])
    print("\nworkload  ops  failed  tracing overhead (trace.pass_s / wall.pass_s - 1)")
    for w in WORKLOADS:
        plain, traced = results[(w, 0)], results[(w, 1)]
        over = traced["metrics"]["trace.pass_s"]["value"] / combined[w]["wall"]["pass_s"] - 1
        combined[w]["tracing_overhead"] = over
        print(f"{w:<9} {plain['attempted']:>4} {plain['failed'] + traced['failed']:>7}  {over:+.1%}")
    if a.out:
        Path(a.out).write_text(json.dumps(combined, indent=1, sort_keys=True) + "\n")
    return status


def main(argv=None) -> int:
    a = _args(argv)
    sys.path.insert(0, str(HERE))
    return run_all(a) if a.all else run_one(a)


if __name__ == "__main__":
    raise SystemExit(main())
