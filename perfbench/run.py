#!/usr/bin/env python3
"""Lakehouse benchmark for the spark-graft package: one closed-loop client.

    python3 perfbench/run.py --workload {analytic,lakehouse} \\
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

The package is imported from the directory above ``perfbench/``.
The run makes its inputs from ``--seed``, starts a local SparkSession
with ``SPARK_GRAFT_CPUS`` = the usable core count and a driver memory
below physical RAM, builds the workload's tables and runs the warm-up
rounds (together ``setup_s``), then a fixed number of timed rounds: the
workload's ``rounds`` for a run of ``BENCH_SECONDS``, scaled by
``--seconds`` (at least three). It prints one line per round (``round_s``, ``cpu_s``,
``box.steal_frac``), every metric by name with its unit, and as its last
line one JSON object with the keys ``correct``, ``attempted``, ``failed``
and ``metrics``. perfbench/README.md describes the workloads and metrics.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark UI REST API and reports the per-layer metrics instead. Exit code:
0 when every correctness check passed, 1 when one failed, 2 when the
package is missing. All scratch files go under ``.perfbench_work/`` next
to ``perfbench/`` and are removed at exit.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import fixtures  # noqa: E402
from measure import BoxSample, alive, descendants, median, op_latency, tree_cpu_s  # noqa: E402
from tracing import EXEC_METRICS, TIMED_GROUP, SparkRest, spark_ui_conf  # noqa: E402
from workloads import WORKLOADS, Analytic  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dbx_workspace_and_emr_iceberg_spark"
MIN_ROUNDS = 3
#: run_seconds of BENCHMARK.json: a run of this many seconds measures a
#: workload's ``rounds`` timed rounds; other ``--seconds`` scale them
BENCH_SECONDS = 12
#: a run that is still timing rounds this long after it started stops
#: early (and says so), so that it ends within the driver's 180 s
DEADLINE_S = 150

#: Workload sizes. ``tiny`` is for smoke tests.
SIZES = {
    "full": {
        "analytic": {"sf": 0.01, "warmup": 3, "rounds": 6},
        "lakehouse": {
            "sf": 0.01, "warmup": 1, "rounds": 3,
            # write path: fractions of the table's rows
            "merge_update": 0.02, "merge_insert": 0.01, "update": 0.02, "delete": 0.01,
            # metadata path: history, inserts and reads
            "base_files": 24, "base_frac": 0.5, "appends": 3,
            "insert_frac": 0.002, "insert_slices": 16,
            "range_frac": 0.002, "reads": 3, "as_of": 2, "resolves": 2,
        },
    },
    "tiny": {
        "analytic": {"sf": 0.001, "warmup": 1, "rounds": 3},
        "lakehouse": {
            "sf": 0.001, "warmup": 1, "rounds": 3,
            "merge_update": 0.02, "merge_insert": 0.01, "update": 0.02, "delete": 0.01,
            "base_files": 8, "base_frac": 0.5, "appends": 3,
            "insert_frac": 0.01, "insert_slices": 4,
            "range_frac": 0.01, "reads": 2, "as_of": 2, "resolves": 1,
        },
    },
}

#: End-to-end metrics of the JSON result, each with a bound in
#: BENCHMARK.json.
END_TO_END = (
    ("setup_s", "s"),
    ("cpu_s", "CPU-s"),
    ("space_amp", "ratio"),
)
#: End-to-end wall-time metrics that are printed but carry no bound:
#: host CPU steal moves them between runs by more than any bound a
#: regression check can use (README.md, "Steadiness").
UNBOUNDED = (
    ("round_s", "s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
)

SQL_KINDS = ("merge", "update", "delete", "insert", "select_as_of")


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run reports, with its unit."""
    out = [("session.start_s", "s"), ("tables.load_s", "s")]
    for q in Analytic.QUERIES:
        out += [(f"queries.{q}.s", "s"), (f"queries.{q}.build_s", "s")]
    for q in Analytic.QUERIES:
        out += [
            (f"plans.{q}.exchanges", "count"),
            (f"plans.{q}.python_evals", "count"),
            (f"plans.{q}.codegen_stages", "count"),
        ]
    out += list(EXEC_METRICS)
    out += [("sql_dml.parse_s", "s")]
    out += [(f"engine.sql_s.{k}", "s") for k in SQL_KINDS]
    out += [
        ("lakehouse.files_rewritten", "count"),
        ("lakehouse.files_added", "count"),
        ("lakehouse.data_bytes_written", "bytes"),
        ("lakehouse.write_amp", "ratio"),
        ("lakehouse.manifest_bytes", "bytes"),
        ("lakehouse.live_files", "count"),
        ("lakehouse.versions", "count"),
        ("lakehouse.main_head_s", "s"),
        ("lakehouse.pruned_files_s", "s"),
        ("lakehouse.read_range_s", "s"),
        ("lakehouse.read_version_s", "s"),
        ("lakehouse.files_scanned", "count"),
        ("lakehouse.prune_ratio", "ratio"),
        ("rest_catalog.resolve_s", "s"),
        ("rest_catalog.load_table_bytes", "bytes"),
        ("box.steal_frac", "ratio"),
        ("box.load1", "load"),
        ("trace.round_s", "s"),
    ]
    return out


class Run:
    """State of one benchmark run: op records, layer samples, failures."""

    def __init__(self, seed, trace, inject_wrong, size, work):
        self.seed = seed
        self.trace = trace
        self.inject_wrong = inject_wrong
        self.size = size
        self.work = work
        self.spark = None
        self.phase = "setup"
        self.round = -1
        self.ops_log: list[dict] = []
        self.last: dict | None = None
        self.correct = True
        self.errors: list[str] = []
        self._layers: dict[str, list[tuple[str, float]]] = {}
        self._exit_hooks = []
        self._injected = False

    def fixtures(self, sf: float) -> str:
        path = os.path.join(self.work, f"fixtures-sf{sf}")
        if not os.path.isdir(path):
            fixtures.generate(path, sf, self.seed)
        return path

    def op(self, kind: str, fn, timed: bool = True):
        """Run one op of the mix, timing it; returns its value, or None
        (and a failed record) when it raised."""
        rec = {"round": self.round, "kind": kind, "timed": timed and self.phase == "timed", "ok": True}
        sc = self.spark.sparkContext
        if self.trace and rec["timed"]:
            sc.setJobGroup(f"{TIMED_GROUP}-{self.round}", kind)
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # a failed op is counted, not fatal
            out = None
            rec["ok"] = False
            self.correct = False
            self.errors.append(f"round {self.round} {kind} raised {type(e).__name__}: {e}")
        rec["s"] = time.perf_counter() - t0
        if self.trace and rec["timed"]:
            sc.setJobGroup("untimed", "")
        self.ops_log.append(rec)
        self.last = rec
        return out

    def records(self, kind=None, round_index=None) -> list[dict]:
        return [
            r for r in self.ops_log
            if (kind is None or r["kind"] == kind)
            and (round_index is None or r["round"] == round_index)
        ]

    def fail(self, recs, msg: str) -> None:
        """A correctness check failed: the ops in ``recs`` count as failed."""
        for r in recs:
            r["ok"] = False
        self.correct = False
        self.errors.append(msg)

    def inject(self) -> bool:
        """True once, at the first check after timing starts, when the
        run was asked to corrupt a result (``--inject-wrong``)."""
        if self.inject_wrong and not self._injected and self.phase != "setup":
            self._injected = True
            return True
        return False

    def layer(self, name: str, value: float) -> None:
        self._layers.setdefault(name, []).append((self.phase, float(value)))

    def layer_value(self, name: str) -> float:
        vals = self._layers.get(name, [])
        timed = [v for p, v in vals if p == "timed"]
        return median(timed or [v for _, v in vals])

    def on_exit(self, fn) -> None:
        self._exit_hooks.append(fn)

    def close(self) -> None:
        for fn in reversed(self._exit_hooks):
            try:
                fn()
            except Exception:
                traceback.print_exc()


def pin_environment(work: str) -> dict[str, str]:
    """Deployment settings of the run, fixed here rather than inherited."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    driver_mb = min(4096, mem_kb // 1024 // 4)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    env["ram_mb"] = str(mem_kb // 1024)
    return env


def stop_spark(spark) -> None:
    """Stop the session, then wait until the JVM and every process it
    started (the PySpark daemon and workers) has exited."""
    from pyspark import SparkContext

    started = descendants()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while any(alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in started:
        if alive(p):
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)


def run_round(run, wl, i, timed_rounds):
    run.round = i
    wl.prepare(run, i)
    n0 = len(run.ops_log)
    box0, cpu0 = BoxSample(), tree_cpu_s()
    wl.ops(run, i)
    cpu1, box1 = tree_cpu_s(), BoxSample()
    ops = run.ops_log[n0:]
    row = {
        "round": i,
        "phase": run.phase,
        "round_s": sum(r["s"] for r in ops),
        "cpu_s": cpu1 - cpu0,
        "steal_frac": box1.steal_frac(box0),
        "load1": box1.load1,
        "ops": len(ops),
    }
    wl.check(run, i)
    wl.reset(run, i)
    print(
        f"round {i:3d} {run.phase:6s} round_s={row['round_s']:.3f} cpu_s={row['cpu_s']:.2f} "
        f"box.steal_frac={row['steal_frac']:.3f} box.load1={row['load1']:.2f} ops={row['ops']}",
        flush=True,
    )
    if run.phase == "timed":
        timed_rounds.append(row)
        run.layer("box.steal_frac", row["steal_frac"])
        run.layer("box.load1", row["load1"])
    return row


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(SIZES["full"]))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    ap.add_argument(
        "--inject-wrong", action="store_true",
        help="corrupt one checked result, to show that the checks catch it",
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    # the package, and tools/sim_compare.py for the oracle's value hash
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work)

    size = SIZES[args.size][args.workload]
    run = Run(args.seed, bool(args.trace), args.inject_wrong, size, work)
    wl = WORKLOADS[args.workload]()
    timed_rounds: list[dict] = []
    result = None
    try:
        # benchmark-side inputs (fixture files, oracle state) are made
        # before the session starts and are not part of setup_s
        wl.inputs(run)
        t0 = time.perf_counter()
        import pyspark

        from dbx_workspace_and_emr_iceberg_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']}",
            "spark.ui.showConsoleProgress": "false",
        }
        if run.trace:
            conf.update(spark_ui_conf())
        run.spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        run.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        run.layer("session.start_s", t1 - t0)
        print(
            f"env nproc={env['SPARK_GRAFT_CPUS']} ram_mb={env['ram_mb']} "
            f"driver_mem={env['SPARK_GRAFT_DRIVER_MEM']} pyspark={pyspark.__version__} "
            f"java={run.spark.sparkContext._jvm.System.getProperty('java.version')} "
            f"python={sys.version.split()[0]} ui={'on' if run.trace else 'off'}",
            flush=True,
        )
        wl.setup(run)
        t2 = time.perf_counter()
        # warm-up rounds count with their ops only, as timed rounds do
        warmup_s = sum(run_round(run, wl, i, timed_rounds)["round_s"] for i in range(size["warmup"]))
        setup_s = (t2 - t0) + warmup_s
        print(
            f"setup session_s={t1 - t0:.2f} build_s={t2 - t1:.2f} "
            f"warmup_s={warmup_s:.2f} total_s={setup_s:.2f} "
            f"(inputs and checks outside: {time.perf_counter() - _T0 - setup_s:.2f} s)",
            flush=True,
        )

        run.phase = "timed"
        rounds = max(MIN_ROUNDS, round(size["rounds"] * args.seconds / BENCH_SECONDS))
        for i in range(size["warmup"], size["warmup"] + rounds):
            run_round(run, wl, i, timed_rounds)
            if len(timed_rounds) < rounds and time.perf_counter() - _T0 > DEADLINE_S:
                msg = f"cut short: {len(timed_rounds)} of {rounds} timed rounds after {DEADLINE_S} s"
                print(msg, flush=True)
                print(msg, file=sys.stderr)
                break

        run.phase = "finish"
        space_amp = wl.finish(run)
        timed_ops = [r for r in run.ops_log if r["timed"]]
        by_kind: dict[str, list[float]] = {}
        for r in timed_ops:
            by_kind.setdefault(r["kind"], []).append(r["s"])
        p50_s, tail_s, tail_pct, n_ops = op_latency(by_kind)
        e2e = {
            "setup_s": setup_s,
            "round_s": median([r["round_s"] for r in timed_rounds]),
            "cpu_s": median([r["cpu_s"] for r in timed_rounds]),
            "op_p50_s": p50_s,
            "op_tail_s": tail_s,
            "space_amp": space_amp,
        }
        print(
            f"op_p50_s is the geometric mean of {len(by_kind)} op kinds' medians; op_tail_s is "
            f"p{tail_pct:.1f} of {n_ops} timed ops, each over its kind's median, times op_p50_s",
            flush=True,
        )
        for kind, ks in by_kind.items():
            print(f"op {kind} n={len(ks)} p50_s={median(ks):.4f} max_s={max(ks):.4f}")
        result = trace_layers(run, wl, timed_ops, e2e["round_s"]) if run.trace else e2e
    except Exception:
        traceback.print_exc()
        run.correct = False
        run.errors.append("benchmark raised; see the traceback above")
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        run.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(work))

    for msg in run.errors:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    if result is None:
        return 1
    timed_ops = [r for r in run.ops_log if r["timed"]]
    failed = sum(1 for r in timed_ops if not r["ok"])
    print(f"error_rate {failed / max(len(timed_ops), 1):.6f} ratio ({failed} of {len(timed_ops)} timed ops)")
    names = per_layer_metrics() if run.trace else END_TO_END
    metrics = {n: {"value": result[n], "unit": u} for n, u in names}
    for n, m in metrics.items():
        print(f"{n} {m['value']:.6g} {m['unit']}")
    if not run.trace:
        for n, u in UNBOUNDED:
            print(f"{n} {result[n]:.6g} {u} (unbounded)")
    print(json.dumps({
        "correct": run.correct,
        "attempted": len(timed_ops),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if run.correct else 1


def trace_layers(run, wl, timed_ops, round_s) -> dict[str, float]:
    """Per-layer values of a traced run; layers a workload does not
    exercise read 0."""
    if hasattr(wl, "trace_finish"):
        wl.trace_finish(run)
    out = {n: run.layer_value(n) for n, _ in per_layer_metrics()}
    for kind in SQL_KINDS:
        out[f"engine.sql_s.{kind}"] = median([r["s"] for r in timed_ops if r["kind"] == kind])
    out["lakehouse.read_range_s"] = median([r["s"] for r in timed_ops if r["kind"] == "read_range"])
    out["rest_catalog.resolve_s"] = median([r["s"] for r in timed_ops if r["kind"] == "resolve"])
    out["trace.round_s"] = round_s
    out.update(SparkRest(run.spark).exec_per_op(len(timed_ops)))
    return out


if __name__ == "__main__":
    sys.exit(main())
