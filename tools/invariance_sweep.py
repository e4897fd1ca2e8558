"""One-command invariance sweep (VERDICT r14 #3; thirteen axes since r16).

r14 ran the first six axes by hand and they found ten real bugs the
sf0.01 gate had passed for 13 rounds (half-cent rounding ties at 10x
scale, a stream source that read ZERO rows from directory-shaped
tables, file-count pruning contracts that were layout noise, six
host-TZ dependencies).  r15 mechanized them and added six
execution-engine axes (codegen off / tiny Arrow batches / shattered
input splits / run-twice determinism / no auto-broadcast /
non-vectorized parquet).  Usage:

    python tools/invariance_sweep.py              # all axes, serial
    python tools/invariance_sweep.py tz aqe_off   # a subset
    python tools/invariance_sweep.py --jobs=4     # 4 axes at a time
                                                  # (~59 min -> ~31)

Axes (each a FULL driver_sim run in a fresh subprocess):

  scale       SF=/root/testdata/sf0.1                      (~25 min)
  shuf        shuffled row order at sf0.01 (make_layout_fixtures.py)
  multi       shuffled + <=4-file DIRECTORY tables at sf0.01
  partitions  SIM_MASTER=local[4] SIM_SHUFFLE_PARTITIONS=3 at sf0.001
  aqe_off     SIM_AQE=false at sf0.001
  tz          TZ=America/New_York at sf0.001
  codegen_off SIM_CODEGEN=false at sf0.001        (r15)
  arrow_batch SIM_ARROW_BATCH=7 at sf0.001        (r15)
  splits      SIM_MAX_PARTITION_BYTES=64k at sf0.01 (r15)
  rerun       SIM_TWICE=1 at sf0.001 — build+collect each query twice,
              identical value hashes (within-session determinism) (r15)
  no_broadcast SIM_BROADCAST=-1 at sf0.001 — un-hinted joins all run
              shuffle-side; join-strategy invariance (r15)
  vectorized_off SIM_VECTORIZED=false at sf0.001 — row-based parquet
              decode must agree with the vectorized reader (r15)
  ansi_off    SIM_ANSI=false at sf0.001 — legacy arithmetic/cast
              semantics must not change any answer (r16)

Per-axis PASS requires ALL of:
  * driver_sim exit code 0,
  * zero MISMATCH lines,
  * MATCH count == registered oracled-query count, and
  * rows-only count == registered rows-only count.

The count checks are the point (VERDICT r14 #3): a sim that ABORTS
mid-sweep on an in-query assert leaves every later query UNSWEPT, and
"RESULT: ALL MATCH" over a prefix looks identical to a full pass in the
tail of a log — only comparing the per-query line count against the
registry catches it.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SIM = os.path.join(REPO, "tools", "driver_sim.py")
LAYOUT_ROOT = "/tmp/sf_layout"

#: axis -> (SF dir, extra env) — single source of truth for the program
AXES: dict[str, tuple[str, dict[str, str]]] = {
    "scale": ("/root/testdata/sf0.1", {}),
    "shuf": (f"{LAYOUT_ROOT}/shuf", {}),
    "multi": (f"{LAYOUT_ROOT}/multi", {}),
    "partitions": (
        "/root/testdata/sf0.001",
        {"SIM_MASTER": "local[4]", "SIM_SHUFFLE_PARTITIONS": "3"},
    ),
    "aqe_off": ("/root/testdata/sf0.001", {"SIM_AQE": "false"}),
    "tz": ("/root/testdata/sf0.001", {"TZ": "America/New_York"}),
    # r15 additions — execution-engine axes the config sweep missed:
    # interpreted (non-codegen) expression evaluation must agree with
    # whole-stage-codegen output ...
    "codegen_off": ("/root/testdata/sf0.001", {"SIM_CODEGEN": "false"}),
    # ... every pandas-UDF / mapInPandas body must be Arrow-batch-size
    # invariant (batch 7 forces thousands of partial batches; an
    # accidental batch==partition or batch==group aggregate diverges) ...
    "arrow_batch": ("/root/testdata/sf0.001", {"SIM_ARROW_BATCH": "7"}),
    # ... and every scan-adjacent computation must be input-SPLIT
    # invariant: 64 KiB maxPartitionBytes + zero open cost shatters the
    # sf0.01 single-file tables into many splits plus empty tail
    # partitions (parquet can only split at row-group boundaries, so the
    # extras arrive EMPTY — the shape mapInPandas sees at 100 TB when a
    # filter empties a task)
    "splits": (
        "/root/testdata/sf0.01",
        {"SIM_MAX_PARTITION_BYTES": "65536", "SIM_OPEN_COST": "0"},
    ),
    # ... and every query must be within-session DETERMINISTIC: build +
    # collect twice, identical value hashes (the oracle compare only
    # samples one run of a nondeterministic query)
    "rerun": ("/root/testdata/sf0.001", {"SIM_TWICE": "1"}),
    # join-STRATEGY invariance: -1 disables auto-broadcast, so every
    # un-hinted join runs shuffle-side (at 100 TB the planner's size
    # estimates flip strategies constantly; results must not care).
    # Explicit F.broadcast() hints are honored regardless, so the
    # in-query broadcast-plan asserts (x49/x24/j16) stay valid.
    "no_broadcast": ("/root/testdata/sf0.001", {"SIM_BROADCAST": "-1"}),
    # parquet DECODER invariance: the row-based reader must produce the
    # same values as the vectorized one (decimal/timestamp decode is a
    # recurring upstream divergence class)
    "vectorized_off": ("/root/testdata/sf0.001", {"SIM_VECTORIZED": "false"}),
    # engine-MODE invariance (r16, VERDICT r15 #6): the whole suite was
    # built ANSI-on (Spark 4 default); answers must be identical with
    # legacy arithmetic/cast semantics, or a query is leaning on an
    # error-vs-null edge the user's cluster may not share
    "ansi_off": ("/root/testdata/sf0.001", {"SIM_ANSI": "false"}),
    # physical-LAYOUT invariance at the bench's exact layout (r18,
    # VERDICT-r17 #7): the order-preserving 16-slice multi-file layout
    # bench.py materializes — split-boundary sensitivity (row-group
    # alignment, per-file name mapping) is swept by the harness, not
    # only by s2f/m6b's targeted tests.  The dir is resolved in main()
    # by CALLING bench.bench_layout on sf0.01, so the axis sweeps the
    # same code path AND layout the bench measures; the placeholder
    # below is never passed to a child (main() raises if unresolved).
    "multifile16": ("/tmp/spark_graft_bench16/UNRESOLVED", {}),
}

_LINE = re.compile(r"^  (\S+): (rows-only,|spark=\d+ duck=\d+ hash (MATCH|MISMATCH))")


def parse_sim_log(lines) -> tuple[int, int, int]:
    """(match, mismatch, rows_only) from driver_sim output lines — the
    pure half of the per-axis check, unit-tested so a sim output-format
    drift fails a test instead of silently zeroing every count (a
    zeroed count would FAIL the axis loudly, but a regex that matches
    the wrong thing could PASS it)."""
    match = mismatch = rows_only = 0
    for line in lines:
        m = _LINE.match(line)
        if not m:
            continue
        if m.group(2).startswith("rows-only"):
            rows_only += 1
        elif m.group(3) == "MATCH":
            match += 1
        else:
            mismatch += 1
    return match, mismatch, rows_only


def registry_counts() -> tuple[int, int]:
    """(oracled, rows_only) straight from the live registry — the
    denominator every axis's per-query line count must hit."""
    from dbx_workspace_and_emr_iceberg_spark import registry

    qs = registry.all_queries()
    # a quarantined queries module would shrink the denominator HERE
    # and drop the same queries in every child sim — all axes would
    # "PASS" with that module unswept, the exact failure mode the
    # count check exists to catch (review-pass r15).  Explicit raise,
    # not a bare assert: `python -O` strips asserts (review-pass r16).
    if registry._BROKEN_MODULES:
        raise SystemExit(
            f"quarantined queries modules: {registry._BROKEN_MODULES}"
        )
    oracled = sum(1 for q in qs.values() if q.oracle is not None)
    return oracled, len(qs) - oracled


def child_env(name: str, base: dict | None = None) -> dict:
    """The exact environment an axis's child sim runs under — pure so
    tests can pin it.  Pins the child to the BASELINE config before
    applying the axis's own knobs (review-pass r16): inheriting the
    caller's environment verbatim let a leftover exported SIM_*/SF/TZ
    from a manual debug session silently shift EVERY axis's baseline —
    the sweep could pass 13/13 without ever executing the default
    configuration."""
    sf, extra = AXES[name]
    env = {
        k: v
        for k, v in (base if base is not None else os.environ).items()
        if not k.startswith("SIM_") and k not in ("SF", "TZ")
    }
    env.update(SF=sf, **extra)
    return env


def run_axis(name: str, log_dir: str) -> dict:
    env = child_env(name)
    log = os.path.join(log_dir, f"{name}.log")
    t0 = time.time()
    with open(log, "w") as fh:
        rc = subprocess.run(
            [sys.executable, SIM], env=env, stdout=fh, stderr=subprocess.STDOUT
        ).returncode
    with open(log) as fh:
        match, mismatch, rows_only = parse_sim_log(fh)
    return {
        "axis": name,
        "rc": rc,
        "match": match,
        "mismatch": mismatch,
        "rows_only": rows_only,
        "secs": round(time.time() - t0, 1),
        "log": log,
    }


def parse_args(argv: list[str]) -> tuple[list[str], int]:
    """(axis names, jobs) from argv — unit-tested separately from the
    subprocess machinery.  Raises SystemExit (not bare assert, which
    `python -O` strips) with a usage message on bad input."""
    jobs, names = 1, []
    for a in argv:
        if a.startswith("--jobs="):
            try:
                jobs = int(a.split("=", 1)[1])
            except ValueError:
                raise SystemExit(f"--jobs takes an integer >= 1, got {a!r}")
            if jobs < 1:
                raise SystemExit(f"--jobs takes an integer >= 1, got {jobs}")
        else:
            names.append(a)
    names = names or list(AXES)
    unknown = [n for n in names if n not in AXES]
    if unknown:
        raise SystemExit(f"unknown axes {unknown}; valid: {list(AXES)}")
    return names, jobs


def main(argv: list[str]) -> int:
    names, jobs = parse_args(argv)
    log_dir = os.environ.get("SWEEP_LOG_DIR", "/tmp/invariance_sweep")
    os.makedirs(log_dir, exist_ok=True)

    if "multifile16" in names:
        # resolve through the bench's own materializer — single source
        # of truth for the layout the floors are measured on
        from bench import bench_layout

        src = AXES["splits"][0]  # the single-file sf0.01 fixtures
        d = bench_layout(src)
        if d == src:
            # bench_layout degrades to the source on failure (right for
            # the bench, wrong here: the axis would silently sweep the
            # single-file layout and vacuously pass)
            raise SystemExit(
                "multifile16: bench_layout fell back to the single-file"
                " source — fix the materializer before sweeping"
            )
        AXES["multifile16"] = (d, AXES["multifile16"][1])
        print("multifile16 layout:", d)

    if {"shuf", "multi"} & set(names):
        print("regenerating layout fixtures (sf0.01 ->", LAYOUT_ROOT, ")")
        subprocess.run(
            [
                sys.executable,
                os.path.join(REPO, "tools", "make_layout_fixtures.py"),
                "/root/testdata/sf0.01",
                LAYOUT_ROOT,
            ],
            check=True,
        )

    want_oracled, want_rows_only = registry_counts()
    print(
        f"registry: {want_oracled} oracled + {want_rows_only} rows-only "
        f"= {want_oracled + want_rows_only} queries; axes: {names}"
    )
    def finish(r: dict) -> bool:
        r["pass"] = (
            r["rc"] == 0
            and r["mismatch"] == 0
            and r["match"] == want_oracled
            and r["rows_only"] == want_rows_only
        )
        print(
            f"  {r['axis']:<14} {'PASS' if r['pass'] else 'FAIL'}  "
            f"match={r['match']}/{want_oracled} mismatch={r['mismatch']} "
            f"rows_only={r['rows_only']}/{want_rows_only} rc={r['rc']} "
            f"[{r['secs']}s  {r['log']}]",
            flush=True,
        )
        return r["pass"]

    ok = True
    if jobs == 1:
        for name in names:
            ok &= finish(run_axis(name, log_dir))
    else:
        # each axis is its own subprocess (own JVM) — threads here only
        # wait on them; results print in COMPLETION order. Per-axis wall
        # times inflate under co-scheduling: compare timings only
        # against serial runs. Submit the known-slow axes FIRST (scale
        # ~2x, rerun ~1.6x the rest): in dict order they land in the
        # second scheduling wave and the makespan becomes wave1 + scale
        # instead of everything packing around the long poles.
        from concurrent.futures import ThreadPoolExecutor, as_completed

        slow_first = sorted(names, key=lambda n: n not in ("scale", "rerun"))
        with ThreadPoolExecutor(max_workers=jobs) as ex:
            futs = [ex.submit(run_axis, n, log_dir) for n in slow_first]
            for f in as_completed(futs):
                ok &= finish(f.result())
    print("SWEEP:", "ALL AXES PASS" if ok else "FAILURES — see logs")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
