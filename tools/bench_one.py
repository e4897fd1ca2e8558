#!/usr/bin/env python
"""Time individual queries exactly the way bench.py does (noop sink,
clearCache per pass, ExecClock executor-time deltas) without running
the whole headline set — the guide-§1 isolation tool for optimization
A/B runs. Usage:

    python tools/bench_one.py <name> [<name> ...] [--passes N]

Prints per-query wall/exec per pass, each pass's Janino compile count
and the floor. A pass after the first that compiles anything built a
class again: the session's generated-class cache lost it, or the plan
inlines a literal that changed between passes.
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from bench import SF_DIR, ExecClock, bench_layout  # noqa: E402
from dbx_workspace_and_emr_iceberg_spark.registry import all_queries  # noqa: E402
from dbx_workspace_and_emr_iceberg_spark.session import get_spark  # noqa: E402


def _passes(value: str) -> int:
    try:
        n = int(value)
    except ValueError:
        n = 0
    if n < 1:
        sys.exit(f"--passes needs a positive integer, got {value!r}")
    return n


def parse_args(argv: list[str]) -> tuple[list[str], int]:
    """(query names, passes) from ``argv``: both ``--passes=N`` and
    ``--passes N`` are accepted, a missing or non-positive value exits
    with a one-line message, and any other ``--flag`` is ignored."""
    args: list[str] = []
    passes = 3
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--passes":
            if i + 1 >= len(argv):
                sys.exit("--passes needs a value (N or --passes=N)")
            passes = _passes(argv[i + 1])
            i += 1
        elif a.startswith("--passes="):
            passes = _passes(a.split("=", 1)[1])
        elif not a.startswith("--"):
            args.append(a)
        i += 1
    return args, passes


def main() -> None:
    # parsed before Spark starts, so a bad flag costs no session
    args, passes = parse_args(sys.argv[1:])
    run_dir = bench_layout(SF_DIR)
    spark = get_spark(
        app_name="spark-graft-bench-one",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.sql.files.openCostInBytes": str(128 * 1024 * 1024),
        },
    )
    queries = all_queries()
    # warmup (codegen/classloading) on the smallest fixture
    queries["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()
    clock = ExecClock(spark)
    clock.delta_s()
    compile_count = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount
    )
    for name in args:
        walls, execs, compiles = [], [], []
        for _ in range(passes):
            spark.catalog.clearCache()
            clock.delta_s()
            c0 = compile_count()
            t0 = time.perf_counter()
            queries[name].fn(spark, run_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            walls.append(round(time.perf_counter() - t0, 3))
            compiles.append(compile_count() - c0)
            execs.append(clock.delta_s())
        print(
            f"{name}: walls={walls} execs={execs} compiles={compiles} "
            f"floor={min(walls)} exec_at_floor={execs[walls.index(min(walls))]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
