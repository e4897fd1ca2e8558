"""Commit cost against table size: what a one-file append writes, and
how long it and a pruned-files plan take, at N live files.

    python tools/commit_curve.py [--sizes 1000,10000,100000] [--appends 3]

For each N the table holds one real parquet file with TPC-H lineitem's
16 columns plus the key ``k`` (17 columns) and N-1 synthetic entries
that carry a stats entry of the same 17-column shape, each over its own
``k`` range. Only the real file exists on disk; planning never opens the
others. The snapshot is first written in the legacy form (stats inline
in ``vN.json``) and then compacted by ``rewrite_manifests`` into the
layout the checkout commits. Then ``--appends`` one-file appends run as
metadata-only ``_commit`` calls; each data file is written beforehand,
outside the timing. Reported per N (medians over the appends):

* ``commit_ms``: the ``_commit`` call;
* ``commit_bytes``: the bytes it wrote, i.e. the new ``vN.json`` plus
  any new stats manifest;
* ``stats_bytes``: the new stats manifests' share of ``commit_bytes``;
* ``pruned_files_ms``: ``pruned_files("k", lo, hi)`` on the new head,
  best of three; ``planned`` is the number of files it kept.

The script measures the checkout it sits in, so copying it into another
checkout measures that one. Every table lives in a temporary directory
that is removed afterwards. The Python process's peak memory grows with
N: about 1 GB resident at N = 100k.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: rows in the one real data file, and the ``k`` span each file covers
ROWS = 1000


def _lineitem(lo: int):
    """A 17-column lineitem-shaped pyarrow table whose ``k`` runs over
    ``[lo, lo + ROWS)``."""
    import datetime

    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(lo)
    n = ROWS
    day = datetime.date(1995, 1, 1)

    def dates(off):
        return pa.array(
            [day + datetime.timedelta(days=int(d)) for d in off], pa.date32()
        )

    ship = rng.integers(0, 2000, n)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, 10**6, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 10**5, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 10**4, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(float),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": dates(ship),
            "l_commitdate": dates(ship + rng.integers(-30, 30, n)),
            "l_receiptdate": dates(ship + rng.integers(1, 31, n)),
            "l_shipinstruct": np.array(
                ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
            )[rng.integers(0, 4, n)],
            "l_shipmode": np.array(["AIR", "MAIL", "RAIL", "SHIP", "TRUCK"])[
                rng.integers(0, 5, n)
            ],
            "l_comment": np.array(
                [f"carefully final deposits {i % 97}" for i in range(n)]
            ),
            "k": pa.array(np.arange(lo, lo + n), pa.int64()),
        }
    )


def _frame(spark, work: str, lo: int):
    import pyarrow.parquet as pq

    path = os.path.join(work, f"src-{lo}.parquet")
    pq.write_table(_lineitem(lo), path)
    return spark.read.parquet(path).coalesce(1)


def _metadata(root: str) -> dict[str, int]:
    """Size of every snapshot and stats manifest under ``root``, by path."""
    out = {}
    for sub in ("_snapshots", "_stats"):
        d = os.path.join(root, sub)
        for n in os.listdir(d) if os.path.isdir(d) else ():
            out[os.path.join(sub, n)] = os.path.getsize(os.path.join(d, n))
    return out


def measure(spark, n: int, work: str, appends: int = 3) -> dict:
    """One point of the curve: an ``n``-file table under ``work``."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
        manifest_path,
    )

    t = LakehouseTable(spark, work, f"curve_{n}")
    t.create(_frame(spark, work, 0))
    m = t._read_manifest(1)
    real = m["files"][0]
    entry = m["stats"][real]
    synth = os.path.join(t.data_dir, "synthetic")
    stats = {real: entry}
    for i in range(1, n):
        lo = i * ROWS
        stats[os.path.join(synth, f"part-{i:06d}.parquet")] = {
            "min": {**entry["min"], "k": lo},
            "max": {**entry["max"], "k": lo + ROWS - 1},
            "record_count": ROWS,
        }
    m.pop("manifests", None)
    m["files"] = list(stats)
    m["stats"] = stats
    with open(manifest_path(t.root, 1), "w") as f:
        json.dump(m, f)
    del m, stats
    t.rewrite_manifests()

    commit_ms, commit_bytes, stats_bytes = [], [], []
    for j in range(appends):
        new = t._write_files(_frame(spark, work, (n + j) * ROWS), [])
        parent = t.current_version()
        files = t._files() + new
        schema = t.schema_json()
        before = _metadata(t.root)
        t0 = time.perf_counter()
        t._commit({"files": files, "schema": schema, "op": "append"}, parent)
        commit_ms.append((time.perf_counter() - t0) * 1000)
        written = {p: b for p, b in _metadata(t.root).items() if p not in before}
        commit_bytes.append(sum(written.values()))
        stats_bytes.append(
            sum(b for p, b in written.items() if p.startswith("_stats"))
        )
    lo = (n // 2) * ROWS
    plan_ms = []
    for _ in range(3):
        t0 = time.perf_counter()
        planned = t.pruned_files("k", lo, lo + 10)
        plan_ms.append((time.perf_counter() - t0) * 1000)
    return {
        "files": n,
        "commit_ms": round(statistics.median(commit_ms), 1),
        "commit_bytes": int(statistics.median(commit_bytes)),
        "stats_bytes": int(statistics.median(stats_bytes)),
        "pruned_files_ms": round(min(plan_ms), 1),
        "planned": len(planned),
    }


def curve(spark, sizes, appends: int = 3, work: str | None = None) -> list[dict]:
    own = work is None
    work = work or tempfile.mkdtemp(prefix="commit_curve_")
    try:
        return [measure(spark, n, work, appends) for n in sizes]
    finally:
        if own:
            shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sizes", default="1000,10000,100000")
    ap.add_argument("--appends", type=int, default=3)
    args = ap.parse_args(argv)
    sizes = [int(s) for s in args.sizes.split(",")]
    if not sizes or min(sizes) < 1 or args.appends < 1:
        ap.error("--sizes needs positive integers and --appends at least 1")

    from dbx_workspace_and_emr_iceberg_spark.session import get_spark

    spark = get_spark(app_name="commit-curve", cpus=2)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        rows = curve(spark, sizes, args.appends)
    finally:
        spark.stop()
    print(
        f"{'files':>8} {'commit_ms':>10} {'commit_bytes':>13} "
        f"{'stats_bytes':>12} {'pruned_files_ms':>16} {'planned':>8}"
    )
    for r in rows:
        print(
            f"{r['files']:>8} {r['commit_ms']:>10.1f} {r['commit_bytes']:>13} "
            f"{r['stats_bytes']:>12} {r['pruned_files_ms']:>16.1f} {r['planned']:>8}"
        )
    print(json.dumps(rows))
    return 0


if __name__ == "__main__":
    sys.exit(main())
