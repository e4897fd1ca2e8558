#!/usr/bin/env python
"""Benchmark runner (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced through the noop sink (full computation, no driver
collect, no disk write) — the honest measure of plan cost.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dbx_workspace_and_emr_iceberg_spark.registry import all_queries
from dbx_workspace_and_emr_iceberg_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def bench_layout(sf_dir: str) -> str:
    """Multi-file copy of the fixture dir for benchmarking: the fixtures
    are ONE parquet file per table, so every scan-rooted stage
    would inherit 1-2 tasks and the floors would measure a fixture
    artifact instead of the operators. A real 100 TB table arrives as
    thousands of splits; 16 order-preserving slices per table restore
    that shape at fixture scale with NO extra shuffle in any plan.

    Materialized once per source fingerprint under /tmp and reused
    (pure pyarrow — runs before the SparkSession exists). Degrades to
    the source dir on any failure: the bench must never die on its own
    plumbing, and the result then records ``"layout": "single"``.
    """
    try:
        import hashlib
        import shutil
        import tempfile

        import pyarrow.parquet as pq

        from dbx_workspace_and_emr_iceberg_spark.tables import TABLES

        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
        from make_layout_fixtures import write_sliced

        # fingerprint on ns-mtime + size + parquet row count: whole-second
        # mtime + size would let a fixture regenerated within one second
        # (same row count and width) alias to the stale cached layout
        stats = []
        for t in sorted(TABLES):
            f = os.path.join(sf_dir, f"{t}.parquet")
            st = os.stat(f)
            nrows = pq.ParquetFile(f).metadata.num_rows
            stats.append(f"{t}:{st.st_size}:{st.st_mtime_ns}:{nrows}")
        fp = hashlib.md5(
            ("|".join([sf_dir] + stats) + "|k16v2").encode()
        ).hexdigest()[:12]
        parent = "/tmp/spark_graft_bench16"
        dst = f"{parent}/{os.path.basename(sf_dir.rstrip('/'))}-{fp}"
        marker = os.path.join(dst, "_COMPLETE")
        if os.path.exists(marker):
            return dst
        # build in a PRIVATE mkdtemp and write the marker BEFORE the
        # rename: a shared build dir would let two racing processes
        # interleave into a _COMPLETE-marked dir missing tables
        os.makedirs(parent, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f"{fp}.", dir=parent)
        for t in TABLES:
            tbl = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
            # tiny dims stay few-file; row order PRESERVED (this is the
            # bench fixture, not the shuffle-invariance sweep)
            k = min(16, max(1, len(tbl) // 200))
            write_sliced(tbl, os.path.join(tmp, f"{t}.parquet"), k)
        with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
            f.write(fp)
        try:
            os.replace(tmp, dst)  # atomic publish of a COMPLETE build
        except OSError:
            # a racer published first; theirs carries a marker written
            # before ITS rename, so it is complete — use it
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(marker):
                raise
        return dst
    except Exception as e:  # pragma: no cover - defensive
        print(f"bench_layout: falling back to {sf_dir}: {e}", file=sys.stderr)
        return sf_dir


#: Headline set: one representative per operator family, weighted toward
#: the plans that dominate real workloads (scan-agg, star join, window,
#: distinct, as-of, dedup, similarity, text). "value"/"queries" sum this
#: set only, so it stays fixed; heavy new plans report under ADDITIONS.
HEADLINE = [
    "q1_pricing_summary",
    "j9_star_multiway",
    "j5_broadcast",
    "j6_sortmerge",
    "j8_asof",
    "j8c_asof_bucketed",
    "j7b_range_binned",
    "a4_distinct_aggs",
    "a7_rollup",
    "w3_frames",
    "w4_topn_per_group",
    "u1b_union_distinct",
    "x1_exact_dedup",
    "x2_minhash_lsh",
    "x3_topk_cosine",
    "x3g_topk_vectorized_bench",
    "x4b_quality_scores",
    "x4d_fingerprint",
    "x8_sessionization",
    "x9_doc_chunking",
    "x10_int8_quantization",
    # runtime filter, Python data source, interval frame, bitmap
    # distinct, URL parsing, bigram LM
    "j13_bloom_runtime_filter",
    "s13_python_datasource",
    "w6_interval_range_frame",
    "a10_bitmap_distinct",
    "x21_url_parsing",
    "x22_bigram_lm",
    # distributed prefix sum, one-pass profiler (single aggregate),
    # paragraph dedup (digest window + reassembly), JL projection
    # (mapInPandas matmul throughput)
    "x23_vocab_growth",
    "x25_table_profile",
    "x27_paragraph_dedup",
    "x29_random_projection",
    # stride-1 k-gram span dedup: the corpus-linear explode + digest
    # aggregate + island-merge window
    "x34_dup_span_detect",
    # DS-suite representative: per-basket self-join pair explosion +
    # pair aggregate + deterministic top-k cut
    "qd6_basket_pairs",
    # iterative algorithm: 8 Pregel-style power iterations (join +
    # groupBy per round) over the host link graph
    "x35_host_pagerank",
    # DSIR importance scoring (token explode + broadcast bucket-score
    # join + TakeOrdered), CCNet perplexity terciles (bigram LM +
    # chunked percent_rank), the ordered funnel (chained per-user MINs)
    "x38_dsir_importance",
    "x43_perplexity_buckets",
    "qd9_funnel_analysis",
    # iterative merge-induction shape: N chained (pair explode ->
    # argmax broadcast -> map-side replace) rounds with per-round
    # state cache — distinct from x35's join+groupBy iteration
    "x46_bpe_merges",
    # line-rule filtering + reassembly (x44), the posting-list build
    # (x45), the count-min sketch + broadcast probe (x47), the drift
    # report's double corpus scan (x48), RFM's triple chunked
    # percent_rank (qd10), last-touch attribution's as-of-style window
    # (qd11) and the streaming history-dedup batch twin (t18)
    "x44_line_filtering",
    "x45_inverted_index",
    "x47_countmin_heavy_hitters",
    "x48_corpus_drift",
    "qd10_rfm_segmentation",
    "qd11_lasttouch_attribution",
    "t18_stream_dedup_history",
    # the banded-LSH candidate join (x2b), the bloom build+probe (x24),
    # the broadcast integer-dot contamination scan (x49) and the
    # chunked-rank quantile gate (x15)
    "x2b_ngram_jaccard",
    "x24_bloom_contamination",
    "x49_semantic_contamination",
    "x15_quality_quantile_gate",
]

#: Second reported section: heavy plans tracked run over run under
#: "additions_*" without changing the HEADLINE set "value"/"queries" sum.
ADDITIONS = [
    # global-order packing (chunked distributed prefix sum)
    "x50_sequence_packing",
    # cluster-balanced diversity sampling (k-means CTE + md5)
    "x51_cluster_balanced_sample",
    # packing stage on the chunked prefix-sum machinery
    "x31_curation_pipeline_v2",
]

#: How many of this run's heaviest headline entries (by worst of the
#: two shared passes) "heavy_tail" reports.
HEAVY_TAIL_TOP_N = 5


def heavy_tail_names(worst: dict[str, float]) -> list[str]:
    """The heavy-tail report's names: the top-N by per-query time,
    heaviest first. The caller feeds the per-query WORST of the two
    shared passes, so an outlier in either pass is selected; both
    passes have completed by then, so the worst-of-both is free. Pure
    function of the timings so the unit test can pin the selection
    rule without running Spark."""
    return sorted(worst, key=worst.get, reverse=True)[:HEAVY_TAIL_TOP_N]


class ExecClock:
    """Per-query executor-run-time deltas: wall time alone cannot
    separate box noise from a plan change, and executor time is
    contention-insensitive for CPU-bound plans.

    Reads the UI REST ``/stages`` endpoint — ONE HTTP call per
    snapshot with bulk JSON parsing (the py4j alternative costs ~3
    RPCs per retained stage per snapshot, seconds by the end of a
    150-snapshot bench).  A {(stageId, attemptId): runtime} ledger
    makes the delta immune to the store's retained-stages eviction:
    evicted stages simply stop appearing, their history stays in the
    ledger.  Degrades to None (never raises) when the UI is off."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        ui = sc.uiWebUrl
        self._url = (
            f"{ui}/api/v1/applications/{sc.applicationId}/stages"
            if ui
            else None
        )
        self._seen: dict[tuple[int, int], int] = {}

    def _snapshot(self) -> list[dict]:
        with urllib.request.urlopen(self._url, timeout=10) as r:
            return json.loads(r.read().decode())

    def delta_s(self, settle_s: float = 0.5) -> float | None:
        """Executor-run-time seconds accrued since the previous call.

        Stage metrics flush asynchronously after an action returns: a
        snapshot taken immediately can miss runtime that lands moments
        later, silently draining it into the NEXT query's delta.  So
        re-poll until two consecutive reads agree on total
        executorRunTime (or the small settle budget is spent) before
        computing the delta.  Both call sites sit outside the wall-clock
        timed region, so settling never inflates a reported wall time.
        """
        if self._url is None:
            return None

        def total(ss: list[dict]) -> int:
            return sum(s.get("executorRunTime", 0) for s in ss)

        def busy(ss: list[dict]) -> bool:
            return any(s.get("status") == "ACTIVE" for s in ss)

        try:
            stages = self._snapshot()
            prev_total = total(stages)
            deadline = time.monotonic() + settle_s
            while time.monotonic() < deadline:
                time.sleep(0.05)
                nxt = self._snapshot()
                nxt_total = total(nxt)
                stages = nxt
                # two equal totals alone can both be PRE-flush reads, so
                # also require no ACTIVE stage: a lagging final stage
                # keeps us polling.  Runtime that still lands later is
                # topped up onto this query by the next drain (timed_run).
                if nxt_total == prev_total and not busy(nxt):
                    break
                prev_total = nxt_total
        except Exception:
            return None
        d = 0
        for s in stages:
            key = (s["stageId"], s["attemptId"])
            rt = s.get("executorRunTime", 0)
            prev = self._seen.get(key)
            if prev is None or rt > prev:
                d += rt - (prev or 0)
                self._seen[key] = rt
        return round(d / 1000.0, 3)


#: Full-result sidecar: the driver records only the LAST 2000 chars of
#: the printed line, so bench.py persists the complete result dict here
#: (per-query floors and exec runs included), and previous_floors()
#: reads it for the >25%-mover rule.
FULL_RESULT_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL_LAST.json"
)


def previous_floors(layout: str, sf: float | None) -> dict[str, float]:
    """Per-query floors of the previous bench run, for the >25%-mover
    re-pass rule: the sidecar's ``best_floors`` over its per-run
    ``floors`` and ``additions_floors`` (the previous run overwrote it
    only at its very end). A sidecar recorded on a different physical
    ``layout`` or at a different scale factor ``sf`` is ignored — floors
    diffed across either boundary would make every query "move" >25%;
    one without a layout field counts as single-file, one without an
    ``sf`` (or a run whose ``sf`` is unknown) has no comparable floors.
    Empty dict when no usable history exists: the bench must never fail
    on its own history."""
    try:
        with open(FULL_RESULT_PATH) as f:
            data = json.load(f)
        if data.get("layout", "single") != layout or sf is None or data.get("sf") != sf:
            return {}
        out = dict(data.get("floors") or {})
        out.update(data.get("additions_floors") or {})
        out.update(data.get("best_floors") or {})
        return {k: float(v) for k, v in out.items()}
    except Exception:
        return {}


def main() -> None:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = None
    run_dir = bench_layout(SF_DIR)
    layout_name = "single" if run_dir == SF_DIR else "multi16"
    # UI on for this session only: ExecClock reads executor time off
    # the REST stages endpoint.  openCostInBytes is raised to
    # maxPartitionBytes so Spark assigns each fixture slice its own scan
    # task instead of re-packing the 16 small files back into one
    # partition — maxSplitBytes = min(maxPartitionBytes, max(openCost,
    # bytes/core)) stays 128 MB, so no empty intra-file split tails
    # appear either.  This reproduces the task structure a real
    # multi-split table has natively.
    spark = get_spark(
        app_name="spark-graft-bench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.sql.files.openCostInBytes": str(128 * 1024 * 1024),
        },
    )
    queries = all_queries()

    # JVM/codegen warmup on the smallest fixture so per-query timings
    # measure the plan, not classloading.
    warm = queries["q1_pricing_summary"]
    warm.fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
        "overwrite"
    ).save()

    # Noise-floor calibration: one fixed reference plan (q1, already
    # warmed) timed three times back-to-back at the bench SF; the spread
    # is the same-plan-same-data variance floor of this box, and a total
    # drift within it is noise, not regression.
    calib_runs: list[float] = []
    for _ in range(3):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        warm.fn(spark, run_dir).write.format("noop").mode("overwrite").save()
        calib_runs.append(round(time.perf_counter() - t0, 3))
    noise_floor = {
        "query": "q1_pricing_summary",
        "runs": calib_runs,
        "spread_pct": round(
            100.0 * (max(calib_runs) - min(calib_runs)) / min(calib_runs), 1
        ),
    }

    exec_clock = ExecClock(spark)
    exec_clock.delta_s()  # drain warmup/calibration stages
    #: per-query wall samples and the executor time of each, aligned 1:1:
    #: the three passes first, then any mover re-runs (a wall move with
    #: flat executor time is contention; both moving is a plan change)
    walls: dict[str, list[float]] = {n: [] for n in HEADLINE + ADDITIONS}
    exec_runs: dict[str, list[float | None]] = {}

    #: the (name, run-index) whose exec sample the NEXT drain should top
    #: up: metrics that flush after the post-run settle belong to the
    #: query that did the work, or they would vanish from exec_s
    last_sample: list = [None]

    def timed_run(name: str) -> None:
        q = queries[name]
        # Cold cache per timed run: queries that .cache() internally
        # (x2) must pay their real plan cost on EVERY pass — without
        # this, pass 2 re-resolves the identical plan against the
        # pass-1 cache and reports a cache read as plan cost.
        spark.catalog.clearCache()
        leak = exec_clock.delta_s()  # stages flushed since the settle
        if leak and last_sample[0] is not None:
            ln, li = last_sample[0]
            prev = exec_runs[ln][li]
            exec_runs[ln][li] = round((prev or 0.0) + leak, 3)
        t0 = time.perf_counter()
        q.fn(spark, run_dir).write.format("noop").mode("overwrite").save()
        walls[name].append(round(time.perf_counter() - t0, 3))
        exec_runs.setdefault(name, []).append(exec_clock.delta_s())
        last_sample[0] = (name, len(exec_runs[name]) - 1)

    # THREE passes, all reported: one sample per query cannot separate
    # a 40% delta from box noise.  Pass 1 pays codegen compilation and
    # external CPU contention; passes 2-3 are stable plan-cost samples.
    # "value"/"queries" are the min of the FIRST TWO passes; "floors"
    # (min of every run) is the number to diff between runs.
    for _pass in range(3):
        for name in walls:
            timed_run(name)

    # Adaptive re-pass: any query whose 3-pass floor moved >25% vs the
    # previous run's floor gets TWO extra runs, so a mover is judged
    # from 5 samples instead of 3.  Extra runs fold into the floors.
    prev_floors = previous_floors(layout_name, sf_num)
    movers = sorted(
        n
        for n, w in walls.items()
        if prev_floors.get(n, 0) > 0
        and abs(min(w) - prev_floors[n]) / prev_floors[n] > 0.25
    )
    for _ in range(2):
        for name in movers:
            timed_run(name)

    def per_pass(names: list[str]) -> list[dict[str, float]]:
        return [{n: walls[n][i] for n in names} for i in range(3)]

    passes, add_passes = per_pass(HEADLINE), per_pass(ADDITIONS)
    extra_passes = {n: walls[n][3:] for n in movers}
    # "queries"/"value": min of the FIRST TWO passes
    timings = {n: min(walls[n][:2]) for n in HEADLINE}
    add_timings = {n: min(walls[n][:2]) for n in ADDITIONS}
    # per-query best of all runs: diff FLOORS between runs, and treat
    # any floor delta under noise_floor.spread_pct as box noise
    floors = {n: min(walls[n]) for n in HEADLINE}
    add_floors = {n: min(walls[n]) for n in ADDITIONS}
    # executor time at each query's floor sample (its min-wall run)
    exec_s = {}
    # summed from the unrounded values: adding 2dp-rounded entries
    # would accumulate one rounding error per query
    exec_total = 0.0
    for n, w in walls.items():
        runs = exec_runs.get(n, [])
        i = w.index(min(w))
        v = runs[i] if i < len(runs) else None
        exec_total += v or 0.0
        # 2dp: the dict must fit the driver's 2000-char tail window
        # together with floor_total/noise_floor
        exec_s[n] = None if v is None else round(v, 2)

    # Heavy-tail spreads: the per-query noise floor of this run's
    # heaviest plans (by the WORST of the two shared passes, so an
    # outlier in either pass is reported), from the three passes.
    heavy_tail: dict[str, dict] = {}
    worst = {n: max(walls[n][:2]) for n in HEADLINE}
    for name in heavy_tail_names(worst):
        runs = walls[name][:3]
        heavy_tail[name] = {
            "runs": runs,
            "min": min(runs),
            "spread_pct": round(
                100.0 * (max(runs) - min(runs)) / min(runs), 1
            ),
        }

    # best_floors: the running min per layout, so a mover is judged
    # against the best floor ever observed on this layout, not one noisy
    # run.  Noise gate: a run whose q1 calibration spread is >=50% is not
    # floor evidence — its samples stay out of the running min, except
    # to seed queries with no prior floor at all.
    gate_accept = noise_floor["spread_pct"] < 50.0
    best_floors = {}
    seeded = []
    for n, f in {**floors, **add_floors}.items():
        if n in prev_floors:
            best_floors[n] = round(min(prev_floors[n], f), 3) if gate_accept else prev_floors[n]
        else:
            best_floors[n] = f
            if not gate_accept:
                seeded.append(n)
    floor_gate = {
        "spread_pct": noise_floor["spread_pct"],
        "accepted": gate_accept,
        # queries whose best floor this run seeded despite the gate
        # (no prior same-layout floor existed)
        "seeded_under_noise": seeded,
    }

    total = round(sum(timings.values()), 3)
    # KEY ORDER IS LOAD-BEARING: the driver records only the LAST 2000
    # chars of this line, so the END of the line carries the summary
    # and the bulky per-run traces sit at the front.  The window holds
    # ~1770 chars of payload, so the precedence is explicit: per-query
    # exec_s + floor_gate + floor_total/exec_total_s + noise_floor win
    # the tail — exec_s is the contention-immune adjudication number —
    # and per-query floors/best_floors live in the BENCH_FULL_LAST.json
    # sidecar (and in the full line when it is parsed unchopped).
    # Headroom: the exec_s-to-end section measured ~1690 chars at 53
    # queries; ~11 more benched queries would overflow — rebalance then.
    result = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "passes": passes,
        "pass_totals": [round(sum(p.values()), 3) for p in passes],
        "cold_total": round(sum(passes[0].values()), 3),
        # heavy plans tracked beside, not inside, the headline set
        "additions_queries": add_timings,
        "additions_total": round(sum(add_timings.values()), 3),
        "additions_passes": add_passes,
        # per-query executor-time trace: wall moved but exec flat ->
        # contention; both moved -> plan change.  The floor-sample
        # exec_s dict sits in the TAIL section below.
        "exec_runs": exec_runs,
        # per-query noise floors for this run's heaviest plans: 3
        # same-session runs each
        "heavy_tail": heavy_tail,
        "additions_floors": add_floors,
        # per-query best-of-all-runs: diff these, not single samples,
        # and read deltas against noise_floor.spread_pct
        "floors": floors,
        # >25% floor movers vs the previous run's floors, each re-run
        # twice more (5 samples total)
        "movers_gt_25pct": movers,
        "extra_passes": extra_passes,
        # running min per layout: the best known number, always <= this
        # run's floors; the mover rule baselines against it
        "best_floors": best_floors,
        # whether this run's samples were clean enough (q1 spread <50%)
        # to fold into best_floors
        "floor_gate": floor_gate,
        # per-query executor time at each query's floor sample, inside
        # the tail window: it is the contention-immune adjudication
        # number and must survive truncation (2dp keeps it under the cap)
        "exec_s": exec_s,
        "floor_total": round(sum(floors.values()), 3),
        "exec_total_s": round(exec_total, 3),
        # floor samples that lost their executor clock (REST failure
        # during that run): dropping them silently would make a flaky
        # UI endpoint read as a plan improvement
        "exec_missing": sum(1 for v in exec_s.values() if v is None),
        "noise_floor": noise_floor,
        # the physical layout the floors were measured on: floors are
        # comparable only within one layout
        "layout": layout_name,
        "sf": sf_num,
    }
    try:
        with open(FULL_RESULT_PATH, "w") as f:
            json.dump(result, f)
    except Exception:
        pass  # the printed line is the contract; the sidecar is best-effort
    print(json.dumps(result))


if __name__ == "__main__":
    main()
