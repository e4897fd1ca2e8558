"""Plan-shape regression tests (SURVEY.md §4, BASELINE 100 TB mandate).

These don't check answers — test_oracle does — they check that the
physical plans keep the shapes that scale: filters and column pruning
reach the Parquet scan, dim joins broadcast instead of shuffling the
fact table, pure-relational queries never cross into Python, and
rank-filter top-N pushes the group limit below the shuffle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbx_workspace_and_emr_iceberg_spark.plans import explain as X
from dbx_workspace_and_emr_iceberg_spark.queries.joins import j5_broadcast, j9_star_multiway
from dbx_workspace_and_emr_iceberg_spark.queries.pricing import q1_pricing_summary
from dbx_workspace_and_emr_iceberg_spark.queries.windows import w4_topn_per_group
from dbx_workspace_and_emr_iceberg_spark.tables import load_table

from tests.conftest import SF_DIR


def test_q1_filter_pushdown_and_pruning(spark):
    df = q1_pricing_summary(spark, SF_DIR)
    pushed = X.pushed_filters(df)
    assert "l_shipdate" in pushed, f"shipdate filter not pushed: {pushed!r}"
    cols = X.read_schema_columns(df)
    assert "l_comment" not in cols and "l_orderkey" not in cols, (
        f"scan reads unprojected columns: {cols}"
    )
    assert set(cols) <= {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }, f"column pruning failed: {cols}"
    assert X.python_eval_count(df) == 0, "relational plan crossed into Python"


def test_q1_single_shuffle(spark):
    df = q1_pricing_summary(spark, SF_DIR)
    # one exchange for the groupBy, one for the final orderBy — nothing else
    assert X.shuffle_count(df) <= 2, X.simple_plan(df)
    assert X.codegen_stage_count(df) >= 1


def test_j5_dim_join_broadcasts(spark):
    df = j5_broadcast(spark, SF_DIR)
    assert X.has_broadcast_join(df), X.simple_plan(df)
    # fact side must not shuffle before the join: exchanges are only the
    # post-aggregation / ordering ones
    assert X.shuffle_count(df) <= 2, X.simple_plan(df)


def test_j9_star_join_all_dims_broadcast(spark):
    df = j9_star_multiway(spark, SF_DIR)
    plan = X.simple_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_w4_window_group_limit_pushdown(spark):
    df = w4_topn_per_group(spark, SF_DIR)
    assert "WindowGroupLimit" in X.simple_plan(df), X.simple_plan(df)


def test_projection_prunes_to_two_columns(spark):
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    cols = X.read_schema_columns(li)
    assert sorted(cols) == ["l_orderkey", "l_quantity"], cols


def test_partition_filter_prunes_row_groups(spark):
    li = load_table(spark, SF_DIR, "lineitem").filter(F.col("l_orderkey") == 1)
    assert "l_orderkey" in X.pushed_filters(li)


# Queries that legitimately cross into Python (UDF surface, Arrow decode,
# numpy ANN paths, DML lifecycles that build log frames driver-side).
# (x2_ and x3d dropped r13: x2's md5-family respell is pure JVM, and
# x3d now returns a local contract-flags frame — both oracled, so the
# zero-Python guard covers them like every other relational plan.
# x29/x5c/x5d/x5e added r13 when python_eval_count learned to see the
# MapInPandas family: Arrow-batched Python IS those queries' declared
# point — the JL matmul and the stub-codec decode/frame-sample stages.)
_PYTHON_ALLOWED_PREFIXES = (
    "d", "m", "t", "x29", "x3b", "x3e", "x5b", "x5c", "x5d", "x5e", "o4",
    # x3g: the numpy-matmul bench twin — mapInPandas IS the declared
    # point of the query; it joined the oracled set r17 (the matmul
    # runs over quantized integers so the ranking is value-replayable)
    "x3g",
)


def test_q2_decorrelates_to_single_lineitem_scan(spark):
    """The correlated-min subquery must become a window over one scan,
    not a self-join that reads lineitem twice."""
    from dbx_workspace_and_emr_iceberg_spark.queries.tpch_suite2 import (
        q2_min_cost_supplier,
    )

    df = q2_min_cost_supplier(spark, SF_DIR)
    assert X.formatted_plan(df).count("lineitem.parquet") == 1, X.simple_plan(df)
    assert X.shuffle_count(df) <= 3, X.simple_plan(df)


def test_q19_disjunction_pushes_per_side_conjuncts(spark):
    """OR-of-ANDs spanning both join sides: Catalyst must still extract
    and push the per-side disjunctions into each Parquet scan."""
    from dbx_workspace_and_emr_iceberg_spark.queries.tpch_suite2 import (
        q19_disjunctive_revenue,
    )

    df = q19_disjunctive_revenue(spark, SF_DIR)
    pushed = X.pushed_filters(df)
    assert "l_quantity" in pushed, pushed
    assert "p_brand" in pushed or "p_size" in pushed, pushed


def test_q21_rollup_rewrite_beats_self_join_count(spark):
    """The exists/not-exists pair is one per-order rollup: at most two
    static lineitem scans (oracle shape needs three) and no
    broadcast-nested-loop anywhere."""
    from dbx_workspace_and_emr_iceberg_spark.queries.tpch_suite2 import (
        q21_waiting_orders,
    )

    df = q21_waiting_orders(spark, SF_DIR)
    plan = X.formatted_plan(df)
    assert plan.count("lineitem.parquet") <= 2, X.simple_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, X.simple_plan(df)


def test_relational_queries_never_cross_into_python(spark):
    """Global hot-path guarantee: every oracle-checked relational query
    compiles to a pure-JVM plan (BatchEvalPython/ArrowEvalPython absent).
    Python is only allowed where it is the declared point of the query."""
    from dbx_workspace_and_emr_iceberg_spark.registry import all_queries

    offenders = []
    # Iterative operators (fixpoint loops over localCheckpoints) EXECUTE
    # when their fn is called and return a checkpoint-scan plan, so a
    # python_eval assertion on them is both expensive and vacuous.
    # x12b/x12c joined the tuple r13: their connected-components
    # fixpoint EXECUTES at fn() time and the returned frame is a
    # checkpoint-scan projection — running the whole md5 LSH pipeline
    # here buys a vacuous zero-Python check on a post-checkpoint plan
    iterative = (
        "x12_neardup_clusters",
        "x12b_lsh_dedup_pipeline",
        "x12c_lsh_pipeline_values",
    )
    for name, q in sorted(all_queries().items()):
        if name.startswith(_PYTHON_ALLOWED_PREFIXES):
            continue
        if q.oracle is None or name in iterative:
            continue
        df = q.fn(spark, SF_DIR)
        n = X.python_eval_count(df)
        if n:
            offenders.append((name, n))
    assert not offenders, f"Python ops in relational plans: {offenders}"


def test_x8_sessionization_single_shuffle(spark):
    from dbx_workspace_and_emr_iceberg_spark.queries.text_queries import (
        x8_sessionization,
    )

    df = x8_sessionization(spark, SF_DIR)
    # one exchange on user_id feeds the window, the session rollup, AND
    # the final user-prefixed sort — partitioning must be reused, so the
    # whole pipeline is: shuffle once, then partition-local everywhere
    # (the aggregate and sort keys are prefixed by the window key).
    assert X.shuffle_count(df) <= 2, X.formatted_plan(df)
    assert X.python_eval_count(df) == 0, "sessionization crossed into Python"


def test_x9_chunking_no_shuffle_no_python(spark):
    from dbx_workspace_and_emr_iceberg_spark.queries.text_queries import (
        x9_doc_chunking,
    )

    df = x9_doc_chunking(spark, SF_DIR)
    # chunk derivation is map-side: explode+slice+md5 happen before any
    # exchange; the only exchange permitted is the final presentation sort
    assert X.shuffle_count(df) <= 1, X.formatted_plan(df)
    assert X.python_eval_count(df) == 0, "chunking crossed into Python"
    cols = X.read_schema_columns(df)
    assert "lang" not in cols and "source" not in cols, (
        f"chunking reads unprojected columns: {cols}"
    )


def test_w3_frames_one_partition_shuffle(spark):
    """All three frames share the o_custkey partitioning: one exchange
    for the window, one for the final global order — a third would mean
    a frame stopped reusing the partitioning (scale regression)."""
    from dbx_workspace_and_emr_iceberg_spark.queries.windows import w3_frames

    df = w3_frames(spark, SF_DIR)
    assert X.shuffle_count(df) <= 2, X.simple_plan(df)
    assert X.python_eval_count(df) == 0


def test_x3_topk_cosine_broadcasts_queries_not_corpus(spark):
    """The corpus side must stream past a broadcast of the (small) query
    batch: no corpus shuffle before scoring; only the top-k rank window
    repartitions, and the surviving rows are <= k x |queries|."""
    from dbx_workspace_and_emr_iceberg_spark.queries.similarity_queries import (
        x3_topk_cosine,
    )

    df = x3_topk_cosine(spark, SF_DIR)
    assert X.has_broadcast_join(df), X.simple_plan(df)
    assert X.shuffle_count(df) <= 2, X.simple_plan(df)
    assert X.python_eval_count(df) == 0, "exact cosine path must stay JVM-side"


def test_x11_pipeline_single_shuffle(spark):
    """The composed pipeline (quality gate -> dedup -> chunk) must stay
    ONE plan with exactly one data shuffle: the dedup window on the md5
    content hash. A second exchange means a stage materialized between
    operators; the final orderBy may add one more at most."""
    from dbx_workspace_and_emr_iceberg_spark.queries.text_queries import (
        x11_training_pipeline,
    )

    df = x11_training_pipeline(spark, SF_DIR)
    assert X.shuffle_count(df) <= 2, X.simple_plan(df)
    assert X.python_eval_count(df) == 0, "pipeline must stay JVM-side"


def test_j8c_bucketed_asof_spreads_hot_keys(spark):
    """The skew-proof as-of variant must partition its data-bearing
    carry window on (key, bucket) — a plain (key)-partitioned window
    over the unioned data would put a hot key back into one straggler
    partition. The only (key)-alone shuffle allowed is the seed window,
    which sees one row per (key, bucket)."""
    import re

    from dbx_workspace_and_emr_iceberg_spark.queries.joins import (
        j8c_asof_bucketed,
    )

    df = j8c_asof_bucketed(spark, SF_DIR)
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", X.simple_plan(df))
    bucketed = [p for p in parts if "__bkt" in p]
    key_only = [p for p in parts if "user_id" in p and "__bkt" not in p]
    assert bucketed, f"no (key, bucket) partitioning found: {parts}"
    assert len(key_only) <= 1, (
        f"more than the seed window shuffles on the bare key: {key_only}"
    )


def test_j7b_range_binned_is_equi_join(spark):
    """The binned range join must plan as an equi join on the bin id —
    never a BroadcastNestedLoopJoin or cartesian product (the shapes a
    raw non-equi predicate forces, fatal for two large inputs)."""
    from dbx_workspace_and_emr_iceberg_spark.queries.joins import (
        j7b_range_binned,
    )

    df = j7b_range_binned(spark, SF_DIR)
    plan = X.simple_plan(df)
    assert "BroadcastNestedLoop" not in plan, plan
    assert "Cartesian" not in plan, plan
    assert "__bin" in plan, plan


def test_x13_sampling_is_map_side(spark):
    """Hash sampling/splitting must be a map-side predicate/projection:
    the only shuffles allowed are the final verification aggregate, and
    nothing may fall out of the JVM."""
    from dbx_workspace_and_emr_iceberg_spark.queries.extras import (
        x13b_mixture_sample,
    )

    df = x13b_mixture_sample(spark, SF_DIR)
    assert X.shuffle_count(df) <= 2, X.simple_plan(df)
    assert X.python_eval_count(df) == 0


def test_x16_contamination_broadcasts_benchmark(spark):
    """The benchmark side must broadcast so the training corpus is
    never shuffled by shingle."""
    from dbx_workspace_and_emr_iceberg_spark.queries.text_queries import (
        x16_contamination_check,
    )

    df = x16_contamination_check(spark, SF_DIR)
    plan = X.simple_plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_x17_redaction_is_shuffle_free_before_sort(spark):
    """The redaction projection itself is scan-speed map work; only the
    final presentation sort may exchange."""
    from dbx_workspace_and_emr_iceberg_spark.queries.text_queries import (
        x17_pii_redaction,
    )

    df = x17_pii_redaction(spark, SF_DIR)
    assert X.shuffle_count(df) <= 1, X.simple_plan(df)
    assert X.python_eval_count(df) == 0


def test_x19_incremental_dedup_corpus_never_shuffles(spark):
    """Both joins must broadcast the small batch side: the existing
    corpus (the 100 TB side) is scanned once, map-only — a SortMergeJoin
    here would shuffle the whole corpus by hash."""
    from dbx_workspace_and_emr_iceberg_spark.queries.dedup_queries import (
        x19_incremental_dedup,
    )

    df = x19_incremental_dedup(spark, SF_DIR)
    plan = X.simple_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_j12_lateral_rewrites_to_window_not_loop(spark):
    from dbx_workspace_and_emr_iceberg_spark.queries.joins import j12_lateral

    df = j12_lateral(spark, SF_DIR)
    plan = X.simple_plan(df)
    # correlated LIMIT must become a ranked window over ONE join — not a
    # nested-loop re-execution per outer row
    assert "Window" in plan, plan
    assert plan.count("Scan parquet") <= 2, plan


def test_w6_interval_frame_single_partition_shuffle(spark):
    from dbx_workspace_and_emr_iceberg_spark.queries.windows import (
        w6_interval_range_frame,
    )

    df = w6_interval_range_frame(spark, SF_DIR)
    # one exchange for the user_id window partition + final sort only
    assert X.shuffle_count(df) <= 2, X.simple_plan(df)
    assert X.python_eval_count(df) == 0


def test_a10_bitmap_distinct_is_partial_aggregated(spark):
    from dbx_workspace_and_emr_iceberg_spark.queries.aggregations import (
        a10_bitmap_distinct,
    )

    df = a10_bitmap_distinct(spark, SF_DIR)
    plan = X.simple_plan(df)
    # bitmap path must NOT expand into the distinct-aggregate Expand op:
    # the whole point is shuffling merged bitmaps, not distinct keys
    assert "Expand" not in plan, plan


def test_bitmap_distinct_survives_bucket_boundary(spark):
    # bitmap buckets are 32768 bits wide; keys straddling the boundary
    # must still count exactly (the naive unbucketed agg wraps: {1,
    # 32769} counts as 1)
    df = spark.range(0, 70000).selectExpr("id", "id % 2 AS g")
    got = {
        r.g: r.nd
        for r in df.groupBy("g", F.expr("bitmap_bucket_number(id + 1)"))
        .agg(
            F.expr(
                "bitmap_count(bitmap_construct_agg(bitmap_bit_position(id + 1)))"
            ).alias("c")
        )
        .groupBy("g")
        .agg(F.sum("c").alias("nd"))
        .collect()
    }
    assert got == {0: 35000, 1: 35000}


def test_x21_url_parsing_stays_jvm_side(spark):
    from dbx_workspace_and_emr_iceberg_spark.queries.text_queries import (
        x21_url_parsing,
    )

    df = x21_url_parsing(spark, SF_DIR)
    assert X.python_eval_count(df) == 0, X.simple_plan(df)
    assert X.shuffle_count(df) <= 2, X.simple_plan(df)


def test_s13_python_source_aggregate_is_two_phase(spark):
    from dbx_workspace_and_emr_iceberg_spark.queries.datasource_queries import (
        s13_python_datasource,
    )

    df = s13_python_datasource(spark, SF_DIR)
    plan = X.simple_plan(df)
    # partial aggregation must run on the custom source's splits before
    # the exchange — the source composes with Catalyst like a native one
    assert plan.count("HashAggregate") >= 2, plan


def test_x37_no_window_partitioned_on_lang_alone(spark):
    """SCALE.md's post-respell x37 claim, pinned: after the chunked
    percent_rank respell, the only windows keyed on lang ALONE are the
    salted_top_k phases over BOUNDED frames (phase 1 is (lang, salt);
    phase 2 re-ranks <= n_salts*k survivors per language) — the corpus
    itself is never partitioned by the skewed low-cardinality lang
    key. Plan-level spelling: at most ONE single-key
    hashpartitioning(lang) exchange (the bounded phase-2 re-rank),
    every Window node carries a partition clause (no global window),
    and the rank pipeline's own chunk-partitioning is enforced by
    x37's in-query assert (this call not raising IS that check)."""
    import re

    from dbx_workspace_and_emr_iceberg_spark.queries.text_queries import (
        x37_quality_ensemble,
    )

    df = x37_quality_ensemble(spark, SF_DIR)
    p = X.simple_plan(df)
    solo_lang = re.findall(r"hashpartitioning\(lang#\d+, \d+\)", p)
    assert len(solo_lang) <= 1, p
    # no unpartitioned window anywhere — via the paren-aware parser;
    # the old inline (.*?)(?:ASC|DESC) regex always captured at least
    # the sort column, so its non-empty check could never fire
    # (review-pass r12)
    from dbx_workspace_and_emr_iceberg_spark.plans.explain import (
        assert_no_unpartitioned_window,
    )

    assert_no_unpartitioned_window(df, "x37", require_window=True)
    assert X.python_eval_count(df) == 0, "ensemble crossed into Python"


def test_x34_span_detect_no_text_in_post_explode_plan(spark):
    """x34's scale contract: after the k-gram explode only digests and
    (doc_id, pos) ints move — the text column must not appear in any
    exchange. Also a window on doc_id, never a global window."""
    from dbx_workspace_and_emr_iceberg_spark.queries.dedup_queries import (
        x34_dup_span_detect,
    )

    df = x34_dup_span_detect(spark, SF_DIR)
    p = X.formatted_plan(df)
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", p):
        assert "text" not in m.group(1), m.group(0)
    assert X.python_eval_count(df) == 0


def test_x15_no_window_partitioned_on_lang_alone(spark):
    """r9 verdict #3, pinned: x15's quantile gate runs on
    chunked_percent_ranks — the only lang-keyed exchange left is the
    final bounded groupBy(lang) aggregate; every window is
    chunk-partitioned (enforced by x15's own in-query assert — this
    call not raising IS that check) and none is global."""
    import re

    from dbx_workspace_and_emr_iceberg_spark.queries.text_queries import (
        x15_quality_quantile_gate,
    )

    df = x15_quality_quantile_gate(spark, SF_DIR)
    p = X.simple_plan(df)
    solo_lang = re.findall(r"hashpartitioning\(lang#\d+, \d+\)", p)
    assert len(solo_lang) <= 1, p
    # paren-aware guard, not the dead inline regex (review-pass r12:
    # (.*?)(?:ASC|DESC) always captured at least the sort column, so
    # its non-empty check could never fire)
    from dbx_workspace_and_emr_iceberg_spark.plans.explain import (
        assert_no_unpartitioned_window,
    )

    assert_no_unpartitioned_window(df, "x15", require_window=True)


def test_x49_benchmark_side_broadcasts(spark):
    """x49's scale contract: the benchmark embedding set rides the
    task closure of ONE map-side integer-matmul pass (r20 — formerly a
    BroadcastNestedLoopJoin), so the corpus is never shuffled or
    joined at all. The returned frame is checkpointed, so the
    MapInPandas/no-join check lives IN-QUERY (this call not raising IS
    the assertion); here we only pin that the query still runs and
    returns rows."""
    from dbx_workspace_and_emr_iceberg_spark.queries.dedup_queries import (
        x49_semantic_contamination,
    )

    assert x49_semantic_contamination(spark, SF_DIR).count() > 0


def test_x2b_candidates_come_from_band_join(spark):
    """x2b's scale contract (r9 verdict #6): candidate pairs come from
    an equi-join on (band_id, band_val) — never a cross join of the
    pools; shuffles carry band digests and word hashes, not text."""
    from dbx_workspace_and_emr_iceberg_spark.queries.dedup_queries import (
        x2b_ngram_jaccard,
    )

    df = x2b_ngram_jaccard(spark, SF_DIR)
    plan = X.simple_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_qd8_no_window_partitioned_on_segment_alone(spark):
    """r10 verdict #2, pinned: qd8's discrete percentiles run on the
    chunked distinct-value machinery — no window is partitioned on the
    5-value segment key alone (that shape funnels ~1/5 of all orders
    through one task at scale); every windowspec partitions on
    (segment, chunk), and the only segment-keyed exchanges carry the
    bounded distinct-value / final-report frames."""
    from dbx_workspace_and_emr_iceberg_spark.plans.explain import (
        assert_windows_partitioned_by,
    )
    from dbx_workspace_and_emr_iceberg_spark.queries.tpch_suite3 import (
        qd8_percentile_report,
    )

    df = qd8_percentile_report(spark, SF_DIR)
    # the centralized guard: raises if NO window exists (vacuous-pass
    # protection) or if any window's partition clause lacks the chunk
    assert_windows_partitioned_by(df, "chunk", "qd8")


def test_x31_no_window_partitioned_on_lang_alone(spark):
    """r11 verdict #2, pinned: x31's sequence-packing stage runs on the
    x50 chunked prefix-sum machinery — no window is partitioned on the
    low-cardinality lang key alone (that shape funnels the dominant
    language through ONE task at 100 TB); the packing window partitions
    on (lang, chunk). The dedup/mixture stages (which do carry one
    bounded per-language counts aggregate) sit BELOW the survivor
    frame's localCheckpoint, so the packing plan itself must show ZERO
    solo-lang hashpartitioning."""
    import re

    from dbx_workspace_and_emr_iceberg_spark.queries.dedup_queries import (
        x31_curation_pipeline_v2,
    )

    df = x31_curation_pipeline_v2(spark, SF_DIR)
    # in-query assert_windows_partitioned_by already ran (this call not
    # raising IS the chunk-partitioning check); pin the exchange shape
    # too: the packing stage sits above a localCheckpoint, so its plan
    # must carry NO solo-lang hashpartitioning at all
    p = X.simple_plan(df)
    solo_lang = re.findall(r"hashpartitioning\(lang#\d+, \d+\)", p)
    assert len(solo_lang) == 0, p
    from dbx_workspace_and_emr_iceberg_spark.plans.explain import (
        assert_no_unpartitioned_window,
    )

    assert_no_unpartitioned_window(df, "x31", require_window=True)
    assert X.python_eval_count(df) == 0


def test_x36_quota_window_group_limited(spark):
    """r12 audit: x36's candidate accounting is a pure aggregate
    (least(n, Q) — row_number is dense), so every windowed branch left
    is the rk <= Q rank-filter, which Spark bounds with
    WindowGroupLimit below the shuffle (<= Q rows per host per map
    task). Catalyst duplicates the kept subtree per consumer, so pin
    the invariant per INSTANCE: every source-partitioned Window node
    in the executed plan has a WindowGroupLimit as its immediate
    child — the old sum-over-rk spelling added an instance WITHOUT
    one (every row per host through one task) and fails here."""
    from dbx_workspace_and_emr_iceberg_spark.queries.dedup_queries import (
        x36_governance_pipeline,
    )

    from dbx_workspace_and_emr_iceberg_spark.queries.text_queries import (
        x33_host_quota,
    )

    for fn, key in ((x36_governance_pipeline, "source#"), (x33_host_quota, "host#")):
        df = fn(spark, SF_DIR)
        lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
        quota_windows = [
            i
            for i, l in enumerate(lines)
            if "Window [" in l and f"windowspecdefinition({key}" in l
        ]
        assert quota_windows, "\n".join(lines)
        for i in quota_windows:
            # structural, not literal-next-line (ADVICE r12), and
            # depth-aware (review-pass r13): the group limit must be
            # on the same key in this Window's OWN subtree before the
            # next Exchange — an interposed Sort/Project is fine; a
            # sibling subtree's WindowGroupLimit printing nearby must
            # NOT exonerate it (the window_audit._window_group_limited
            # rule, with the key pinned on top)
            from tools.window_audit import _node_depth

            depth = _node_depth(lines[i])
            below = []
            for l in lines[i + 1 :]:
                if _node_depth(l) <= depth or "Exchange" in l:
                    break
                below.append(l)
            assert any(f"WindowGroupLimit [{key}" in l for l in below), (
                "non-group-limited host-quota window:\n"
                + "\n".join(lines[i : i + 8])
            )


def test_window_audit_both_directions(spark):
    """The permanent scale-weak window audit (VERDICT r12 #3, wired
    into every per-query test via conftest._audit_windows) pinned in
    both directions against hand-built frames: it must FLAG a
    low-cardinality-only window — including one keyed on a DERIVED
    column whose lineage is all-lowcard, the x33 lesson — and must
    PASS the three sanctioned shapes (chunk co-key, WindowGroupLimit,
    high-cardinality key)."""
    from pyspark.sql import Window

    from tools.window_audit import audit_frame, audit_plan

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", "en" if i % 2 else "fr") for i in range(100)],
        "doc_id long, source string, lang string",
    )

    # FLAG: window partitioned on the raw low-card key alone
    bad = docs.withColumn(
        "rn", F.row_number().over(Window.partitionBy("lang").orderBy("doc_id"))
    )
    assert audit_frame("t_bad", bad), X.simple_plan(bad)

    # FLAG: global (unpartitioned) window
    glob = docs.withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id"))
    ).filter(F.col("rn") > 2)  # no top-k filter -> no group limit
    assert audit_frame("t_glob", glob)

    # FLAG: DERIVED key whose lineage is all-lowcard (host from source)
    derived = (
        docs.withColumn("host", F.concat(F.col("source"), F.lit(".com")))
        .withColumn(
            "rn",
            F.sum(F.lit(1)).over(
                Window.partitionBy("host")
                .orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    assert audit_frame("t_derived", derived), X.simple_plan(derived)

    # PASS: chunk co-key (the respelled kernel shape)
    chunked = docs.withColumn("chunk", (F.col("doc_id") % 8)).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lang", "chunk").orderBy("doc_id")
        ),
    )
    assert audit_frame("t_chunk", chunked) == []

    # FLAG: a CONSTANT chunk co-key (the n_chunks=1 degenerate) is
    # still one task per lang — the name alone must not exempt it
    # (review-pass r13)
    const_chunk = docs.withColumn("chunk", F.lit(0)).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lang", "chunk").orderBy("doc_id")
        ),
    )
    assert audit_frame("t_const_chunk", const_chunk), X.simple_plan(
        const_chunk
    )

    # PASS: rank-filter -> Spark inserts WindowGroupLimit
    topk = docs.withColumn(
        "rk", F.row_number().over(Window.partitionBy("lang").orderBy("doc_id"))
    ).filter(F.col("rk") <= 3)
    assert audit_frame("t_topk", topk) == [], (
        topk._jdf.queryExecution().executedPlan().toString()
    )

    # PASS: high-cardinality key (doc_id is not in the lowcard set)
    hc = docs.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("source")),
    )
    assert audit_frame("t_hc", hc) == []

    # allowlist keyed by (query, base-column fingerprint) AND, for
    # agg_input entries, the window must actually sit over an
    # aggregate: a RAW-ROW window on the allowlisted key is flagged —
    # the ADVICE-r13 hole where any future window in the query
    # containing the substring was silently exempted
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert audit_plan("qd2_yoy_growth", plan.replace("lang#", "c_mktsegment#"))

    # ...while the true post-aggregate shape the entry describes IS
    # exempt (HashAggregate inside the window's subtree)
    agg_win = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "prev",
            F.lag("n").over(Window.partitionBy("lang").orderBy("n")),
        )
    )
    aplan = agg_win._jdf.queryExecution().executedPlan().toString()
    assert audit_plan(
        "qd2_yoy_growth", aplan.replace("lang#", "c_mktsegment#")
    ) == []

    # fingerprint-only entries (agg_input=False, the w1 dim-table
    # demo) stay exempt without an aggregate below
    assert audit_plan("w1_ranking", plan.replace("lang#", "p_brand#")) == []


def test_window_audit_lineage_id_keyed():
    """Pure-string pins for the r13 lineage fixes (no Spark needed):
    alias defs are keyed by name#id, so (a) same-NAMED derived aliases
    in different subtrees keep separate lineages — a low-card host#9
    must not borrow an unrelated high-card host#21's lineage and
    escape the audit; (b) a bare re-alias (x#10 AS x#55) resolves to
    its scan column, not to a constant; (c) a literal-only alias IS a
    constant and counts low-card."""
    from tools.window_audit import (
        _alias_defs,
        _base_columns,
        _spec_is_lowcard,
    )

    plan = (
        "Project [concat(source#3, .com) AS host#9]\n"
        "Project [substring(url#7, 1, 10) AS host#21]\n"
        "Project [doc_id#10L AS doc_id#55L]\n"
        "Project [1 AS g#5]\n"
        "Project [split(text#3,  , -1)[0] AS w0#8]\n"
    )
    defs = _alias_defs(plan)
    assert _base_columns("host#9", defs) == {"source"}
    assert _base_columns("host#21", defs) == {"url"}
    assert _base_columns("doc_id#55", defs) == {"doc_id"}
    assert _base_columns("g#5", defs) == set()
    # subscript alias keeps its refs: the backward walk balances ']'
    # like ')' (review-pass r13 — '[0]' used to truncate the expr to a
    # constant and falsely flag high-card subscript-derived keys)
    assert _base_columns("w0#8", defs) == {"text"}
    assert _spec_is_lowcard("host#9", defs)          # source is low-card
    assert not _spec_is_lowcard("host#21", defs)     # url is not
    assert not _spec_is_lowcard("doc_id#55L", defs)  # re-alias stays high-card
    assert _spec_is_lowcard("g#5", defs)             # literal = constant
    assert not _spec_is_lowcard("w0#8", defs)        # text is high-card


def test_window_group_limit_walk_is_depth_aware():
    """A WindowGroupLimit in a SIBLING subtree must not exonerate an
    unguarded window; one in the window's own child chain (even past
    an interposed Sort) must."""
    from tools.window_audit import _window_group_limited

    sibling = [
        "Join Inner",
        ":- Window [windowspecdefinition(lang#1 ...)]",
        ":  +- Scan parquet",
        "+- Filter",
        "   +- WindowGroupLimit [lang#1]",
    ]
    assert not _window_group_limited(sibling, 1)

    own_chain = [
        "Window [windowspecdefinition(lang#1 ...)]",
        "+- Sort [lang#1 ASC]",
        "   +- WindowGroupLimit [lang#1]",
        "      +- Exchange hashpartitioning(lang#1)",
    ]
    assert _window_group_limited(own_chain, 0)

    unguarded = [
        "Window [windowspecdefinition(lang#1 ...)]",
        "+- Exchange hashpartitioning(lang#1)",
        "   +- WindowGroupLimit [lang#1]",
    ]
    assert not _window_group_limited(unguarded, 0)


def test_plan_guard_helpers_both_directions(spark):
    """The centralized plan-string guards (plans/explain.py, ADVICE
    r10) pinned in BOTH directions against hand-built frames, so a
    Spark plan-format change that breaks the regexes fails HERE as a
    single fix point, not as N scattered in-query asserts."""
    import pytest
    from pyspark.sql import Window

    from dbx_workspace_and_emr_iceberg_spark.plans.explain import (
        assert_broadcast_no_cartesian,
        assert_no_unpartitioned_window,
        assert_windows_partitioned_by,
        window_partition_specs,
    )

    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 7).alias("chunk"),
        (F.col("id") % 3).alias("v"),
    )
    chunked = df.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("chunk").orderBy("v", "id")),
    )
    global_w = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("v", "id"))
    )

    # detection: specs extracted, chunk token recognized
    specs = window_partition_specs(chunked)
    assert specs and all("chunk" in s for s in specs)
    assert_windows_partitioned_by(chunked, "chunk", "t")
    assert_no_unpartitioned_window(chunked, "t", require_window=True)

    # rejection: the global window trips every guard
    with pytest.raises(AssertionError):
        assert_windows_partitioned_by(global_w, "chunk", "t")
    with pytest.raises(AssertionError):
        assert_no_unpartitioned_window(global_w, "t")
    # r11 review-pass false negatives, now caught by the paren-aware
    # parser: a global window over a COMPOSITE sort key, a global
    # running aggregate with NO ORDER BY, and a key-alone window whose
    # SORT column merely contains the token
    global_cast = df.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("v").cast("double")))
    )
    with pytest.raises(AssertionError):
        assert_no_unpartitioned_window(global_cast, "t")
    global_noorder = df.withColumn(
        "s", F.sum("v").over(Window.partitionBy())
    )
    with pytest.raises(AssertionError):
        assert_no_unpartitioned_window(global_noorder, "t")
    key_sorted_by_chunk = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("v").orderBy("chunk"))
    )
    with pytest.raises(AssertionError):
        assert_windows_partitioned_by(key_sorted_by_chunk, "chunk", "t")
    # no-window frame trips the require/presence variants
    with pytest.raises(AssertionError):
        assert_windows_partitioned_by(df, "chunk", "t")
    with pytest.raises(AssertionError):
        assert_no_unpartitioned_window(df, "t", require_window=True)

    # broadcast guard: a broadcast join passes, a cartesian fails
    # (auto-broadcast off while building the negative case — at test
    # scale everything is broadcast-eligible, so the cross join would
    # otherwise plan as BroadcastNestedLoopJoin and pass vacuously)
    small = spark.range(5).select(F.col("id").alias("k"))
    bj = df.join(F.broadcast(small), df.id == small.k)
    assert_broadcast_no_cartesian(bj, "t")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cj = df.crossJoin(small.withColumnRenamed("k", "k2"))
        with pytest.raises(AssertionError):
            assert_broadcast_no_cartesian(cj, "t")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_window_spec_parser_string_level():
    """The paren-aware windowspec parser pinned against hand-written
    plan strings — no SparkSession needed, so parse-rule regressions
    fail fast and in isolation."""
    from dbx_workspace_and_emr_iceberg_spark.plans.explain import (
        _parse_window_partition_specs as parse,
    )

    # plain partitioned window: partition cols survive, sort col dropped
    s = ("Window [row_number() windowspecdefinition(lang#5, chunk#8, "
         "val#9 ASC NULLS FIRST, specifiedwindowframe(RowFrame, "
         "unboundedpreceding$(), currentrow$())) AS rn#12]")
    assert parse(s) == ["lang#5, chunk#8"]

    # global window over a composite sort key: nested parens must not
    # stop the scan before the direction keyword
    s = ("windowspecdefinition(cast(spend#3 as double) ASC NULLS FIRST, "
         "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
         "currentrow$()))")
    assert parse(s) == [""]

    # running aggregate with NO ORDER BY at all
    s = ("windowspecdefinition(specifiedwindowframe(RowFrame, "
         "unboundedpreceding$(), unboundedfollowing$()))")
    assert parse(s) == [""]

    # partition expr that is itself a function call (nested commas at
    # depth > 1 stay inside one argument)
    s = ("windowspecdefinition(coalesce(a#1, b#2), c#3 DESC NULLS LAST, "
         "specifiedwindowframe(RangeFrame, unboundedpreceding$(), "
         "currentrow$()))")
    assert parse(s) == ["coalesce(a#1, b#2)"]

    # two windows in one plan, order preserved
    s = ("windowspecdefinition(k#1, v#2 ASC NULLS FIRST, "
         "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
         "currentrow$())) ... windowspecdefinition(v#2 DESC NULLS LAST, "
         "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
         "currentrow$()))")
    assert parse(s) == ["k#1", ""]

    # partition EXPRESSION whose printed form merely CONTAINS a
    # direction token (ADVICE r11): a CASE arm with the literal
    # ' DESC ' inside must stay classified as a partition expression —
    # the direction keyword only counts as the argument's trailing token
    s = ("windowspecdefinition(CASE WHEN contains(note#4,  DESC ) THEN 1 "
         "ELSE 0 END, ts#6 ASC NULLS FIRST, "
         "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
         "currentrow$()))")
    assert parse(s) == ["CASE WHEN contains(note#4,  DESC ) THEN 1 ELSE 0 END"]

    # ...while a sort order with no NULLS suffix is still dropped
    s = ("windowspecdefinition(k#1, v#2 DESC, specifiedwindowframe("
         "RowFrame, unboundedpreceding$(), currentrow$()))")
    assert parse(s) == ["k#1"]

    assert parse("no windows here") == []


def test_window_audit_sweep_covers_rows_only(spark):
    """VERDICT r13 #7 asked for a sweep so queries that never pass
    through oracle_check are audited too.  Coverage note: EVERY
    registered query — rows-only included — is already audited in its
    own test_query_matches_oracle case (tests/test_oracle.py's
    rows-only branch calls _audit_windows directly), so a full
    296-query CLI sweep here would re-build every frame (~3.5 min) for
    zero new coverage.  This test instead pins the two things the
    suite did NOT previously exercise: (a) the rows-only set (x3g) is
    swept through window_audit.main()'s CLI path itself, and (b) the
    CLI's skip accounting — a sweep where every build fails must exit
    nonzero instead of reading as clean (ADVICE r13)."""
    from dbx_workspace_and_emr_iceberg_spark.registry import all_queries

    from tools import window_audit

    # the rows-only set emptied in r17 (x3g gained its value oracle);
    # pin the emptiness and keep the CLI sweep path exercised over the
    # former last member so it still works for any future entry
    rows_only = sorted(n for n, q in all_queries().items() if q.oracle is None)
    assert rows_only == [], f"unexpected rows-only queries: {rows_only}"
    assert window_audit.main(["x3g_topk_vectorized_bench"]) == 0

    # all-skipped sweep: missing fixture dir -> every build raises ->
    # exit 2, not a clean 0 (ADVICE r13 — a broken audit run must be
    # distinguishable from a clean one)
    import os

    old = os.environ.get("SPARK_GRAFT_TEST_SF_DIR")
    os.environ["SPARK_GRAFT_TEST_SF_DIR"] = "/nonexistent-audit-dir"
    try:
        assert window_audit.main(rows_only) == 2
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_TEST_SF_DIR", None)
        else:
            os.environ["SPARK_GRAFT_TEST_SF_DIR"] = old


# --- review-pass r16: witness-accuracy fixes (each reproduced first) --------


def test_read_schema_columns_nested_struct(spark, tmp_path):
    """Bare-comma splitting emitted phantom top-level columns for
    nested struct fields ('orig_chars' from meta's inner field),
    corrupting the pruning witness (review-pass r16, reproduced)."""
    p = str(tmp_path / "nested")
    spark.createDataFrame(
        [(1, ("png", 10))],
        "doc_id long, meta struct<format:string,orig_chars:int>",
    ).write.mode("overwrite").parquet(p)
    cols = X.read_schema_columns(spark.read.parquet(p).select("doc_id", "meta"))
    assert cols == ["doc_id", "meta"]


def test_shuffle_count_ignores_reused_exchange(spark):
    """ReusedExchange re-reads an existing exchange's output — not an
    extra shuffle; with AQE off (where reuse is planned statically) it
    inflated the bound (review-pass r16, reproduced)."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        base = spark.range(0, 100).withColumn("g", F.col("id") % 7)
        agg = base.groupBy("g").count()
        j = agg.alias("a").join(agg.alias("b"), "g")
        plan = X.simple_plan(j)
        if "ReusedExchange" in plan:
            # 1 shuffle to build the agg (reused) + 1 for the join key
            # at most; the reuse itself must not count
            assert X.shuffle_count(j) == plan.count("Exchange hashpartitioning")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_python_eval_count_sees_window_and_agg_pandas(spark):
    """Spark 4 spells the window/agg pandas-UDF nodes ArrowWindowPython
    / ArrowAggregatePython; the old needle list kept the count at 0 for
    both — the r13 vacuous-guard defect for two more node classes
    (review-pass r16, reproduced)."""
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf
    from pyspark.sql.window import Window

    # explicit functionType: this module runs under `from __future__
    # import annotations`, which turns the hints into strings pyspark's
    # Series->scalar inference rejects
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def pmean(v):
        return float(v.mean())

    base = spark.range(0, 50).withColumn("g", F.col("id") % 3)
    assert (
        X.python_eval_count(
            base.withColumn("m", pmean("id").over(Window.partitionBy("g")))
        )
        == 1
    )
    assert X.python_eval_count(base.groupBy("g").agg(pmean("id").alias("m"))) == 1
    cog = (
        base.groupby("g")
        .cogroup(base.groupby("g"))
        .applyInPandas(lambda a, b: pd.DataFrame({"g": [0]}), "g long")
    )
    assert X.python_eval_count(cog) == 1


def _job_group_input_records(spark, group: str) -> int:
    """Input records of the stages of ``group``'s jobs: rows read from
    files, plus one per cached batch read back."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    return sum(
        store.lastStageAttempt(s).inputRecords()
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    )


def test_x29_build_scans_embeddings_once(spark):
    """x29's JL check reads the norms its projection pass emitted, so
    building the frame reads ``embeddings`` once, not a second time
    for the original norms."""
    from dbx_workspace_and_emr_iceberg_spark.queries.similarity_queries import (
        x29_random_projection,
    )

    rows = load_table(spark, SF_DIR, "embeddings").count()
    group = "x29-build-scans"
    spark.catalog.clearCache()
    spark.sparkContext.setJobGroup(group, "x29 build")
    try:
        x29_random_projection(spark, SF_DIR)
    finally:
        spark.sparkContext._jsc.clearJobGroup()
        spark.catalog.clearCache()
    assert rows <= _job_group_input_records(spark, group) < 2 * rows
