"""Edge-case unit tests for custom operators (SURVEY.md §5) — the
boundaries the registry queries don't isolate: equal timestamps and
empty sides in the as-of join, null join keys under salting, degenerate
dedup inputs."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from dbx_workspace_and_emr_iceberg_spark.operators.asof import asof_join
from dbx_workspace_and_emr_iceberg_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
)
from dbx_workspace_and_emr_iceberg_spark.operators.skew import salted_join


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def tiny(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00")),
            (1, _ts("2024-01-01T12:00:00")),
            (2, _ts("2024-01-01T09:00:00")),
        ],
        "k int, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), 100.0),  # equal-instant match
            (1, _ts("2024-01-01T11:30:00"), 200.0),
            (2, _ts("2024-01-01T09:30:00"), 300.0),  # strictly after left
        ],
        "k int, ts timestamp, v double",
    )
    return left, right


def test_asof_equal_instant_matches(spark, tiny):
    left, right = tiny
    out = {
        (r.k, r.ts.isoformat()): r.v_r
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_cols=["v"], suffix="_r",
        ).collect()
    }
    # ts >= semantics: the 10:00 right row is visible to the 10:00 left row
    assert out[(1, "2024-01-01T10:00:00")] == 100.0
    # latest earlier row wins
    assert out[(1, "2024-01-01T12:00:00")] == 200.0
    # no earlier right row → NULL
    assert out[(2, "2024-01-01T09:00:00")] is None


def test_asof_empty_right_side(spark, tiny):
    left, right = tiny
    empty = right.filter(F.lit(False))
    out = asof_join(
        left, empty, on="k", left_ts="ts", right_ts="ts",
        right_cols=["v"], suffix="_r",
    )
    rows = out.collect()
    assert len(rows) == left.count()
    assert all(r.v_r is None for r in rows)


def test_salted_join_null_keys_dropped_like_plain_join(spark):
    big = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, "c")], "k int, x string"
    )
    small = spark.createDataFrame([(1, "one"), (2, "two")], "k int, name string")
    plain = big.join(small, "k").count()
    salted = salted_join(big, small, on="k", n_salts=4).count()
    assert salted == plain == 2  # inner join drops NULL keys on both paths


def test_exact_dedup_all_identical(spark):
    df = spark.createDataFrame([(i, "same text") for i in range(10)], "id long, t string")
    kept = exact_dedup(df, "t", "id").collect()
    assert len(kept) == 1 and kept[0].id == 0  # keep-lowest-id


def test_minhash_no_pairs_on_disjoint_docs(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six")],
        "doc_id long, text string",
    )
    assert minhash_lsh_pairs(docs, "doc_id", "text").count() == 0
    assert minhash_lsh_pairs(docs, "doc_id", "text", vectorized=False).count() == 0


def test_minhash_signature_invariants_both_paths(spark):
    """Both signature paths: deterministic across partitionings,
    identical texts get identical signatures, sub-shingle docs are
    excluded, arrays are num_hashes long."""
    from dbx_workspace_and_emr_iceberg_spark.operators.dedup import (
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # dup of 1
            (3, "an entirely different document with other words here"),
            (4, "too short"),  # < shingle_n words: must be excluded
        ],
        "doc_id long, text string",
    )
    for vec in (True, False):
        sig = minhash_signatures(docs, "doc_id", "text", 16, 3, vectorized=vec)
        rows = {r.doc: tuple(r["__mh"]) for r in sig.collect()}
        assert set(rows) == {1, 2, 3}, f"vectorized={vec}: sub-shingle doc kept"
        assert all(len(v) == 16 for v in rows.values())
        assert rows[1] == rows[2], f"vectorized={vec}: identical texts differ"
        assert rows[1] != rows[3], f"vectorized={vec}: distinct texts collide"
        rows2 = {
            r.doc: tuple(r["__mh"])
            for r in minhash_signatures(
                docs.repartition(7), "doc_id", "text", 16, 3, vectorized=vec
            ).collect()
        }
        assert rows == rows2, f"vectorized={vec}: not partition-invariant"


# --- deterministic hash sampling (operators/sampling.py) --------------------


def test_hash_sample_is_layout_invariant_and_nested(spark):
    """The same keys are kept regardless of partition layout (the
    property sample() lacks), and a smaller fraction's keep-set nests
    inside a larger one's (bucket ranges are prefixes)."""
    from dbx_workspace_and_emr_iceberg_spark.operators.sampling import (
        hash_sample,
    )

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    keep20 = {r.k for r in hash_sample(df, "k", 0.2).collect()}
    keep20_relaid = {
        r.k for r in hash_sample(df.repartition(13), "k", 0.2).collect()
    }
    keep50 = {r.k for r in hash_sample(df, "k", 0.5).collect()}
    assert keep20 == keep20_relaid
    assert keep20 <= keep50
    assert 0.15 < len(keep20) / 2000 < 0.25
    assert 0.45 < len(keep50) / 2000 < 0.55


def test_hash_split_is_append_stable(spark):
    """Growing the corpus never moves an existing row between splits,
    and fractions land near the request."""
    from dbx_workspace_and_emr_iceberg_spark.operators.sampling import (
        hash_split,
    )

    small = spark.range(0, 1000).withColumnRenamed("id", "k")
    big = spark.range(0, 3000).withColumnRenamed("id", "k")
    s1 = {r.k: r.split for r in hash_split(small, "k").collect()}
    s2 = {r.k: r.split for r in hash_split(big, "k").collect()}
    assert all(s2[k] == v for k, v in s1.items())
    from collections import Counter

    c = Counter(s2.values())
    assert 0.07 < c["test"] / 3000 < 0.13
    assert 0.07 < c["val"] / 3000 < 0.13
    assert 0.74 < c["train"] / 3000 < 0.86


def test_hash_sample_by_nests_per_stratum(spark):
    """Tightening one stratum's fraction yields a subset of the looser
    sample, and other strata are untouched; absent strata drop."""
    from dbx_workspace_and_emr_iceberg_spark.operators.sampling import (
        hash_sample_by,
    )

    df = spark.range(0, 1200).selectExpr(
        "id AS k", "CASE WHEN id % 3 = 0 THEN 'a' ELSE 'b' END AS s"
    )
    loose = {
        (r.k, r.s)
        for r in hash_sample_by(df, "k", "s", {"a": 0.8, "b": 0.4}).collect()
    }
    tight = {
        (r.k, r.s)
        for r in hash_sample_by(df, "k", "s", {"a": 0.3, "b": 0.4}).collect()
    }
    assert tight <= loose
    assert {p for p in loose if p[1] == "b"} == {
        p for p in tight if p[1] == "b"
    }
    none_a = hash_sample_by(df, "k", "s", {"b": 0.4}).filter("s = 'a'").count()
    assert none_a == 0


def test_connected_components_raises_when_rounds_exhausted(spark):
    """Unconverged clusters must fail loudly, never return wrong
    components: a 40-node path cannot converge in one round."""
    import pytest

    from dbx_workspace_and_emr_iceberg_spark.operators.components import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src int, dst int"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_rounds=1)
    # and the same graph converges fine with sensible rounds
    comps = connected_components(chain).select("component").distinct().count()
    assert comps == 1


def test_connected_components_string_ids_and_self_loops(spark):
    """Node ids are any orderable type (dedup keys are often hashes):
    string-keyed components must converge correctly, and a node seen
    only in self-loop edges must surface as its own singleton."""
    from dbx_workspace_and_emr_iceberg_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("x", "x"), ("e", "e")],
        "src string, dst string",
    )
    got = {
        r.node: r.component
        for r in connected_components(edges).collect()
    }
    assert got == {"b": "b", "c": "b", "d": "b", "x": "x", "e": "e"}


def test_asof_bucketed_exact_at_nanosecond_epochs(spark):
    """Bucket ids must come from exact integer floor division: a double
    round-trip at nanosecond-scale epochs (> 2^53) shifts values across
    bucket boundaries and silently drops valid matches."""
    from dbx_workspace_and_emr_iceberg_spark.operators.asof import (
        asof_join,
        asof_join_bucketed,
    )

    big = 2**60
    ldf = spark.createDataFrame([(1, big - 1)], "k long, lts long")
    rdf = spark.createDataFrame([(1, big - 5000, 7)], "k long, rts long, v long")
    plain = asof_join(ldf, rdf, on="k", left_ts="lts", right_ts="rts").collect()
    bucketed = asof_join_bucketed(
        ldf, rdf, on="k", left_ts="lts", right_ts="rts", bucket_s=1000
    ).collect()
    assert plain[0].v_right == 7
    assert bucketed[0].v_right == 7


def test_x14_packing_invariants(spark):
    """Sequence packing: pack ids are dense from 0 per shard, and the
    greedy sequential fill bounds every pack at budget + one doc's
    overflow (a pack's last doc STARTS inside the 512-token budget, so
    tokens <= 512 - 1 + that doc's length)."""
    from tests.conftest import SF_DIR

    from dbx_workspace_and_emr_iceberg_spark.queries.text_queries import (
        x14_sequence_packing,
    )
    from dbx_workspace_and_emr_iceberg_spark.tables import load_table

    max_ntok = (
        load_table(spark, SF_DIR, "documents")
        .select(F.size(F.split("text", " ")).alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    rows = x14_sequence_packing(spark, SF_DIR).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert by_shard, "packing produced no packs"
    for shard, packs in by_shard.items():
        ids = [p.pack_id for p in packs]
        assert ids == sorted(ids)
        assert ids[0] == 0, f"shard {shard} packs must start at 0"
        for p in packs:
            assert p.pack_tokens > 0 and p.n_docs > 0
            assert p.pack_tokens <= 512 - 1 + max_ntok, (
                f"shard {shard} pack {p.pack_id} overflows the greedy "
                f"bound: {p.pack_tokens} tokens"
            )


def test_asof_timestamp_ntz_tolerance_and_bucketed(spark):
    """events.ts is canonically TIMESTAMP_NTZ (tables.py); the as-of
    operator must handle NTZ end-to-end: tolerance epoch math (NTZ has
    no direct BIGINT cast), bucket-id derivation, and seed-row
    timestamp reconstruction (no BIGINT->NTZ cast exists either).
    Brute-force-checked on data whose matches span bucket boundaries."""
    import datetime as dt

    from dbx_workspace_and_emr_iceberg_spark.operators.asof import (
        asof_join,
        asof_join_bucketed,
    )

    base = dt.datetime(2024, 1, 1)
    mk = lambda s: base + dt.timedelta(seconds=s)  # noqa: E731
    # right rows at 0s, 100s per key; left probes far enough from both
    # to exercise tolerance rejection and cross-bucket seed carry
    left = [(k, mk(s), i) for i, (k, s) in enumerate(
        (k, s) for k in (1, 2) for s in (5, 95, 140, 400)
    )]
    right = [(k, mk(s), f"r{k}-{s}") for k in (1, 2) for s in (0, 100)]
    ldf = spark.createDataFrame(
        left, "k int, lts timestamp_ntz, rowid int"
    )
    rdf = spark.createDataFrame(right, "k int, rts timestamp_ntz, v string")
    assert dict(ldf.dtypes)["lts"] == "timestamp_ntz"

    def brute(tol):
        want = {}
        for k, lts, rowid in left:
            cand = [(rts, v) for (rk, rts, v) in right if rk == k and rts <= lts]
            if cand:
                rts, v = max(cand)
                if tol is not None and (lts - rts).total_seconds() > tol:
                    want[rowid] = None
                else:
                    want[rowid] = v
            else:
                want[rowid] = None
        return want

    for tol in (None, 50):
        want = brute(tol)
        got = {
            r.rowid: r.v_right
            for r in asof_join(
                ldf, rdf, on="k", left_ts="lts", right_ts="rts", tolerance_s=tol
            ).collect()
        }
        assert got == want, f"asof_join NTZ tol={tol}: {got} != {want}"
        # bucket_s=60 puts right@0 and left@95/140 in different buckets,
        # forcing the seed-row path (timestamp reconstruction)
        got_b = {
            r.rowid: r.v_right
            for r in asof_join_bucketed(
                ldf,
                rdf,
                on="k",
                left_ts="lts",
                right_ts="rts",
                tolerance_s=tol,
                bucket_s=60,
            ).collect()
        }
        assert got_b == want, f"bucketed NTZ tol={tol}: {got_b} != {want}"


# --- semantic dedup (operators/semantic.py) ---------------------------------


def test_kmeans_objective_monotone_and_assignment_total(spark):
    from dbx_workspace_and_emr_iceberg_spark.operators.semantic import (
        kmeans_fit_assign,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assigned, obj = kmeans_fit_assign(e, k=4, iters=3)
    assert len(obj) == 3
    assert all(b >= a - 1e-9 for a, b in zip(obj, obj[1:]))
    n = e.count()
    assert assigned.count() == n
    assert assigned.filter("cluster < 0 OR cluster >= 4").count() == 0


def test_semdedup_drops_planted_parallel_copy(spark):
    import numpy as np

    from dbx_workspace_and_emr_iceberg_spark.operators.semantic import semdedup

    rng = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.9999, 0.0141, 0.0, 0.0], 0),  # cos≈0.9999 to id 1
        (3, [0.0, 1.0, 0.0, 0.0], 0),
        (4, [0.0, 0.0, 1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(
        rng, "vec_id long, v array<double>, cluster int"
    )
    out = {r.vec_id: r for r in semdedup(df, 0.99).collect()}
    assert out[1].keep and not out[2].keep  # greedy keeps first id
    assert out[2].max_cos_kept >= 0.99
    assert out[3].keep and out[4].keep


def test_semdedup_cluster_size_guard(spark):
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.operators.semantic import semdedup

    df = spark.createDataFrame(
        [(i, [1.0, 0.0], 0) for i in range(10)],
        "vec_id long, v array<double>, cluster int",
    )
    with _pytest.raises(Exception, match="max_cluster"):
        semdedup(df, 0.99, max_cluster=5).collect()


# --- bloom filter (operators/bloom.py) --------------------------------------


def test_bloom_no_false_negatives_and_bounded_fpr(spark):
    from dbx_workspace_and_emr_iceberg_spark.operators.bloom import (
        build_bloom,
        probe_bloom,
    )

    members = [f"member_{i}" for i in range(500)]
    strangers = [f"stranger_{i}" for i in range(2000)]
    mdf = spark.createDataFrame([(m,) for m in members], "s string")
    bitmap = build_bloom(mdf, "s", m_bits=1 << 16, k=5)

    probe = spark.createDataFrame(
        [(0, members), (1, strangers)], "doc_id long, sh array<string>"
    )
    out = {r.doc_id: r for r in probe_bloom(probe, "sh", bitmap, 1 << 16, 5).collect()}
    # every member hits (no false negatives, the bloom guarantee)
    assert out[0].n_hits == len(members)
    # FPR stays near theory: (1-e^(-kn/m))^k ~ 0.0006 at these sizes;
    # allow a generous 2% before calling the hash family broken
    assert out[1].n_hits <= 0.02 * len(strangers)


def test_bloom_same_byte_positions_all_set(spark):
    """Regression: keys whose k hash positions collide within one BYTE.

    The original build used ``bits[pos // 8] |= …`` — numpy fancy-index
    assignment applies duplicate indices once, so one of the colliding
    bits was silently dropped and the inserted key probed FALSE
    (a false negative, ~7.6e-5/key at default m/k). Fixed with
    np.bitwise_or.at; these keys are pre-searched to have two positions
    in the same byte at m=2^16, k=5.
    """
    from dbx_workspace_and_emr_iceberg_spark.operators.bloom import (
        _positions,
        build_bloom,
        probe_bloom,
    )

    keys = ["key_3273", "key_3942", "key_6793", "key_6923", "key_8529"]
    # precondition: the fixture really does collide byte-wise
    for s in keys:
        b = (_positions(s, 5, 1 << 16) // 8).tolist()
        assert len(set(b)) < len(b), f"{s} no longer byte-collides"

    mdf = spark.createDataFrame([(s,) for s in keys], "s string")
    bitmap = build_bloom(mdf, "s", m_bits=1 << 16, k=5)
    probe = spark.createDataFrame([(0, keys)], "doc_id long, sh array<string>")
    [row] = probe_bloom(probe, "sh", bitmap, 1 << 16, 5).collect()
    assert row.n_hits == len(keys), "inserted key probed false — bit dropped"


def test_bloom_partial_merge_equals_single_partition(spark):
    from dbx_workspace_and_emr_iceberg_spark.operators.bloom import build_bloom

    vals = [(f"v{i}",) for i in range(300)]
    one = build_bloom(
        spark.createDataFrame(vals, "s string").coalesce(1), "s", 1 << 14, 4
    )
    many = build_bloom(
        spark.createDataFrame(vals, "s string").repartition(8), "s", 1 << 14, 4
    )
    # OR-merge of per-partition partials must be partitioning-invariant
    assert one == many
    # r17 tree level (VERDICT-r16 #3): at 30 partitions the executor-side
    # √parts OR-reduce runs with 5 groups, many holding several partials
    # and some empty — the merged bitmap must still be identical
    wide = build_bloom(
        spark.createDataFrame(vals, "s string").repartition(30), "s", 1 << 14, 4
    )
    assert one == wide


def _write_docs(spark, tmp_path, rows):
    """Write a tiny documents.parquet a query fn can load via sf_dir."""
    docs = [
        (i, t, "en", f"src{i % 2}", len(t)) for i, t in enumerate(rows)
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_x34_span_merge_shifted_alignment_and_self_repeat(spark, tmp_path):
    """x34 must catch a span duplicated at a DIFFERENT offset (the case
    x27's fixed stride-10 chunks miss), merge overlapping windows into
    one maximal span, split islands at gap > k, and flag self-repeats
    within a single doc."""
    from dbx_workspace_and_emr_iceberg_spark.queries.dedup_queries import (
        x34_dup_span_detect,
    )

    shared = " ".join(f"s{i}" for i in range(10))  # 10-token shared run
    a = " ".join(f"a{i}" for i in range(5)) + " " + shared + " " + " ".join(
        f"A{i}" for i in range(5)
    )  # shared at offset 5
    b = " ".join(f"b{i}" for i in range(3)) + " " + shared + " " + " ".join(
        f"B{i}" for i in range(7)
    )  # same run at offset 3 — different alignment
    c = " ".join(f"c{i}" for i in range(20))  # fully unique
    rep = " ".join(f"p{i}" for i in range(8))
    d = rep + " filler " + rep  # self-repeat, starts 0 and 9 (gap 9 > k=8)
    out = {
        r.doc_id: r
        for r in x34_dup_span_detect(
            spark, _write_docs(spark, tmp_path, [a, b, c, d])
        ).collect()
    }
    # A: windows fully inside the shared run start at 5,6,7 → ONE merged
    # span covering tokens 5..14 → 10 dup tokens
    assert out[0].n_spans == 1 and out[0].dup_tokens == 10
    assert out[1].n_spans == 1 and out[1].dup_tokens == 10
    assert out[2].n_spans == 0 and out[2].dup_tokens == 0
    # D: duplicate window starts 0 and 9 differ by 9 > k → two islands,
    # 8 dup tokens each
    assert out[3].n_spans == 2 and out[3].dup_tokens == 16
    assert abs(out[3].dup_frac - round(16 / 17, 4)) < 1e-9


def test_x33_quota_drops_and_tiebreak(spark, tmp_path):
    """Host quota keeps exactly Q docs per host, longest first, lower
    doc_id on length ties; hosts under quota drop nothing."""
    from dbx_workspace_and_emr_iceberg_spark.queries import text_queries as tq

    # src0 gets quota+2 docs (varied lengths), src1 stays under quota
    n0 = tq._X33_QUOTA + 2
    docs = [(i, "x" * (10 + i), "en", "src0", 10 + i) for i in range(n0)]
    docs += [(100 + i, "y" * 20, "en", "src1", 20) for i in range(3)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r.host: r for r in tq.x33_host_quota(spark, str(tmp_path)).collect()}
    h0, h1 = out["src0.example.org"], out["src1.example.org"]
    assert h0.n_docs == n0 and h0.n_kept == tq._X33_QUOTA and h0.n_dropped == 2
    assert h1.n_kept == h1.n_docs == 3 and h1.n_dropped == 0
    # the dropped docs are the 2 shortest on src0: kept_min_chars is the
    # Q-th longest length (lengths are 10..10+n0-1, descending keep)
    assert h0.kept_min_chars == 10 + n0 - tq._X33_QUOTA


def test_pagerank_matches_numpy_power_iteration(spark):
    """pagerank() on a small asymmetric weighted digraph must equal the
    same fixed power iteration done densely in numpy, including a
    dangling sink (D has no out-edges → its mass is dropped) and an
    isolated node pinned via `nodes`."""
    import numpy as np

    from dbx_workspace_and_emr_iceberg_spark.operators.components import (
        pagerank,
    )

    edges = spark.createDataFrame(
        [("A", "B", 2.0), ("A", "C", 1.0), ("B", "C", 1.0),
         ("C", "A", 1.0), ("C", "D", 3.0)],
        "src string, dst string, w double",
    )
    nodes = spark.createDataFrame([("A",), ("B",), ("C",), ("D",), ("E",)], "n string")
    got = {
        r.node: r.rank
        for r in pagerank(edges, "src", "dst", "w", damping=0.85, iters=8,
                          nodes=nodes).collect()
    }
    idx = {k: i for i, k in enumerate("ABCDE")}
    P = np.zeros((5, 5))
    for s, d, w in [("A", "B", 2), ("A", "C", 1), ("B", "C", 1),
                    ("C", "A", 1), ("C", "D", 3)]:
        P[idx[s], idx[d]] = w
    out = P.sum(axis=1, keepdims=True)
    T = np.zeros_like(P)
    np.divide(P, out, out=T, where=out > 0)
    r = np.full(5, 1 / 5)
    for _ in range(8):
        r = 0.15 / 5 + 0.85 * (r @ T)
    for k in idx:
        assert abs(got[k] - r[idx[k]]) < 1e-12, (k, got[k], r[idx[k]])
    # dangling D leaks mass: totals strictly below 1, isolated E at floor
    assert sum(got.values()) < 1.0 and abs(got["E"] - 0.15 / 5) < 1e-12


def test_pagerank_zero_weight_source_is_dangling_not_nan(spark):
    """A source whose out-edge weights sum to zero must behave as a
    dangling sink (mass dropped), not emit 0/0 = NaN transition
    probabilities that poison the rank vector."""
    import math

    from dbx_workspace_and_emr_iceberg_spark.operators.components import (
        pagerank,
    )

    edges = spark.createDataFrame(
        [("A", "B", 1.0), ("B", "A", 1.0), ("Z", "A", 0.0), ("Z", "B", 0.0)],
        "src string, dst string, w double",
    )
    got = {r.node: r.rank for r in pagerank(edges, weight="w", iters=6).collect()}
    assert all(not math.isnan(v) for v in got.values()), got
    # Z contributes nothing and receives nothing: floor rank
    assert abs(got["Z"] - 0.15 / 3) < 1e-12
    # A and B exchange the remaining mass symmetrically
    assert abs(got["A"] - got["B"]) < 1e-12 and got["A"] > got["Z"]


def test_salted_top_k_equals_single_window(spark):
    """The two-phase salted per-key top-k (x33's documented mega-host
    respell) must return EXACTLY the single-window result when the
    order is total, for keys far above and below k, regardless of
    partition layout."""
    from pyspark.sql import Window

    from dbx_workspace_and_emr_iceberg_spark.operators.skew import (
        salted_top_k,
    )

    rows = [("hot", i, (i * 37) % 101) for i in range(500)]
    rows += [("cold", i, i) for i in range(3)]
    df = spark.createDataFrame(rows, "k string, id long, v long")
    order = [F.col("v").desc(), F.col("id")]  # total order via id
    w = Window.partitionBy("k").orderBy(*order)
    plain = {
        (r.k, r.id)
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 10")
        .collect()
    }
    for layout in (df, df.repartition(13)):
        got = {
            (r.k, r.id)
            for r in salted_top_k(
                layout, ["k"], order, 10, n_salts=7
            ).collect()
        }
        assert got == plain
    # cold key with fewer rows than k keeps everything
    assert sum(1 for t in plain if t[0] == "cold") == 3


def test_x36_duplicate_evidence_comes_from_quota_survivors_only(spark, tmp_path):
    """The composition ORDER is the semantics: a doc whose only
    duplicate partner was removed by the quota must NOT be dropped
    (span-detect-before-quota would wrongly flag it), while true
    intra-survivor duplicates are dropped."""
    from dbx_workspace_and_emr_iceberg_spark.queries import dedup_queries as dq

    q = dq._X36_QUOTA
    y_text = " ".join(f"y{i}" for i in range(20))
    docs = []
    # src0: 14 long unique fillers (rk 1-14), Y (rk 15, kept), Z = exact
    # copy of Y, same length, higher doc_id -> rk 16, dropped by quota
    for i in range(q - 1):
        docs.append((i, " ".join(f"f{i}w{j}" for j in range(25)), "en", "src0"))
    docs.append((100, y_text, "en", "src0"))
    docs.append((101, y_text, "en", "src0"))
    # src1: two identical long docs (both inside quota -> both 100% dup)
    # plus one unique doc
    p_text = " ".join(f"p{i}" for i in range(20))
    docs += [(200, p_text, "en", "src1"), (201, p_text, "en", "src1"),
             (202, " ".join(f"u{i}" for i in range(20)), "en", "src1")]
    spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r.host: r for r in dq.x36_governance_pipeline(spark, str(tmp_path)).collect()}
    h0 = out["src0.example.org"]
    assert (h0.n_candidates, h0.n_quota_kept) == (q + 1, q)
    # Y survives: its duplicate Z never reached the span detector
    assert h0.n_dupspan_dropped == 0 and h0.n_final == q
    h1 = out["src1.example.org"]
    assert h1.n_dupspan_dropped == 2 and h1.n_final == 1


def test_chunked_percent_ranks_equals_native_window(spark):
    """x37's skew respell: the chunked two-pass percent_rank must equal
    Spark's native percent_rank() bit-for-bit — skewed partition sizes
    (one hot key, one tiny, one singleton), ties included, across
    partition layouts and for several signals in one pass."""
    from pyspark.sql import Window

    from dbx_workspace_and_emr_iceberg_spark.operators.skew import (
        chunked_percent_ranks,
    )

    rows = [("en", i, float((i * 7) % 23), float(i % 5)) for i in range(400)]
    rows += [("fr", 1000 + i, float(i % 3), 9.0) for i in range(7)]  # ties
    rows += [("xx", 2000, 42.0, 42.0)]  # singleton partition -> pr = 0.0
    df = spark.createDataFrame(rows, "lang string, id long, a double, b double")

    def native(col):
        return F.percent_rank().over(Window.partitionBy("lang").orderBy(col))

    want = {
        (r.lang, r.id): (r.pa, r.pb)
        for r in df.select(
            "lang", "id", native("a").alias("pa"), native("b").alias("pb")
        ).collect()
    }
    for layout in (df, df.repartition(13)):
        got = {
            (r.lang, r.id): (r.pr_a, r.pr_b)
            for r in chunked_percent_ranks(
                layout, "lang", ["a", "b"], ["id"], n_chunks=4
            ).collect()
        }
        assert got == want  # exact double equality, not approx
    assert want[("xx", 2000)] == (0.0, 0.0)


def test_chunked_exclusive_prefix_equals_native_window(spark):
    """The shared x50/x31 packing kernel: the chunked two-pass
    exclusive running sum must equal Spark's native exclusive-cumsum
    window exactly — global (no part_cols) and per-key, with a
    heavily skewed key, across partition layouts."""
    from pyspark.sql import Window

    from dbx_workspace_and_emr_iceberg_spark.operators.skew import (
        chunked_exclusive_prefix,
    )

    rows = [("en", i, (i * 13) % 97 + 1) for i in range(500)]  # hot key
    rows += [("fr", 1000 + i, i + 1) for i in range(9)]
    rows += [("xx", 2000, 5)]  # singleton
    df = spark.createDataFrame(rows, "lang string, id long, n long")

    def native(part_cols):
        w = (
            Window.partitionBy(*part_cols)
            .orderBy("id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return {
            r.id: r.e
            for r in df.select(
                "id", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("e")
            ).collect()
        }

    for part_cols in ((), ("lang",)):
        want = native(part_cols)
        for layout in (df, df.repartition(13)):
            got = {
                r.id: r.excl
                for r in chunked_exclusive_prefix(
                    layout, "id", "n", part_cols=part_cols, n_chunks=4
                ).collect()
            }
            assert got == want, part_cols
    # the singleton key's only row has an empty exclusive prefix
    assert native(("lang",))[2000] == 0

    # plan shape: the bounded offsets frame must come back via a
    # broadcast join (never a shuffle of the corpus side), and the
    # only window must be chunk-partitioned
    from dbx_workspace_and_emr_iceberg_spark.plans import explain as X

    out = chunked_exclusive_prefix(df, "id", "n", part_cols=("lang",))
    X.assert_windows_partitioned_by(out, "chunk", "kernel")
    plan = X.simple_plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_chunked_exclusive_prefix_contract_guards(spark):
    """ADVICE r12: the shared kernel must fail FAST, not silently
    corrupt, when (a) the input already carries an internal column
    name, or (b) a part/order/sum column is NULL (the null-unsafe
    offsets join would otherwise drop those rows)."""
    import pytest

    from dbx_workspace_and_emr_iceberg_spark.operators.skew import (
        chunked_exclusive_prefix,
    )

    ok = spark.createDataFrame(
        [("en", i, 1) for i in range(10)], "lang string, id long, n long"
    )
    with pytest.raises(ValueError, match="chunk"):
        chunked_exclusive_prefix(
            ok.withColumnRenamed("lang", "chunk"), "id", "n"
        )
    with pytest.raises(ValueError, match="__off"):
        chunked_exclusive_prefix(ok.withColumn("__off", F.lit(1)), "id", "n")

    null_key = spark.createDataFrame(
        [("en", 1, 1), (None, 2, 1)], "lang string, id long, n long"
    )
    with pytest.raises(ValueError, match="non-NULL"):
        chunked_exclusive_prefix(null_key, "id", "n", part_cols=("lang",))
    null_sum = spark.createDataFrame(
        [("en", 1, 1), ("en", 2, None)], "lang string, id long, n long"
    )
    with pytest.raises(ValueError, match="non-NULL"):
        chunked_exclusive_prefix(null_sum, "id", "n", part_cols=("lang",))
    null_order = spark.createDataFrame(
        [("en", 1, 1), ("en", None, 1)], "lang string, id long, n long"
    )
    with pytest.raises(ValueError, match="non-NULL"):
        chunked_exclusive_prefix(null_order, "id", "n", part_cols=("lang",))
    # and a clean frame still goes through the guarded path unchanged
    got = {
        r.id: r.excl
        for r in chunked_exclusive_prefix(
            ok, "id", "n", part_cols=("lang",), n_chunks=3
        ).collect()
    }
    assert got == {i: i for i in range(10)}


def test_salted_top_k_rank_col_matches_window_rank(spark):
    """rank_col exposes phase 2's per-key rank; it must equal the
    single-window row_number for a total order."""
    from pyspark.sql import Window

    from dbx_workspace_and_emr_iceberg_spark.operators.skew import (
        salted_top_k,
    )

    df = spark.createDataFrame(
        [("k", i, (i * 13) % 31) for i in range(60)], "k string, id long, v long"
    )
    order = [F.col("v").desc(), F.col("id")]
    w = Window.partitionBy("k").orderBy(*order)
    want = {
        (r.k, r.id): r.rk
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 5")
        .collect()
    }
    got = {
        (r.k, r.id): r.lang_rank
        for r in salted_top_k(
            df, ["k"], order, 5, n_salts=4, rank_col="lang_rank"
        ).collect()
    }
    assert got == want


def test_int_semdedup_fixpoint_handles_chains_like_greedy(spark):
    """x20's fixpoint unroll must reproduce greedy keep-first through a
    similarity CHAIN a–b–c (a~b, b~c, a!~c): greedy keeps a, drops b,
    then KEEPS c because its only similar predecessor was dropped. A
    naive 'drop anything with a smaller similar neighbor' rule would
    wrongly drop c. Also exercises the loud greedy-equality assert."""
    import math

    import numpy as np

    from dbx_workspace_and_emr_iceberg_spark.operators.semantic import (
        int_semdedup_keep,
    )

    def q(deg):
        v = np.array([math.cos(math.radians(deg)), math.sin(math.radians(deg))])
        vq = np.floor(v * 10_000 + 0.5).astype("int64")
        return [int(x) for x in vq], int((vq * vq).sum())

    rows = []
    for vid, deg in [(1, 0.0), (2, 7.0), (3, 14.0)]:  # θ=0.99 ≈ 8.1°
        vq, n2 = q(deg)
        rows.append((vid, 0, vq, n2))
    rows.append((10, 1, q(90.0)[0], q(90.0)[1]))  # other cluster untouched
    df = spark.createDataFrame(
        rows, "vec_id long, cluster int, vq array<long>, n2 long"
    )
    got = {r.vec_id: r.keep for r in int_semdedup_keep(df).collect()}
    assert got == {1: 1, 2: 0, 3: 1, 10: 1}


def test_table_profile_approx_default_tracks_exact(spark):
    """x25's scale default: approx_count_distinct profile must agree
    with the exact profile on null counts and min/max exactly, and on
    distinct counts within HLL++ default rsd (~5%)."""
    from dbx_workspace_and_emr_iceberg_spark.queries.extras import (
        table_profile,
    )

    df = spark.range(0, 5000).selectExpr(
        "id", "id % 97 AS k", "CASE WHEN id % 10 = 0 THEN NULL ELSE id % 7 END AS s"
    )
    cols = ["id", "k", "s"]
    exact = table_profile(df, cols, exact=True).collect()[0].asDict()
    approx = table_profile(df, cols).collect()[0].asDict()
    for c in cols:
        assert approx[f"{c}__null"] == exact[f"{c}__null"]
        assert approx[f"{c}__min"] == exact[f"{c}__min"]
        assert approx[f"{c}__max"] == exact[f"{c}__max"]
        nd_e, nd_a = exact[f"{c}__nd"], approx[f"{c}__nd"]
        assert abs(nd_a - nd_e) <= max(2, 0.1 * nd_e), (c, nd_e, nd_a)


def test_qd6_mega_basket_cap_bounds_pairs(spark):
    """The per-basket cap must bound pair output quadratically in the
    CAP, not the basket: a synthetic mega-basket contributes exactly
    C(cap, 2) pairs from its lowest part keys, and small baskets are
    untouched."""
    from dbx_workspace_and_emr_iceberg_spark.queries.tpch_suite3 import (
        qd6_basket_pair_counts,
    )

    rows = [(1, p) for p in range(200)]  # mega-basket, parts 0..199
    rows += [(2, 5), (2, 9)]  # normal basket
    items = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    cap = 10
    got = qd6_basket_pair_counts(items, cap).collect()
    # C(cap,2) pairs from the mega-basket; basket 2's (5,9) merges into
    # the mega-basket's own (5,9) pair with count 2
    assert len(got) == cap * (cap - 1) // 2
    # survivors come from the LOWEST part keys (deterministic rule)
    assert max(max(r.part_a, r.part_b) for r in got) < cap
    assert {(r.part_a, r.part_b): r.n_baskets for r in got}[(5, 9)] == 2


def test_unimax_waterfill_hand_example(spark):
    """Waterfill on a hand-computable example: strata sizes 10/20/1000,
    epoch cap 2, budget = 50% of 1030 = 515. Ascending: 10 capped
    (2*10*3=60 <= 515), 20 capped (2*20*2=80 <= 515-20*... ), big one
    gets the remainder."""
    from dbx_workspace_and_emr_iceberg_spark.queries.extras import (
        unimax_waterfill,
    )

    strata = spark.createDataFrame(
        [("a", 10), ("b", 20), ("c", 1000)], "k string, s long"
    )
    got = {
        r.k: (r.alloc_chars, r.epochs_bp)
        for r in unimax_waterfill(strata, ["k"], 2, 1, 2).collect()
    }
    # budget = 1030 // 2 = 515; a: 2*10=20 (fits: 20*3=60<=515);
    # b: 2*20=40 (40*2=80 <= 515-20=495); c: share = 515-60 = 455
    assert got == {"a": (20, 20000), "b": (40, 20000), "c": (455, 4550)}


def test_unimax_waterfill_all_capped_no_div_zero(spark):
    """Budget exceeding every stratum's epoch cap must allocate E*s
    everywhere and never evaluate the equal-share division (n-k = 0
    with ANSI mode on would raise)."""
    from dbx_workspace_and_emr_iceberg_spark.queries.extras import (
        unimax_waterfill,
    )

    strata = spark.createDataFrame(
        [("a", 10), ("b", 20)], "k string, s long"
    )
    # budget = 30 * 10 = 300 >= 2*30
    got = {
        r.k: r.alloc_chars
        for r in unimax_waterfill(strata, ["k"], 2, 10, 1).collect()
    }
    assert got == {"a": 20, "b": 40}


def test_funnel_stages_enforces_time_order(spark):
    """A user whose purchase precedes their click must count for
    signup/view/click but NOT purchase; a fully ordered user counts
    everywhere; a user who never signed up counts nowhere."""
    from dbx_workspace_and_emr_iceberg_spark.queries.tpch_suite3 import (
        funnel_stages,
    )

    rows = [
        # user 1: fully ordered
        (1, "signup", "2024-01-01 00:00:00"),
        (1, "view", "2024-01-01 01:00:00"),
        (1, "click", "2024-01-01 02:00:00"),
        (1, "purchase", "2024-01-01 03:00:00"),
        # user 2: purchase BEFORE click -> stops at click
        (2, "signup", "2024-01-01 00:00:00"),
        (2, "view", "2024-01-01 01:00:00"),
        (2, "purchase", "2024-01-01 01:30:00"),
        (2, "click", "2024-01-01 02:00:00"),
        # user 3: no signup -> never enters the funnel
        (3, "view", "2024-01-01 00:00:00"),
        (3, "click", "2024-01-01 01:00:00"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r.stage_name: (r.n_users, r.conv_bp)
        for r in funnel_stages(
            ev, ["signup", "view", "click", "purchase"]
        ).collect()
    }
    assert got == {
        "signup": (2, 10000),
        "view": (2, 10000),
        "click": (2, 10000),
        "purchase": (1, 5000),
    }


def test_funnel_stages_ties_not_counted(spark):
    """Strictly-after semantics: a same-timestamp next-stage event does
    NOT advance the funnel (ts > t, not >=)."""
    from dbx_workspace_and_emr_iceberg_spark.queries.tpch_suite3 import (
        funnel_stages,
    )

    rows = [
        (1, "signup", "2024-01-01 00:00:00"),
        (1, "view", "2024-01-01 00:00:00"),  # tie -> no advance
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r.stage_name: r.n_users
        for r in funnel_stages(ev, ["signup", "view"]).collect()
    }
    assert got == {"signup": 1, "view": 0}


def test_funnel_stages_dead_stage_yields_null_conversion(spark):
    """A dead stage (0 users) must produce NULL conversion for the
    next stage, not an ANSI DIVIDE_BY_ZERO abort (review-pass
    finding)."""
    from dbx_workspace_and_emr_iceberg_spark.queries.tpch_suite3 import (
        funnel_stages,
    )

    rows = [
        (1, "signup", "2024-01-01 00:00:00"),
        (1, "click", "2024-01-01 01:00:00"),  # no 'view' anywhere
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r.stage_name: (r.n_users, r.conv_bp)
        for r in funnel_stages(ev, ["signup", "view", "click"]).collect()
    }
    assert got["signup"] == (1, 10000)
    assert got["view"] == (0, 0)
    # previous stage had 0 users -> conversion undefined -> NULL
    assert got["click"] == (0, None)


def test_x46_survives_one_word_documents(spark, tmp_path):
    """A document with a single symbol has no pairs: Spark's
    sequence(1, 0) is the DESCENDING [1, 0] and element_at(arr, 0)
    raises — the clamp+null-filter guard must keep x46 alive and the
    merges correct (review-pass finding)."""
    from dbx_workspace_and_emr_iceberg_spark.queries.text_queries import (
        x46_bpe_merges,
    )

    rows = [
        (1, "solo", "en", "s", 4),  # one word -> zero pairs
        (2, "a b a b a b", "en", "s", 11),
        (3, "a b c a b", "en", "s", 9),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = x46_bpe_merges(spark, str(tmp_path)).collect()
    assert len(got) == 4
    # first merge is the most frequent adjacent pair (a, b) x5
    assert (got[0].sa, got[0].sb, got[0].c) == ("a", "b", 5)


def test_stream_anti_history_bloom_path_over_threshold(spark):
    """stream_anti_history (t18's primitive): when the history exceeds
    broadcast_max, the bloom+slice-join path runs by default and
    returns EXACTLY the anti-join rows — no false negatives ever, and
    false positives resolved by the exact join on the flagged slice
    (r9 verdict #5)."""
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.streaming.jobs import (
        stream_anti_history,
    )

    hist = spark.range(3000).select(
        F.md5(F.col("id").cast("string")).alias("digest")
    )
    # stream: ids 1500..4499 — half overlap the history, half are new
    stream = spark.range(1500, 4500).select(
        F.col("id").alias("sid"),
        F.md5(F.col("id").cast("string")).alias("digest"),
    )
    expected = sorted(
        r.sid
        for r in stream.join(hist, "digest", "left_anti").collect()
    )
    # history (3000) > broadcast_max (1000): bloom path chosen WITHOUT
    # force_bloom — it is the default at scale
    got = sorted(
        r.sid
        for r in stream_anti_history(
            stream, hist, "digest", broadcast_max=1000
        ).collect()
    )
    assert got == expected and len(got) == 1500
    # small-history fast path returns the identical answer
    got_fast = sorted(
        r.sid
        for r in stream_anti_history(
            stream, hist, "digest", broadcast_max=10_000
        ).collect()
    )
    assert got_fast == expected


def test_probe_bloom_null_shingle_array(spark):
    """A NULL shingles array must probe as an empty doc (n_shingles=0,
    n_hits=0) WITHOUT corrupting sibling docs in the same Arrow batch —
    the vectorized offsets math once saw F.size(NULL) and silently
    zeroed a neighbor's hits (review-pass finding)."""
    from dbx_workspace_and_emr_iceberg_spark.operators.bloom import (
        build_bloom,
        probe_bloom,
    )

    keys = spark.createDataFrame([("k1",), ("k2",)], "s string")
    bitmap = build_bloom(keys, "s", m_bits=1 << 16, k=5)
    probe = spark.createDataFrame(
        [(1, None), (2, ["k1", "k2"]), (3, []), (4, ["k1", "nope"])],
        "doc_id long, sh array<string>",
    ).coalesce(1)  # one batch: the corruption mode needs co-residents
    out = {
        r.doc_id: r
        for r in probe_bloom(probe, "sh", bitmap, 1 << 16, 5).collect()
    }
    assert (out[1].n_shingles, out[1].n_hits) == (0, 0)
    assert (out[2].n_shingles, out[2].n_hits) == (2, 2), out[2]
    assert (out[3].n_shingles, out[3].n_hits) == (0, 0)
    assert out[4].n_shingles == 2 and out[4].n_hits >= 1


def test_stream_anti_history_auto_bloom_sizing():
    """The m_bits auto-sizing formula (r11): power of two >= 16*n_hist,
    clamped to [2^16, 2^27] — pinned at the boundaries so a refactor
    can't silently undersize (false-positive blowup) or oversize
    (512 KB-partial regression, r10 bench) the bloom. Pins the
    IMPLEMENTATION (ADVICE r11) — a drift in stream_anti_history's
    sizing now fails here, not only in a bench regression."""
    from dbx_workspace_and_emr_iceberg_spark.streaming.jobs import (
        _auto_m_bits as size,
    )
    assert size(0) == 1 << 16
    assert size(1) == 1 << 16
    assert size(4096) == 1 << 16          # 16*4096 = 2^16 exactly
    assert size(4097) == 1 << 17          # first count past the boundary
    assert size(3330) == 1 << 16          # the sf0.1 t18 history
    assert size(10**9) == 1 << 27         # clamp: never past 16 MB bitmap
    for n in (5, 100, 12345, 999_999):
        m = size(n)
        assert m >= 16 * n or m == 1 << 27
        assert m & (m - 1) == 0            # power of two


def test_md5_band_frame_matches_sql_chain_random_corpus(spark):
    """Cross-engine pin for the r13 band-geometry parameterization at a
    THIRD geometry no registered query uses (8 seeds x 2 rows): the
    Spark band frame and the DuckDB CTE chain must agree band-for-band
    on a seeded random corpus, including the planted near-dups and the
    < 3-word filter boundary. The fixture-corpus oracle tests pin 16x2
    and 16x4; this catches a parameterization bug those geometries
    would mask (e.g. a hardcoded seed count surviving in one side)."""
    import random

    import duckdb
    import pandas as pd

    from dbx_workspace_and_emr_iceberg_spark.queries.dedup_queries import (
        _md5_band_frame,
        _md5_lsh_ctes,
        _planted_near_dups,
    )

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(25)]
    texts = []
    for i in range(40):
        # lengths 1..12 words: exercise the >= 3-shingle-word filter
        # boundary on BOTH sides (1- and 2-word docs must vanish)
        n = rng.choice([1, 2, 3, 3, 4, 6, 8, 12])
        texts.append(" ".join(rng.choice(vocab) for _ in range(n)))
    pdf = pd.DataFrame({"doc_id": pd.array(range(0, 80, 2), dtype="int64"),
                        "text": texts})

    d = spark.createDataFrame(pdf)
    corpus = d.unionByName(_planted_near_dups(d))
    got = {
        (r.doc_id, int(r.band_id), r.band_val)
        for r in _md5_band_frame(corpus, seeds=8, rows=2).collect()
    }

    con = duckdb.connect()
    con.register("documents", pdf)
    sql = (
        "WITH "
        + _md5_lsh_ctes(8, 2)
        + " SELECT doc_id, band_id, band_val FROM bands"
    )
    want = {(int(a), int(b), c) for a, b, c in con.execute(sql).fetchall()}
    con.close()

    assert got == want
    # the geometry actually took effect: 4 bands per surviving doc
    assert {b for (_, b, _) in got} == {0, 1, 2, 3}


def test_x33_x36_salted_path_parity(spark, tmp_path):
    """The salted=True quota path (r14, VERDICT r13 #4: the mega-host
    respell as CODE, not prose) must return EXACTLY the default
    group-limited-window result on a planted mega-host fixture: one
    pathologically hot source (200 docs vs the quota of 15) plus two
    cold ones, total order guaranteed by the doc_id tie-break.
    The duplicate text is the LONGEST doc, so copies of it fill the
    hot host's quota (15 identical survivors, 14 more quota-dropped) —
    x36's span accounting must fire on the survivors through both
    paths (asserted below; review-pass r14 — a shorter dup text let
    the quota cut every copy, making the span stage vacuously zero)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbx_workspace_and_emr_iceberg_spark.queries.dedup_queries import (
        x36_governance_pipeline,
    )
    from dbx_workspace_and_emr_iceberg_spark.queries.text_queries import (
        x33_host_quota,
    )

    rows = []
    dup = " ".join(f"d{j}" for j in range(60))  # ~290 chars > any filler
    for i in range(200):  # mega-host: 200 docs, quota 15
        text = dup if i % 7 == 0 else " ".join(f"h{i}w{j}" for j in range(20))
        rows.append((i, text, "en", "mega", len(text)))
    for s, base in (("cold_a", 1000), ("cold_b", 2000)):
        for i in range(5):
            text = " ".join(f"{s}{i}w{j}" for j in range(12))
            rows.append((base + i, text, "en", s, len(text)))
    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(cols[0], pa.int64()),
                "text": pa.array(cols[1], pa.string()),
                "lang": pa.array(cols[2], pa.string()),
                "source": pa.array(cols[3], pa.string()),
                "n_chars": pa.array(cols[4], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )

    sf = str(tmp_path)
    for fn in (x33_host_quota, x36_governance_pipeline):
        plain = sorted(map(tuple, fn(spark, sf).collect()))
        for n_salts in (1, 5):  # degenerate single-salt + real split
            got = sorted(
                map(tuple, fn(spark, sf, salted=True, n_salts=n_salts).collect())
            )
            assert got == plain, (fn.__name__, n_salts)
    # the planted skew actually bit: the mega host dropped rows, and
    # the span stage saw surviving duplicates (non-vacuous coverage)
    mega = [r for r in plain if r[0] == "mega.example.org"]
    assert mega and mega[0][1] == 200  # n_candidates (x36 is last fn)
    assert mega[0][3] > 0, mega  # n_dupspan_dropped among survivors


# --- review-pass r16: operator latent bugs (each reproduced first) ----------


def test_asof_join_null_keys_never_match(spark):
    """Equi-join NULL semantics (SQL/DuckDB ASOF): NULL != NULL. The
    union+window carry grouped NULL keys into one partition, handing a
    NULL-key left row a NULL-key right row's payload; the bucketed
    variant additionally DISAGREED with the plain one on the same
    input (review-pass r16, reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.operators.asof import (
        asof_join_bucketed,
    )

    l = spark.createDataFrame(
        [(None, 10, 0), (1, 10, 1)], "k int, lts int, rowid int"
    )
    r = spark.createDataFrame(
        [(None, 9, 99), (1, 9, 42)], "k int, rts int, v int"
    )
    plain = {
        row.rowid: row.v_right
        for row in asof_join(l, r, on="k", left_ts="lts", right_ts="rts").collect()
    }
    assert plain == {0: None, 1: 42}
    bucketed = {
        row.rowid: row.v_right
        for row in asof_join_bucketed(
            l, r, on="k", left_ts="lts", right_ts="rts", bucket_s=100
        ).collect()
    }
    assert bucketed == plain


def test_cosine_zero_norm_never_ranks(spark):
    """A zero embedding used to raise DIVIDE_BY_ZERO (ANSI) in the JVM
    path and rank top-1 via NaN in the vectorized path; both now score
    it NULL/-inf so it never outranks a real match (review-pass r16,
    reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_vectorized,
    )

    docs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame(
        [(100, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    for fn in (cosine_topk, cosine_topk_vectorized):
        top = fn(docs, q, k=1).collect()
        assert [r.neighbor_id for r in top] == [1], fn.__name__
    # ADVICE r16: when a zero-norm pair still lands in the returned
    # top-k (fewer than k real candidates), BOTH documented-equivalent
    # paths must emit NULL for the undefined cosine — the vectorized
    # path used to leak its internal -inf sentinel
    for fn in (cosine_topk, cosine_topk_vectorized):
        rows = {r.neighbor_id: r.cosine for r in fn(docs, q, k=3).collect()}
        assert rows[3] is None, f"{fn.__name__}: zero-norm cosine {rows[3]}"


def test_minhash_lsh_rejects_non_dividing_bands(spark):
    """bands > num_hashes made every band slice EMPTY -> every doc
    collided with every doc (O(n^2) all-pairs, silently); trailing
    hashes were silently dropped when bands didn't divide num_hashes
    (review-pass r16, reproduced)."""
    d = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divide"):
        minhash_lsh_pairs(d, "doc_id", "text", num_hashes=8, bands=16)
    with pytest.raises(ValueError, match="divide"):
        minhash_lsh_pairs(d, "doc_id", "text", num_hashes=32, bands=5)


def test_connected_components_null_ids_raise(spark):
    """NULL node ids silently VANISHED (the pointer-jump inner join on
    lbl never matches NULL) — now a loud contract error riding the
    first action (review-pass r16, reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame([(1, None)], "src int, dst int")
    with pytest.raises(Exception, match="NULL node id"):
        connected_components(edges).collect()


def test_pagerank_empty_vertex_set_raises(spark):
    from dbx_workspace_and_emr_iceberg_spark.operators.components import (
        pagerank,
    )

    with pytest.raises(ValueError, match="empty vertex set"):
        pagerank(spark.createDataFrame([], "src int, dst int"))


def test_probe_bloom_respects_id_col(spark):
    """The output id column keeps the CALLER's name and type — the old
    hard-coded 'doc_id bigint' crashed Arrow conversion for string ids
    (review-pass r16, reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.operators.bloom import (
        build_bloom,
        probe_bloom,
    )

    docs = spark.createDataFrame(
        [("sha1", ["a", "b"]), ("sha2", ["c"])],
        "content_sha string, sh array<string>",
    )
    bm = build_bloom(
        spark.createDataFrame([("a",), ("b",)], "s string"), "s"
    )
    out = probe_bloom(docs, "sh", bm, id_col="content_sha")
    assert "content_sha" in out.columns
    got = {r.content_sha: r.n_hits for r in out.collect()}
    assert got == {"sha1": 2, "sha2": 0}


def test_salted_and_binned_reject_reserved_columns(spark):
    """Pre-existing __salt/__bin columns were silently replaced and
    then dropped from the output (review-pass r16, reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.operators.range_join import (
        range_join_binned,
    )
    from dbx_workspace_and_emr_iceberg_spark.operators.skew import (
        salted_top_k,
    )

    big = spark.createDataFrame([(1, 10, 7)], "k int, x int, __salt int")
    small = spark.createDataFrame([(1, 5)], "k int, y int")
    with pytest.raises(ValueError, match="__salt"):
        salted_join(big, small, on="k", n_salts=4)
    with pytest.raises(ValueError, match="__salt"):
        salted_top_k(big, key_cols=["k"], order_cols=[F.col("x")], k=1)
    pts = spark.createDataFrame([(1, 7)], "p int, __bin int")
    iv = spark.createDataFrame([(0, 5)], "lo int, hi int")
    with pytest.raises(ValueError, match="__bin"):
        range_join_binned(pts, iv, "p", "lo", "hi", bin_width=2)


def test_chunked_percent_ranks_single_chunk(spark):
    """n_chunks=1 used to die inside approxQuantile on an empty
    probability list (review-pass r16, reproduced) — now the
    single-chunk degenerate case matches the n_chunks=8 answer."""
    from dbx_workspace_and_emr_iceberg_spark.operators.skew import (
        chunked_percent_ranks,
    )

    df = spark.createDataFrame(
        [(i, "p", float(i % 5)) for i in range(20)],
        "id long, part string, v double",
    )
    one = {
        r.id: r.pr_v
        for r in chunked_percent_ranks(
            df, part_col="part", value_cols=["v"], id_cols=["id"], n_chunks=1
        ).collect()
    }
    eight = {
        r.id: r.pr_v
        for r in chunked_percent_ranks(
            df, part_col="part", value_cols=["v"], id_cols=["id"], n_chunks=8
        ).collect()
    }
    assert one == eight
    # ADVICE r16: n_chunks < 1 is an invalid argument, not a silent
    # degrade to the single-chunk case
    for bad in (0, -3):
        with pytest.raises(ValueError, match="n_chunks"):
            chunked_percent_ranks(
                df, part_col="part", value_cols=["v"], id_cols=["id"],
                n_chunks=bad,
            )


def test_ivf_topk_corpus_smaller_than_centroids(spark):
    """n_centroids now clamps to the corpus size instead of an
    IndexError in the centroid update buffers (review-pass r16,
    reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.operators.similarity import (
        ivf_topk,
    )

    docs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame(
        [(100, [1.0, 1.0])], "vec_id long, embedding array<float>"
    )
    assert ivf_topk(docs, q, k=2, n_centroids=16).count() == 2


def test_a13_extremum_tie_is_deterministic(spark, tmp_path):
    """Planted extremum ties: two orders share the max price and two the
    min price within one priority — the composite struct orderer must
    pick the largest key among max-ties and the smallest among min-ties
    in BOTH engines (review-pass r17, reproduced: the shipped fixtures
    carry within-group price ties — 61 groups at sf0.1 — but none at an
    extremum yet, so the driver gate was green by luck, and a bare
    max_by/arg_max would break engine-arbitrarily the first time a tie
    lands on an extremum)."""
    import duckdb

    rows = [
        (1, "1-URGENT", 500.0, "F"),
        (2, "1-URGENT", 500.0, "O"),  # max tie -> largest key: 2
        (3, "1-URGENT", 100.0, "F"),
        (4, "1-URGENT", 50.0, "F"),  # min tie -> smallest key: 4
        (5, "1-URGENT", 50.0, "O"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_orderpriority string, "
        "o_totalprice double, o_orderstatus string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    from dbx_workspace_and_emr_iceberg_spark.registry import all_queries

    q = all_queries()["a13_selector_aggs"]
    [r] = q.fn(spark, str(tmp_path)).collect()
    assert (r.biggest_order, r.smallest_order) == (2, 4)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * "
        f"FROM read_parquet('{tmp_path}/orders.parquet/*.parquet')"
    )
    [d] = con.execute(q.oracle).fetchall()
    assert (d[1], d[2]) == (2, 4)


def test_adjacent_bigrams_match_lead_window(spark):
    """The r19 map-side bigram derivation must produce exactly the
    multiset the old posexplode + lead()-window spelling produced —
    including the <2-token edge cases the w2-IS-NULL filter used to
    drop (x22/x43 ride on this equivalence)."""
    from pyspark.sql import Window

    from dbx_workspace_and_emr_iceberg_spark.queries.text_queries import (
        _adjacent_bigrams,
    )

    d = spark.createDataFrame(
        [
            (1, "en", "a b c d"),
            (2, "fr", "x"),          # single token -> no pairs
            (3, "en", ""),           # split('') == [''] -> no pairs
            (4, "de", "p q"),
            (5, "en", "a a a"),      # repeated tokens keep multiplicity
        ],
        "doc_id long, lang string, text string",
    )
    new = [
        (r.doc_id, r.lang, r.w1, r.w2)
        for r in _adjacent_bigrams(d, ["doc_id", "lang"]).collect()
    ]
    words = d.select(
        "doc_id", "lang", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    old = [
        (r.doc_id, r.lang, r.word, r.w2)
        for r in words.withColumn("w2", F.lead("word").over(w))
        .filter(F.col("w2").isNotNull())
        .collect()
    ]
    assert sorted(new) == sorted(old)


def test_md5_band_frame_matches_explode_spelling(spark):
    """The r19 one-aggregate signature respell must reproduce the old
    explode(sequence(0, seeds-1)) + groupBy(doc_id, s) + collect_list
    band digests value-for-value (x2/x2e/x12b ride on this), and the
    new complete-band guard must reject a non-dividing geometry."""
    from dbx_workspace_and_emr_iceberg_spark.queries.dedup_queries import (
        _md5_band_frame,
    )

    d = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),
            (3, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.band_id): r.band_val
        for r in _md5_band_frame(d, seeds=4, rows=2).collect()
    }
    # straight reimplementation of the pre-r19 algorithm
    from dbx_workspace_and_emr_iceberg_spark.queries.text_queries import (
        _padded_ngrams,
    )

    corpus = d.withColumn("__words", F.split("text", " "))
    sh = (
        corpus.filter(F.size(F.col("__words")) >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(_padded_ngrams(F.col("__words"), 3))
            ).alias("shingle"),
        )
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
            .cast("long")
            .alias("h1"),
            F.conv(F.substring(F.md5("shingle"), 9, 8), 16, 10)
            .cast("long")
            .alias("h2"),
        )
    )
    sig = (
        sh.select(
            "doc_id", "h1", "h2",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("s"),
        )
        .groupBy("doc_id", "s")
        .agg(
            F.min(
                (F.col("h1") + F.col("s") * F.col("h2")) % F.lit(4294967296)
            ).alias("mh")
        )
    )
    want = {
        (r.doc_id, r.band_id): r.band_val
        for r in sig.withColumn("band_id", F.expr("s div 2"))
        .groupBy("doc_id", "band_id")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("s", "mh"))),
                        lambda x: x["mh"].cast("string"),
                    ),
                    ",",
                )
            ).alias("band_val")
        )
        .collect()
    }
    assert got == want and len(got) == 6  # 3 docs x 2 bands

    with pytest.raises(ValueError, match="multiple of rows"):
        _md5_band_frame(d, seeds=5, rows=2)


def test_x44_mapside_line_stats_match_window_spelling(spark):
    """The r20 map-side x44 respell (array HOFs for occ + reassembly)
    must reproduce the old explode + row_number-window + groupBy
    spelling's per-doc stats and kept digest value-for-value —
    including short trailing lines, blocked lines, a within-doc
    duplicate line, and a doc with no lines dropped."""
    from pyspark.sql import Window

    d = spark.createDataFrame(
        [
            # 16 tokens, line 0 == line 1 (the planted-dup shape)
            (1, " ".join(["w%d" % (i % 8) for i in range(16)])),
            # blocked token in line 0, short trailing line
            (2, "a value c d e f g h tail1 tail2"),
            # nothing dropped: one full clean line
            (3, "p q r s t u v w"),
            # short-only doc (3 tokens -> one short line)
            (4, "x y z"),
        ],
        "doc_id long, text string",
    )

    # --- old spelling (pre-r20), verbatim ---
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    lines = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.size("t") - 1) / 8.0).cast("int"))
        ).alias("i"),
        "t",
    ).select(
        "doc_id", "i", F.slice(F.col("t"), F.col("i") * 8 + 1, 8).alias("lw")
    )
    ruled = lines.select(
        "doc_id",
        "i",
        F.array_join("lw", " ").alias("line"),
        (F.size("lw") < 5).cast("long").alias("short_f"),
        F.array_contains("lw", "value").cast("long").alias("blocked_f"),
    ).withColumn(
        "occ",
        F.row_number().over(
            Window.partitionBy("doc_id", F.md5("line")).orderBy("i")
        ),
    )
    flagged = ruled.withColumn(
        "keep_f",
        (
            (F.col("short_f") == 0)
            & (F.col("blocked_f") == 0)
            & (F.col("occ") == 1)
        ).cast("long"),
    )
    old = {
        r.doc_id: (
            r.n_lines, r.n_kept, r.n_short, r.n_blocked, r.n_dup,
            r.kept_digest,
        )
        for r in flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("keep_f").alias("n_kept"),
            F.sum("short_f").alias("n_short"),
            F.sum("blocked_f").alias("n_blocked"),
            F.sum((F.col("occ") > 1).cast("long")).alias("n_dup"),
            F.md5(
                F.coalesce(
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.when(
                                        F.col("keep_f") == 1,
                                        F.struct("i", "line"),
                                    )
                                )
                            ),
                            lambda s: s["line"],
                        ),
                        " ",
                    ),
                    F.lit(""),
                )
            ).alias("kept_digest"),
        )
        .collect()
    }

    # --- new spelling: THE production kernel (x44 calls this exact
    # helper — review-pass r20: an inlined copy here could drift green
    # while the real query regressed) ---
    from dbx_workspace_and_emr_iceberg_spark.queries.text_queries import (
        _line_filter_stats,
    )

    toks2 = d.select("doc_id", F.split("text", " ").alias("t"))
    new = {
        r.doc_id: (
            r.n_lines, r.n_kept, r.n_short, r.n_blocked, r.n_dup,
            r.kept_digest,
        )
        for r in _line_filter_stats(toks2).collect()
    }
    assert new == old
    # the dup plant is non-vacuous in this fixture
    assert new[1][4] >= 1 and new[1][1] < new[1][0]


def test_pyds_range_batches_match_row_formula():
    """The r20 Arrow-vectorized synthetic-events reader must produce
    exactly the per-row tuples _row() produced — ids, int32 buckets,
    and bit-identical IEEE doubles — and yield nothing for an empty
    range (Spark plans one empty partition for an empty feed)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.pyds import (
        _range_batches,
        _row,
    )

    batches = list(_range_batches(100, 612))
    assert len(batches) == 1
    b = batches[0]
    assert b.schema.names == ["id", "bucket", "amount"]
    got = list(zip(*(b.column(i).to_pylist() for i in range(3))))
    want = [_row(i) for i in range(100, 612)]
    assert got == want
    import pyarrow as pa

    assert b.schema.types == [pa.int64(), pa.int32(), pa.float64()]
    assert list(_range_batches(7, 7)) == []


def test_x29_zero_norm_vector_raises(spark, tmp_path):
    """x29's JL check divides each vector's projected norm by its own
    norm in Spark, so a zero vector is an ANSI division by zero."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import ArithmeticException

    from dbx_workspace_and_emr_iceberg_spark.queries.similarity_queries import (
        x29_random_projection,
    )

    from tests.conftest import SF_DIR

    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    vecs = emb.column("embedding").to_pylist()
    vecs[0] = [0.0] * len(vecs[0])
    emb = emb.set_column(
        emb.schema.get_field_index("embedding"),
        emb.schema.field("embedding"),
        pa.array(vecs, emb.schema.field("embedding").type),
    )
    pq.write_table(emb, tmp_path / "embeddings.parquet")
    try:
        with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
            x29_random_projection(spark, str(tmp_path))
    finally:
        spark.catalog.clearCache()
