"""Property-based tests (hypothesis) for the custom operators whose
semantics Spark doesn't give us for free — the as-of join emulation and
the snapshot-layer CDC changelog. Randomized inputs vs a brute-force
Python reference; SURVEY.md §5's answer to "the reference has no tests".

Example counts are small because every example is a real Spark job; the
generators are biased toward the edges that matter (empty sides, tied
timestamps across keys, duplicate rows, op sequences ending in rewrite).
"""

from __future__ import annotations

import shutil
import tempfile
from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dbx_workspace_and_emr_iceberg_spark.operators.asof import asof_join
from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import LakehouseTable

#: includes None (r16): NULL join keys must never match — the review
#: pass found the union+window carry matching NULL to NULL, a case this
#: net could not see while it only generated 0..2
KEYS = st.one_of(st.none(), st.integers(min_value=0, max_value=2))
TS = st.integers(min_value=0, max_value=50)

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def asof_inputs(draw):
    left = draw(st.lists(st.tuples(KEYS, TS), max_size=12))
    # unique (key, ts) on the right: ties between right rows at the same
    # instant are unordered in any ASOF definition, so don't generate them
    # payload values include None: true ASOF row semantics must carry
    # the matched row's own NULL, never backfill it from an older row
    right_map = draw(
        st.dictionaries(
            st.tuples(KEYS, TS),
            st.one_of(st.none(), st.integers(-5, 5)),
            max_size=12,
        )
    )
    right = [(k, ts, v) for (k, ts), v in right_map.items()]
    return left, right


@given(asof_inputs(), st.sampled_from(["backward", "forward"]))
@SLOW
def test_asof_join_matches_bruteforce(spark, case, direction):
    left, right = case
    ldf = spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(left)], "k int, lts int, rowid int"
    )
    rdf = spark.createDataFrame(right, "k int, rts int, v int")
    # assert on (ts, v) pairs: checking v alone cannot distinguish "the
    # matched row's payload is NULL" (correct) from "no match" (a bug)
    got = {
        r.rowid: (r.rts_right, r.v_right)
        for r in asof_join(
            ldf, rdf, on="k", left_ts="lts", right_ts="rts", direction=direction
        ).collect()
    }
    for i, (k, ts) in enumerate(left):
        # SQL equi-join NULL semantics: NULL never equals NULL — the
        # Python reference must not use bare ==, where None == None is
        # True (r16: the operator bug this net now pins)
        if direction == "backward":
            matches = [
                (rts, v)
                for (rk, rts, v) in right
                if k is not None and rk == k and rts <= ts
            ]
            want = max(matches) if matches else (None, None)
        else:
            matches = [
                (rts, v)
                for (rk, rts, v) in right
                if k is not None and rk == k and rts >= ts
            ]
            want = min(matches) if matches else (None, None)
        assert got[i] == want, f"row {i} key={k} ts={ts}: {got[i]} != {want}"


@given(asof_inputs(), st.sampled_from([3, 7, 10]), st.sampled_from([None, 6]))
@SLOW
def test_asof_bucketed_equals_plain(spark, case, bucket_s, tol):
    """The skew-proof bucketed variant must be answer-identical to the
    base operator for ANY input, bucket width, and tolerance — tiny
    buckets force many boundary crossings (the failure mode that
    matters); a tolerance smaller than the bucket width exercises
    seeds that carry across a bucket boundary only to be nulled."""
    from dbx_workspace_and_emr_iceberg_spark.operators.asof import (
        asof_join_bucketed,
    )

    left, right = case
    ldf = spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(left)], "k int, lts int, rowid int"
    )
    rdf = spark.createDataFrame(right, "k int, rts int, v int")
    plain = {
        r.rowid: (r.v_right, r.rts_right)
        for r in asof_join(
            ldf, rdf, on="k", left_ts="lts", right_ts="rts", tolerance_s=tol
        ).collect()
    }
    bucketed = {
        r.rowid: (r.v_right, r.rts_right)
        for r in asof_join_bucketed(
            ldf,
            rdf,
            on="k",
            left_ts="lts",
            right_ts="rts",
            bucket_s=bucket_s,
            tolerance_s=tol,
        ).collect()
    }
    assert bucketed == plain


class _Append:
    def __init__(self, rows):
        self.rows = rows


class _DeleteAbove:
    def __init__(self, threshold):
        self.threshold = threshold


class _Overwrite:
    def __init__(self, rows):
        self.rows = rows


ROWS = st.lists(st.integers(0, 9), min_size=1, max_size=6)
OPS = st.lists(
    st.one_of(
        ROWS.map(_Append),
        st.integers(0, 9).map(_DeleteAbove),
        ROWS.map(_Overwrite),
    ),
    min_size=1,
    max_size=4,
)


@given(ROWS, OPS)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_changelog_reconciles_any_op_sequence(spark, initial, ops):
    wh = tempfile.mkdtemp(prefix="lh_prop_")
    try:
        t = LakehouseTable(spark, wh, "t")
        t.create(spark.createDataFrame([(v,) for v in initial], "v int").coalesce(1))
        state = Counter(initial)
        for op in ops:
            if isinstance(op, _Append):
                t.append(
                    spark.createDataFrame([(v,) for v in op.rows], "v int").coalesce(1)
                )
                state.update(op.rows)
            elif isinstance(op, _DeleteAbove):
                t.delete_where(F.col("v") > op.threshold)
                state = Counter({v: n for v, n in state.items() if v <= op.threshold})
            else:
                t.overwrite(
                    spark.createDataFrame([(v,) for v in op.rows], "v int").coalesce(1)
                )
                state = Counter(op.rows)
        chg = t.changelog(0).collect()
        net = Counter()
        for r in chg:
            net[r.v] += 1 if r._change_type == "INSERT" else -1
        assert net == state, f"changelog net {dict(net)} != state {dict(state)}"
    finally:
        shutil.rmtree(wh, ignore_errors=True)


@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)), max_size=25
    ),
    st.integers(16, 20),
)
@SLOW
def test_connected_components_matches_union_find(spark, edge_list, n_extra):
    """Min-label-propagation + pointer-jumping CC vs a driver-side
    union-find: same components for ANY graph — self-loops, duplicate
    edges, both-direction duplicates, isolated nodes (the `nodes`
    universe includes ids the edge list never mentions)."""
    from dbx_workspace_and_emr_iceberg_spark.operators.components import (
        connected_components,
    )

    universe = list(range(n_extra))  # covers all edge endpoints (<=15)
    parent = {n: n for n in universe}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edge_list:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    want = {n: find(n) for n in universe}
    # canonicalize to min member per component
    comp_min = {}
    for n, r in want.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    want = {n: comp_min[r] for n, r in want.items()}

    edges = spark.createDataFrame(
        edge_list or [(0, 0)], "src int, dst int"
    )
    if not edge_list:
        edges = edges.filter("src > 999")  # genuinely empty edge frame
    nodes = spark.createDataFrame([(n,) for n in universe], "doc int")
    got = {
        r.node: r.component
        for r in connected_components(
            edges, "src", "dst", nodes=nodes, node_col="doc"
        ).collect()
    }
    assert got == want


@given(
    st.lists(st.integers(-30, 30), max_size=15),
    st.lists(st.tuples(st.integers(-30, 30), st.integers(0, 12)), max_size=15),
    st.sampled_from([1, 3, 7, 10]),
)
@SLOW
def test_range_join_binned_matches_bruteforce(spark, pts, ivs, w):
    """Binned range join vs brute force for ANY points/intervals/width —
    negative values exercise the pmod floor-division, widths smaller and
    larger than interval lengths exercise multi-bin explode and
    bin-mates that don't truly overlap."""
    from dbx_workspace_and_emr_iceberg_spark.operators.range_join import (
        range_join_binned,
    )

    points = spark.createDataFrame(
        [(i, p) for i, p in enumerate(pts)] or [(0, 0)], "pid int, p long"
    )
    if not pts:
        points = points.filter("pid > 999")
    intervals = spark.createDataFrame(
        [(j, lo, lo + ln) for j, (lo, ln) in enumerate(ivs)] or [(0, 0, 0)],
        "ivid int, lo long, hi long",
    )
    if not ivs:
        intervals = intervals.filter("ivid > 999")
    got = {
        (r.pid, r.ivid)
        for r in range_join_binned(
            points, intervals, "p", "lo", "hi", bin_width=w
        ).collect()
    }
    want = {
        (i, j)
        for i, p in enumerate(pts)
        for j, (lo, ln) in enumerate(ivs)
        if lo <= p <= lo + ln
    }
    assert got == want
    got_open = {
        (r.pid, r.ivid)
        for r in range_join_binned(
            points,
            intervals,
            "p",
            "lo",
            "hi",
            bin_width=w,
            lo_inclusive=False,
            hi_inclusive=False,
        ).collect()
    }
    want_open = {
        (i, j)
        for i, p in enumerate(pts)
        for j, (lo, ln) in enumerate(ivs)
        if lo < p < lo + ln
    }
    assert got_open == want_open


# --- semdedup (operators/semantic.py) ---------------------------------------


@given(
    st.lists(
        st.lists(
            st.floats(min_value=-1.0, max_value=1.0, allow_nan=False),
            min_size=4,
            max_size=4,
        ).filter(lambda v: sum(x * x for x in v) > 1e-6),
        min_size=1,
        max_size=14,
    ),
    st.sampled_from([0.8, 0.95, 0.99]),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_semdedup_kept_set_is_threshold_separated(spark, vecs, thr):
    """The defining SemDeDup postcondition on ANY input: no two KEPT
    members of a cluster have cosine >= threshold, and every DROPPED
    member is within threshold of some kept one (its recorded
    max_cos_kept)."""
    import numpy as np

    from dbx_workspace_and_emr_iceberg_spark.operators.semantic import semdedup

    unit = [
        [float(x) for x in np.array(v) / np.linalg.norm(v)] for v in vecs
    ]
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(unit)],
        "vec_id long, v array<double>, cluster int",
    )
    rows = semdedup(df, thr).collect()
    kept = [np.array(unit[r.vec_id]) for r in rows if r.keep]
    for i in range(len(kept)):
        for j in range(i + 1, len(kept)):
            assert float(kept[i] @ kept[j]) < thr + 1e-9
    for r in rows:
        if not r.keep:
            assert r.max_cos_kept >= thr - 1e-9
    # greedy scans in vec_id order → the smallest id always survives
    assert min(r.vec_id for r in rows if r.keep) == min(r.vec_id for r in rows)


# --- SQL-door grammar round-trips through the session's parser -------------

from hypothesis import given, settings
from hypothesis import strategies as st

from dbx_workspace_and_emr_iceberg_spark.sources import sql_dml as _sd

_IDENT7 = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True).filter(
    lambda s: s not in {
        "as", "table", "column", "columns", "to", "add", "drop", "rename",
        "alter", "insert", "into", "overwrite", "values", "select", "from",
        "create", "default",
    }
)
_TYPE7 = st.sampled_from(["int", "bigint", "string", "double", "date"])


@given(table=_IDENT7, col=_IDENT7, typ=_TYPE7, dflt=st.integers(0, 10**6))
@settings(max_examples=50, deadline=None)
def test_alter_add_roundtrip_property(spark, table, col, typ, dflt):
    action, t, args = _sd.parse_alter(
        f"ALTER TABLE {table} ADD COLUMN {col} {typ.upper()} DEFAULT {dflt}"
    )
    assert (action, t) == ("add", table)
    assert args == (col, typ, dflt)
    # without DEFAULT the literal slot is None
    action, t, args = _sd.parse_alter(
        f"ALTER TABLE {table} ADD COLUMN {col} {typ}"
    )
    assert args == (col, typ, None)


@given(table=_IDENT7, old=_IDENT7, new=_IDENT7)
@settings(max_examples=50, deadline=None)
def test_alter_rename_drop_roundtrip_property(spark, table, old, new):
    assert _sd.parse_alter(
        f"ALTER TABLE {table} RENAME COLUMN {old} TO {new}"
    ) == ("rename", table, (old, new))
    assert _sd.parse_alter(f"ALTER TABLE {table} DROP COLUMN {old}") == (
        "drop", table, (old,),
    )


_REF_KIND = st.sampled_from(["BRANCH", "TAG"])


@given(
    table=_IDENT7,
    name=_IDENT7,
    kind=_REF_KIND,
    version=st.one_of(st.none(), st.integers(1, 10**6)),
)
@settings(max_examples=50, deadline=None)
def test_alter_ref_ddl_roundtrip_property(spark, table, name, kind, version):
    """Branch/tag DDL grammar (m8b): CREATE with optional AS OF
    VERSION, DROP, REPLACE BRANCH; REPLACE TAG must refuse (tags are
    immutable)."""
    suffix = f" AS OF VERSION {version}" if version is not None else ""
    assert _sd.parse_alter(
        f"ALTER TABLE {table} CREATE {kind} {name}{suffix}"
    ) == (f"create_{kind.lower()}", table, (name, version, False))
    assert _sd.parse_alter(
        f"alter table {table} drop {kind.lower()} {name}"
    ) == (f"drop_{kind.lower()}", table, (name,))
    if version is not None:
        assert _sd.parse_alter(
            f"ALTER TABLE {table} REPLACE BRANCH {name} AS OF VERSION {version}"
        ) == ("replace_branch", table, (name, version, False))
    assert _sd.parse_alter(
        f"ALTER TABLE {table} CREATE BRANCH IF NOT EXISTS {name}"
    ) == ("create_branch", table, (name, None, True))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _sd.parse_alter(f"ALTER TABLE {table} REPLACE TAG {name}")


@given(
    table=_IDENT7,
    src=_IDENT7,
    overwrite=st.booleans(),
    with_kw_table=st.booleans(),
)
@settings(max_examples=50, deadline=None)
def test_insert_select_roundtrip_property(spark, table, src, overwrite, with_kw_table):
    mode = "OVERWRITE" if overwrite else "INTO"
    kw = "TABLE " if with_kw_table else ""
    got_mode, got_table, body = _sd.parse_insert(
        f"INSERT {mode} {kw}{table} SELECT * FROM {src}"
    )
    assert (got_mode, got_table) == (mode, table)
    assert body == f"SELECT * FROM {src}"


@given(table=_IDENT7, vals=st.lists(st.integers(0, 999), min_size=1, max_size=5))
@settings(max_examples=50, deadline=None)
def test_insert_values_wraps_as_select_property(spark, table, vals):
    tuples = ", ".join(f"({v}, 'r{v}')" for v in vals)
    mode, t, body = _sd.parse_insert(f"INSERT INTO {table} VALUES {tuples}")
    assert (mode, t) == ("INTO", table)
    assert body == f"SELECT * FROM VALUES {tuples}"


@given(table=_IDENT7, src=_IDENT7)
@settings(max_examples=50, deadline=None)
def test_ctas_roundtrip_property(spark, table, src):
    t, sel = _sd.parse_ctas(
        f"CREATE TABLE {table} AS SELECT a, b FROM {src} WHERE a > 0"
    )
    assert t == table
    assert sel == f"SELECT a, b FROM {src} WHERE a > 0"


# --- x34 duplicated-span detection vs brute force ---------------------------

_X34_VOCAB = st.sampled_from(list("abcde"))  # tiny vocab → dense duplicates


@st.composite
def _x34_corpus(draw):
    n_docs = draw(st.integers(min_value=1, max_value=6))
    return [
        " ".join(
            draw(st.lists(_X34_VOCAB, min_size=1, max_size=24))
        )
        for _ in range(n_docs)
    ]


def _x34_expected(texts, k):
    """Brute-force reference: duplicated k-windows by literal token-tuple
    equality (corpus-wide, self-repeats count), merged at start-gap <= k."""
    grams = {}
    for did, t in enumerate(texts):
        toks = t.split(" ")
        for i in range(len(toks) - k + 1):
            grams.setdefault(tuple(toks[i : i + k]), []).append((did, i))
    flagged = {}
    for occ in grams.values():
        if len(occ) > 1:
            for did, i in occ:
                flagged.setdefault(did, set()).add(i)
    out = {}
    for did, t in enumerate(texts):
        starts = sorted(flagged.get(did, ()))
        spans = []
        for s in starts:
            if spans and s - spans[-1][1] <= k:
                spans[-1][1] = s
            else:
                spans.append([s, s])
        n_tok = len(t.split(" "))
        dup = sum(e - s + k for s, e in spans)
        out[did] = (n_tok, len(spans), dup, round(dup / n_tok, 4))
    return out


@given(_x34_corpus())
@SLOW
def test_x34_dup_spans_match_bruteforce(spark, tmp_path_factory, texts):
    from dbx_workspace_and_emr_iceberg_spark.queries import dedup_queries as dq

    sf = str(tmp_path_factory.mktemp("x34prop"))
    spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    got = {
        r.doc_id: (r.n_tokens, r.n_spans, r.dup_tokens, r.dup_frac)
        for r in dq.x34_dup_span_detect(spark, sf).collect()
    }
    assert got == _x34_expected(texts, dq._X34_K)


# --- discrete percentiles vs DuckDB quantile_disc ---------------------------


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            # cent-valued doubles with deliberate tie pressure
            st.integers(min_value=0, max_value=50).map(lambda c: c / 100.0),
        ),
        min_size=1,
        max_size=40,
    ),
    st.sampled_from([0.01, 0.25, 0.5, 0.9, 0.99, 1.0]),
)
@SLOW
def test_discrete_percentiles_match_quantile_disc(spark, rows, p):
    """The ceil(p*n) spelling (qd8 / discrete_percentiles) must equal
    DuckDB's quantile_disc for every key on adversarial inputs: heavy
    value ties, n=1 groups, boundary p values."""
    import duckdb

    from dbx_workspace_and_emr_iceberg_spark.queries.tpch_suite3 import (
        discrete_percentiles,
    )

    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        r.k: (r.n_rows, r.q)
        for r in discrete_percentiles(df, "k", "v", {"q": p}).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = {
        k: (n, q)
        for k, n, q in con.execute(
            f"SELECT k, count(*), quantile_disc(v, {p}) FROM t GROUP BY k"
        ).fetchall()
    }
    con.close()
    assert got == want


@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
def test_hash_halves_python_jvm_agree(spark, keys):
    """The cross-engine md5 hex-half spelling must agree between its
    Python twin (_h64, used by build_bloom's driver-side sizing and
    the unit fixtures) and the JVM expression (_hash_halves, used by
    every probe and by the x2b/x2e oracles) for ARBITRARY unicode —
    any drift silently breaks the bloom's no-false-negative contract
    and every md5-family oracle."""
    from dbx_workspace_and_emr_iceberg_spark.operators.bloom import (
        _h64,
        _hash_halves,
    )

    df = spark.createDataFrame([(k,) for k in keys], "s string")
    h1c, h2c = _hash_halves(F.col("s"))
    rows = df.select("s", h1c.alias("h1"), h2c.alias("h2")).collect()
    for r in rows:
        p1, p2 = _h64(r.s)
        assert (p1, p2) == (r.h1, r.h2), f"hash drift on {r.s!r}"


@given(
    tgt=st.dictionaries(
        st.integers(0, 12),
        st.tuples(st.integers(-5, 50), st.integers(0, 50)),
        min_size=1,
        max_size=6,
    ),
    src=st.dictionaries(
        st.integers(0, 12),
        st.tuples(st.integers(-5, 50), st.integers(0, 50)),
        min_size=1,
        max_size=6,
    ),
    mode=st.sampled_from(["star", "listed", "none"]),
    insert=st.booleans(),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_merge_update_semantics_property(spark, tgt, src, mode, insert):
    """Pin the full r10 MERGE UPDATE contract against a pure-Python
    model: update_cols=None takes every column from source (SET *);
    an explicit dict updates only the listed columns (others keep the
    TARGET value); {} leaves matched rows untouched; the delete
    condition (src.a < 0) wins over update; unmatched source rows
    insert iff insert=True; target-only rows always survive."""
    import shutil as _shutil
    import tempfile as _tempfile

    wh = _tempfile.mkdtemp(prefix="merge_prop_")
    try:
        t = LakehouseTable(spark, wh, "mp")
        t.create(
            spark.createDataFrame(
                [(k, a, b) for k, (a, b) in tgt.items()],
                "k long, a long, b long",
            )
        )
        src_df = spark.createDataFrame(
            [(k, a, b) for k, (a, b) in src.items()],
            "k long, a long, b long",
        )
        update_cols = {
            "star": None,
            "listed": {"a": F.col("__src").getField("a")},
            "none": {},
        }[mode]
        t.merge_into(
            src_df,
            on="k",
            update_cols=update_cols,
            insert=insert,
            delete_cond=F.col("__src").getField("a") < 0,
            validate_source_keys=False,  # dict keys are unique
        )
        expected = set()
        for k, (a, b) in tgt.items():
            if k in src:
                sa, sb = src[k]
                if sa < 0:
                    continue  # matched + delete_cond -> DELETE
                if mode == "star":
                    expected.add((k, sa, sb))
                elif mode == "listed":
                    expected.add((k, sa, b))  # a updated, b kept
                else:
                    expected.add((k, a, b))  # no UPDATE clause
            else:
                expected.add((k, a, b))
        if insert:
            for k, (a, b) in src.items():
                if k not in tgt:
                    expected.add((k, a, b))
        got = {(r.k, r.a, r.b) for r in t.read().collect()}
        assert got == expected, (mode, insert, sorted(got), sorted(expected))
    finally:
        _shutil.rmtree(wh, ignore_errors=True)


@given(
    tgt_keys=st.sets(st.integers(0, 60), max_size=40),
    src_keys=st.sets(st.integers(0, 80), min_size=1, max_size=12),
    null_rows=st.integers(0, 2),
    n_files=st.integers(1, 6),
    insert=st.booleans(),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_pruned_merge_matches_pandas_reference(
    spark, tgt_keys, src_keys, null_rows, n_files, insert
):
    """File-pruned MERGE on a range-clustered multi-file table against
    a pandas merge: matched rows take the source value unless the
    delete condition (source v divisible by 7) holds, unmatched source
    rows insert iff insert=True, target-only and NULL-keyed rows
    survive. Every pre-merge file the new snapshot keeps holds no
    matched key, and every file it drops held one."""
    import shutil as _shutil
    import tempfile as _tempfile

    import pandas as pd
    import pyarrow.parquet as pq

    target = [(k, 10 * k) for k in sorted(tgt_keys)]
    target += [(None, -1 - i) for i in range(null_rows)]
    source = [(k, 1000 + k) for k in sorted(src_keys)]

    tn = pd.DataFrame([r for r in target if r[0] is None], columns=["k", "v"])
    tk = pd.DataFrame([r for r in target if r[0] is not None], columns=["k", "v"])
    s = pd.DataFrame(source, columns=["k", "v"])
    j = tk.merge(s, on="k", how="outer", suffixes=("", "_s"), indicator=True)
    both = j[(j["_merge"] == "both") & (j["v_s"] % 7 != 0)]
    parts = [
        tn,
        j[j["_merge"] == "left_only"][["k", "v"]],
        both[["k", "v_s"]].rename(columns={"v_s": "v"}),
    ]
    if insert:
        parts.append(
            j[j["_merge"] == "right_only"][["k", "v_s"]].rename(columns={"v_s": "v"})
        )
    expected = [
        (None if pd.isna(k) else int(k), int(v))
        for p in parts
        for k, v in zip(p["k"], p["v"])
    ]

    wh = _tempfile.mkdtemp(prefix="merge_pruned_prop_")
    try:
        t = LakehouseTable(spark, wh, "mp")
        t.create(
            spark.createDataFrame(target, "k long, v long")
            .repartitionByRange(n_files, "k")
            .sortWithinPartitions("k")
        )
        before = t._files()
        t.merge_into(
            spark.createDataFrame(source, "k long, v long"),
            on="k",
            insert=insert,
            delete_cond=F.col("__src").getField("v") % 7 == 0,
        )
        def order(r):
            return (r[0] is not None, r[0] or 0, r[1])

        got = sorted(((r.k, r.v) for r in t.read().collect()), key=order)
        assert got == sorted(expected, key=order), (
            sorted(tgt_keys), sorted(src_keys), insert
        )
        after = set(t._files())
        matched = set(src_keys) & set(tgt_keys)

        def holds_match(f):
            return bool(set(pq.read_table(f).column("k").to_pylist()) & matched)

        assert not any(holds_match(f) for f in before if f in after)
        if len(before) > 1:
            assert all(holds_match(f) for f in before if f not in after)
    finally:
        _shutil.rmtree(wh, ignore_errors=True)


# --- chunked exclusive prefix vs native window -------------------------------


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "fr", "xx"]),
            st.integers(min_value=1, max_value=300),
        ),
        min_size=1,
        max_size=40,
    ),
    st.sampled_from([1, 2, 4, 8]),
    st.booleans(),
)
@SLOW
def test_chunked_exclusive_prefix_property(spark, rows, n_chunks, per_key):
    """The shared x50/x31 packing kernel vs the native exclusive-cumsum
    window on adversarial inputs: duplicate order values (approx-
    quantile boundaries land ON ties), single-chunk and many-chunk
    configurations, global and per-key — exact long equality. The
    order column is made a total order (unique ids) because the kernel
    contracts on one, like every packing caller."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.operators.skew import (
        chunked_exclusive_prefix,
    )

    data = [(lang, i, n) for i, (lang, n) in enumerate(rows)]
    df = spark.createDataFrame(data, "lang string, id long, n long")
    part_cols = ("lang",) if per_key else ()
    w = (
        Window.partitionBy(*part_cols)
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        r.id: r.e
        for r in df.select(
            "id", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("e")
        ).collect()
    }
    got = {
        r.id: r.excl
        for r in chunked_exclusive_prefix(
            df, "id", "n", part_cols=part_cols, n_chunks=n_chunks
        ).collect()
    }
    assert got == want


# --- windowspec parser fuzz (string-level, no Spark) --------------------------

_PART_POOL = [
    "k#7",
    "lang#5",
    "chunk#8",
    "coalesce(a#1, b#2)",
    "cast(x#3 as double)",
    "CASE WHEN contains(note#4,  DESC ) THEN 1 ELSE 0 END",
    "concat(host#9,  ASC , tag#2)",
    "pmod(xxhash64(a#1, b#2), 8)",
]
_SORT_POOL = ["v#2", "cast(spend#3 as double)", "coalesce(t#4, u#5)"]
_DIRS = [" ASC NULLS FIRST", " DESC NULLS LAST", " ASC", " DESC"]
_FRAME = (
    "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())"
)


@given(
    st.lists(
        st.tuples(
            st.lists(st.sampled_from(_PART_POOL), max_size=3),
            st.lists(
                st.tuples(
                    st.sampled_from(_SORT_POOL), st.sampled_from(_DIRS)
                ),
                max_size=2,
            ),
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=200, deadline=None)
def test_windowspec_parser_fuzz(specs):
    """_parse_window_partition_specs against generated plan strings:
    any mix of partition expressions (including ones CONTAINING
    direction tokens mid-string — the ADVICE-r11 misclassification),
    0-2 sort orders in all four direction spellings, multiple specs
    per plan with junk between — the parser must recover exactly the
    partition clauses, in order."""
    from dbx_workspace_and_emr_iceberg_spark.plans.explain import (
        _parse_window_partition_specs as parse,
    )

    chunks, want = [], []
    for parts, sorts in specs:
        args = list(parts) + [e + d for e, d in sorts] + [_FRAME]
        chunks.append(
            "Window [sum(n#1L) windowspecdefinition("
            + ", ".join(args)
            + ") AS e#9L]"
        )
        want.append(", ".join(parts))
    plan = "\n+- ".join(chunks)
    assert parse(plan) == want


def test_temporal_bound_iso_properties():
    """Property-pin the bound normalizer: IDEMPOTENT, and blind to the
    input's separator (the planner's self-heal path re-runs it on
    already-canonical stats), and AGREED with the stats encoder — for
    any datetime/date, normalizing the encoder's output equals
    normalizing the object itself, so bound-vs-stat compares are exact
    at every boundary."""
    import datetime

    from hypothesis import given
    from hypothesis import strategies as st

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        temporal_bound_iso,
    )

    dts = st.datetimes(
        min_value=datetime.datetime(1970, 1, 1),
        max_value=datetime.datetime(2100, 1, 1),
    )

    @given(dts, st.sampled_from([" ", "T"]))
    def check(dt, sep):
        out = temporal_bound_iso(dt)
        # canonical: full seconds, fraction absent or exactly 6 digits
        assert len(out) == 19 or (len(out) == 26 and out[19] == ".")
        assert out[10] == "T"
        # idempotent, whichever separator the input spells
        assert temporal_bound_iso(out) == out
        assert temporal_bound_iso(out.replace("T", sep, 1)) == out
        # encoder agreement: isoformat()-encoded stats normalize to the
        # same canonical string as the object (datetime stats path)
        assert temporal_bound_iso(dt.isoformat(sep=sep)) == out
        # date stats path: midnight-canonical both ways
        d = dt.date()
        assert temporal_bound_iso(d.isoformat() + "T00:00:00") == (
            temporal_bound_iso(d)
        )

    check()


# --- salted skew operators vs brute force (r15) ------------------------------
# The planted-fixture tests (test_operators.py) pin the x33/x36 shapes;
# these pin the OPERATORS over random inputs: salted_top_k must equal
# the single-window top-k for any data and any salt count (salt
# composability: the top-k of a union is the top-k of per-salt top-ks,
# GIVEN a total order — the generators make (score, id) unique per
# key), and salted_join must equal the plain join row-for-row.

_HOSTS = st.integers(min_value=0, max_value=3)


@st.composite
def topk_rows(draw):
    # unique global id => (score, id) is a total order within any key;
    # score range is tiny ON PURPOSE so k-boundary ties-on-score (broken
    # by id) are common — the regime where a non-total order would flake
    n = draw(st.integers(min_value=0, max_value=25))
    hosts = draw(st.lists(_HOSTS, min_size=n, max_size=n))
    scores = draw(
        st.lists(
            st.integers(min_value=0, max_value=5), min_size=n, max_size=n
        )
    )
    return [(h, s, i) for i, (h, s) in enumerate(zip(hosts, scores))]


@given(topk_rows(), st.sampled_from([1, 3]), st.sampled_from([1, 2, 7]))
@SLOW
def test_salted_top_k_matches_bruteforce(spark, rows, k, n_salts):
    from dbx_workspace_and_emr_iceberg_spark.operators.skew import (
        salted_top_k,
    )

    df = spark.createDataFrame(rows, "host int, score int, id int")
    got = sorted(
        (r.host, r.score, r.id, r.rk)
        for r in salted_top_k(
            df,
            key_cols=["host"],
            order_cols=[F.col("score").desc(), F.col("id")],
            k=k,
            n_salts=n_salts,
            rank_col="rk",
        ).collect()
    )
    want = []
    by_host: dict[int, list] = {}
    for h, s, i in rows:
        by_host.setdefault(h, []).append((h, s, i))
    for h, hrows in by_host.items():
        ranked = sorted(hrows, key=lambda r: (-r[1], r[2]))[:k]
        want.extend((h, s, i, rk + 1) for rk, (h, s, i) in enumerate(ranked))
    assert got == sorted(want)


@given(
    st.lists(st.tuples(_HOSTS, st.integers(0, 9)), max_size=20),
    st.lists(st.tuples(_HOSTS, st.integers(0, 9)), max_size=6),
    st.sampled_from(["inner", "left", "left_semi", "left_anti"]),
    st.sampled_from([1, 5]),
)
@SLOW
def test_salted_join_matches_plain_join(spark, big, small, how, n_salts):
    from dbx_workspace_and_emr_iceberg_spark.operators.skew import (
        salted_join,
    )

    bdf = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(big)], "k int, bv int, bid int"
    )
    sdf = spark.createDataFrame(small, "k int, sv int")
    out = salted_join(bdf, sdf, on="k", n_salts=n_salts, how=how)
    matched = {sk for (sk, _) in small}
    if how in ("left_semi", "left_anti"):
        # big rows pass through exactly once, no small payload
        got = sorted((r.k, r.bv, r.bid) for r in out.collect())
        keep = how == "left_semi"
        want = sorted(
            (k, v, i)
            for i, (k, v) in enumerate(big)
            if (k in matched) == keep
        )
        assert got == want
        return
    # one explicit key for BOTH sides: sv can be None (left join), and
    # None does not compare with int under plain tuple order
    key = lambda t: tuple((x is None, x if x is not None else 0) for x in t)  # noqa: E731
    got = sorted(
        ((r.k, r.bv, r.bid, r.sv) for r in out.collect()), key=key
    )
    want = []
    for i, (k, v) in enumerate(big):
        matches = [sv for (sk, sv) in small if sk == k]
        if matches:
            want.extend((k, v, i, sv) for sv in matches)
        elif how == "left":
            want.append((k, v, i, None))
    assert got == sorted(want, key=key)


def test_salted_join_rejects_replication_unsafe_how(spark):
    """The small side is replicated n_salts times, so a right/full join
    would surface every unmatched small row once per salt — the API
    must refuse instead of silently multiplying rows."""
    import pytest

    from dbx_workspace_and_emr_iceberg_spark.operators.skew import (
        salted_join,
    )

    bdf = spark.createDataFrame([(1, 1)], "k int, bv int")
    sdf = spark.createDataFrame([(2, 2)], "k int, sv int")
    for how in ("right", "full", "outer", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="replication-safe"):
            salted_join(bdf, sdf, on="k", n_salts=4, how=how)


def test_salted_operators_reject_bad_n_salts(spark):
    """pmod(x, 0) is NULL in Spark, so n_salts<=0 doesn't raise — it
    silently EMPTIES the salted join (NULL never equi-matches) or
    un-salts the top-k window. Both operators must refuse instead."""
    import pytest

    from dbx_workspace_and_emr_iceberg_spark.operators.skew import (
        salted_join,
        salted_top_k,
    )

    bdf = spark.createDataFrame([(1, 1)], "k int, bv int")
    sdf = spark.createDataFrame([(1, 2)], "k int, sv int")
    for bad in (0, -3):
        with pytest.raises(ValueError, match="n_salts"):
            salted_join(bdf, sdf, on="k", n_salts=bad)
        with pytest.raises(ValueError, match="n_salts"):
            salted_top_k(
                bdf, key_cols=["k"], order_cols=[F.col("bv")], k=1, n_salts=bad
            )


# --- range-scan pruning vs brute force (r15) ---------------------------------
# The round's three review passes each found ANOTHER boundary class in
# the stats pruner (date-vs-midnight, fractional seconds, zoned
# suffixes) — each pinned by a hand-written exact-boundary regression.
# This is the generalization: for RANDOM data, RANDOM file layouts and
# RANDOM bounds drawn from the same value pool (so exact-boundary hits
# are common), read_range must return exactly the rows a Python filter
# keeps — i.e. the prune may only ever SKIP files it can prove empty.


@st.composite
def range_scan_case(draw):
    kind = draw(st.sampled_from(["ts", "date", "strdate", "long"]))
    n = draw(st.integers(min_value=1, max_value=14))
    idx = draw(st.lists(st.integers(0, 9), min_size=n, max_size=n))
    a, b = draw(st.integers(0, 9)), draw(st.integers(0, 9))
    lo_i, hi_i = min(a, b), max(a, b)
    nfiles = draw(st.sampled_from([1, 3]))
    # bound spelling: object, ' '-separated ISO, 'T'-separated ISO
    form = draw(st.sampled_from(["obj", "iso", "isoT"]))
    return kind, idx, lo_i, hi_i, nfiles, form


def _range_scan_pool(kind):
    import datetime

    base = datetime.datetime(2024, 1, 1, 8, 30, 0)
    if kind == "ts":
        # microsecond tails exercise the fraction canonicalization
        vals = [
            base + datetime.timedelta(hours=i, microseconds=125000 * i)
            for i in range(10)
        ]
        ddl = "d timestamp, i long"
    elif kind == "date":
        vals = [datetime.date(2024, 1, 2 + i) for i in range(10)]
        ddl = "d date, i long"
    elif kind == "strdate":
        vals = [f"2024-01-{2 + i:02d}" for i in range(10)]
        ddl = "d string, i long"
    else:
        vals = list(range(10))
        ddl = "d long, i long"
    return vals, ddl


def _range_scan_bound(kind, v, form):
    if kind in ("strdate", "long") or form == "obj":
        return v
    if kind == "date":
        return v.isoformat()  # date has no sep variants
    return v.isoformat(sep=" " if form == "iso" else "T")


@given(range_scan_case())
@SLOW
def test_read_range_matches_bruteforce(spark, case):
    kind, idx, lo_i, hi_i, nfiles, form = case
    vals, ddl = _range_scan_pool(kind)
    rows = [(vals[j], i) for i, j in enumerate(idx)]
    wh = tempfile.mkdtemp(prefix="lh_prop_")
    try:
        df = spark.createDataFrame(rows, ddl).repartitionByRange(nfiles, "d")
        t = LakehouseTable(spark, wh, "t")
        t.create(df)
        lo = _range_scan_bound(kind, vals[lo_i], form)
        hi = _range_scan_bound(kind, vals[hi_i], form)
        got = sorted(r.i for r in t.read_range("d", lo, hi).collect())
        want = sorted(
            i for i, j in enumerate(idx) if lo_i <= j <= hi_i
        )
        assert got == want, (kind, form, lo, hi, got, want)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


@st.composite
def pruned_scan_case(draw):
    spec = draw(
        st.sampled_from(
            ["years(d)", "months(d)", "days(d)", "hours(d)", "bucket(3, i)"]
        )
    )
    n = draw(st.integers(min_value=1, max_value=12))
    idx = draw(st.lists(st.integers(0, 9), min_size=n, max_size=n))
    a, b = draw(st.integers(0, 9)), draw(st.integers(0, 9))
    form = draw(st.sampled_from(["obj", "iso", "isoT"]))
    return spec, idx, min(a, b), max(a, b), form


@given(pruned_scan_case())
@SLOW
def test_read_pruned_matches_bruteforce(spark, case):
    """read_pruned (planned scan + residual) for ANY transform era and
    random half-open bounds: the value pool crosses a YEAR boundary in
    9-hour steps, so years/months/days/hours partitions all see
    period-boundary hits; whatever the layout, every file holding a
    matching row is kept and the rows equal brute force."""
    import datetime

    import pyarrow.parquet as pq

    spec, idx, lo_i, hi_i, form = case
    vals = [
        datetime.datetime(2023, 12, 30, 20, 0, 0) + datetime.timedelta(hours=9 * i)
        for i in range(10)
    ]
    rows = [(vals[j], i) for i, j in enumerate(idx)]
    wh = tempfile.mkdtemp(prefix="lh_prop_")
    try:
        t = LakehouseTable(spark, wh, "t")
        t.create(
            spark.createDataFrame(rows, "d timestamp, i long"),
            partition_by=[spec],
        )
        lo = vals[lo_i] if form == "obj" else vals[lo_i].isoformat(
            sep=" " if form == "iso" else "T"
        )
        hi = vals[hi_i] if form == "obj" else vals[hi_i].isoformat(
            sep=" " if form == "iso" else "T"
        )
        got_df, kept, allf = t.read_pruned("d", lo, hi)
        got = sorted(r.i for r in got_df.collect())
        # half-open: lo <= v < hi (read_pruned's residual contract)
        want = sorted(i for i, j in enumerate(idx) if lo_i <= j < hi_i)
        assert got == want, (spec, form, lo, hi, got, want)
        assert set(kept) <= set(allf)
        # soundness: every file holding a matching row is kept
        for f in allf:
            held = pq.read_table(f, columns=["i"]).column("i").to_pylist()
            if any(lo_i <= idx[i] < hi_i for i in held):
                assert f in kept, (spec, form, lo, hi, f)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# --- banded MinHash candidates vs set arithmetic (r15) ------------------------
# The LSH recall on NEAR-duplicates is probabilistic (pinned by planted
# fixtures at query level), but two deterministic contracts hold for
# ANY corpus and BOTH signature paths: an EXACT duplicate pair (>=
# shingle_n words, so it survives the zero-shingle pre-filter) has
# identical signatures in every band and must ALWAYS be a candidate,
# and exact_jaccard must equal Python set arithmetic on every pair.

_WORDS = st.integers(min_value=0, max_value=7)


@st.composite
def dedup_corpus(draw):
    n_docs = draw(st.integers(min_value=0, max_value=6))
    docs = [
        " ".join(f"w{w}" for w in draw(
            st.lists(_WORDS, min_size=0, max_size=8)
        ))
        for _ in range(n_docs)
    ]
    dup = " ".join(
        f"w{w}" for w in draw(st.lists(_WORDS, min_size=3, max_size=8))
    )
    return docs, dup


@given(dedup_corpus(), st.booleans())
@SLOW
def test_minhash_exact_duplicate_always_candidate(spark, case, vectorized):
    from dbx_workspace_and_emr_iceberg_spark.operators.dedup import (
        exact_jaccard,
        minhash_lsh_pairs,
    )

    docs, dup = case
    rows = [(i, t) for i, t in enumerate(docs)]
    rows += [(100, dup), (101, dup)]  # the planted exact pair
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_pairs(
        df, "doc_id", "text", num_hashes=16, bands=4, vectorized=vectorized
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (100, 101) in got, f"exact duplicate not a candidate: {got}"
    assert all(a < b for a, b in got)
    # exact_jaccard on every candidate == Python word-set jaccard
    texts = dict(rows)
    jac = exact_jaccard(df, pairs, "doc_id", "text").collect()
    assert {(r.id_a, r.id_b) for r in jac} == got
    for r in jac:
        sa, sb = set(texts[r.id_a].split()), set(texts[r.id_b].split())
        want = len(sa & sb) / len(sa | sb)
        assert abs(r.jaccard - want) < 1e-12, (r.id_a, r.id_b, r.jaccard, want)


# --- content-addressed sampling vs a Python md5 reference (r15) ---------------
# The split operators' whole value is that assignment is a pure
# function of the key — so the strongest property is CROSS-
# IMPLEMENTATION: an independent Python md5 reference must reproduce
# every label bit-for-bit, and fractions must NEST (tightening a
# fraction yields a subset — the append-stable guarantee's algebra).


def _py_bucket(k, buckets=10_000):
    import hashlib

    return int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) % buckets


@given(
    st.lists(st.integers(0, 10**6), max_size=25),
    st.sampled_from([0.0, 0.1, 0.29, 0.5, 1.0]),
    st.sampled_from([0.0, 0.1, 0.33]),
)
@SLOW
def test_hash_sampling_matches_python_md5(spark, keys, frac, frac2):
    from dbx_workspace_and_emr_iceberg_spark.operators.sampling import (
        hash_sample,
        hash_split,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    lo, hi = sorted((frac, frac2))

    got = sorted(r.k for r in hash_sample(df, "k", hi).collect())
    want = sorted(k for k in keys if _py_bucket(k) < int(hi * 10_000 + 0.5))
    assert got == want

    # nesting: the tighter fraction is a subset of the looser one
    sub = set(r.k for r in hash_sample(df, "k", lo).collect())
    assert sub <= set(got)

    # split labels: same bucket arithmetic, three-way partition
    labels = {
        r.k: r.split for r in hash_split(df, "k", val=0.1, test=0.2).collect()
    }
    for k in keys:
        b = _py_bucket(k)
        want_label = "test" if b < 2000 else ("val" if b < 3000 else "train")
        assert labels[k] == want_label, (k, b, labels[k], want_label)


@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.sampled_from(["en", "de", "fr"])),
        max_size=25,
    ),
)
@SLOW
def test_hash_sample_by_matches_python_md5(spark, rows):
    from dbx_workspace_and_emr_iceberg_spark.operators.sampling import (
        hash_sample_by,
    )

    df = spark.createDataFrame(rows, "k long, lang string")
    fracs = {"en": 0.5, "de": 0.29}  # fr absent -> dropped
    got = sorted(
        (r.k, r.lang)
        for r in hash_sample_by(df, "k", "lang", fracs).collect()
    )
    want = sorted(
        (k, s)
        for k, s in rows
        if _py_bucket(k) < int(fracs.get(s, 0.0) * 10_000 + 0.5)
    )
    assert got == want


# ---------------------------------------------------------------------------
# SQL-door generative fuzz: a hand audit finds what it thinks of.  This
# net generates statements from a random AST (so the expected semantics
# are known by construction), renders them with hostile spellings
# (string literals containing '--', quotes in both escape forms,
# mixed-case keywords/aliases, random whitespace, comments, shuffled
# clause orders), and checks:
#   * parse level (~250 statements): parse_merge/parse_call
#     recover exactly the generated AST; illegal mutations RAISE
#     instead of silently reordering/dropping clauses;
#   * execution level: statement chains through Engine.sql versus a
#     straight-line Python applier of SQL semantics over mirror state.
# ---------------------------------------------------------------------------

import random as _random
import re as _re

from dbx_workspace_and_emr_iceberg_spark.sources import sql_dml as _dml


def _fuzz_string(rng: "_random.Random") -> str:
    """Hostile literal content: comment markers, both quote chars,
    separators the splitter cares about. No backslash VALUES (escape
    normalization differs by engine); backslash appears via the
    RENDERING of embedded quotes instead."""
    pieces = rng.choices(
        ["--", "'", '"', "ab", "Zq", " ", ",", "(", ")", "x=y", ""],
        k=rng.randint(0, 4),
    )
    return "".join(pieces)


def _render_str_lit(s: str, rng: "_random.Random") -> str:
    """SQL single-quoted literal for s, escaping each embedded quote
    randomly as '' (doubling) or \\' (backslash) — both Spark-legal."""
    out = []
    for ch in s:
        if ch == "'":
            out.append("''" if rng.random() < 0.5 else "\\'")
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


def _kw(word: str, rng: "_random.Random") -> str:
    """Random-case keyword with random surrounding whitespace."""
    w = "".join(c.upper() if rng.random() < 0.5 else c.lower() for c in word)
    return rng.choice([" ", "  ", "\n ", " \t"]) + w + " "


def _gen_merge_ast(
    rng: "_random.Random", target: str = "t", source: str = "src"
) -> dict:
    """A VALID merge AST per the door's supported grammar.  SQL
    scoping: a declared alias hides the table name; without one the
    table name itself is the qualifier."""
    t_alias = rng.choice([None, "T", "tg", "dst"])
    s_alias = rng.choice([None, "S", "sr", "inc"])
    tq = (t_alias or target) + "."
    sq = (s_alias or source) + "."
    conds = [
        f"{tq}v < {sq}v",
        f"{sq}v > {rng.randint(-5, 5)}",
        f"{tq}s = {{lit}}",  # literal filled at render time
        f"{sq}v % 2 = 0",
    ]
    shape = rng.choice(
        ["upd", "del_cond", "del_cond+upd", "del_uncond"]
    )
    ast = {
        "target": target,
        "source": source,
        "t_alias": t_alias,
        "s_alias": s_alias,
        "del_cond": None,  # None | "true" | cond string
        "upd_expr": None,  # expr for SET v = ...
        "insert": rng.random() < 0.7,
        "lit": _fuzz_string(rng),
    }
    if "del_cond" in shape:
        ast["del_cond"] = rng.choice(conds)
    if shape == "del_uncond":
        ast["del_cond"] = "true"
    if "upd" in shape:
        ast["upd_expr"] = rng.choice(
            [f"{sq}v", f"{tq}v + {sq}v", f"{tq}v + {rng.randint(1, 9)}", "0"]
        )
    if not ast["insert"] and ast["del_cond"] is None and ast["upd_expr"] is None:
        ast["insert"] = True
    return ast


def _render_merge(ast: dict, rng: "_random.Random") -> str:
    r = lambda w: _kw(w, rng)  # noqa: E731
    ta = (
        (r("AS") if rng.random() < 0.5 else " ") + ast["t_alias"]
        if ast["t_alias"]
        else ""
    )
    sa = (
        (r("AS") if rng.random() < 0.5 else " ") + ast["s_alias"]
        if ast["s_alias"]
        else ""
    )
    tq = (ast["t_alias"] or ast["target"]) + "."
    sq = (ast["s_alias"] or ast["source"]) + "."
    on = rng.choice([f"{tq}k = {sq}k", f"k = k", "(k)", "k"])
    whens = []
    lit = _render_str_lit(ast["lit"], rng)
    if ast["del_cond"] == "true":
        whens.append(r("WHEN") + r("MATCHED") + r("THEN") + r("DELETE"))
    elif ast["del_cond"]:
        cond = ast["del_cond"].replace("{lit}", lit)
        whens.append(
            r("WHEN") + r("MATCHED") + r("AND") + cond + r("THEN") + r("DELETE")
        )
    if ast["upd_expr"] is not None:
        whens.append(
            r("WHEN")
            + r("MATCHED")
            + r("THEN")
            + r("UPDATE")
            + r("SET")
            + f"{tq}v"
            + rng.choice([" = ", "= ", " ="])
            + ast["upd_expr"]
        )
    if ast["insert"]:
        ins = r("WHEN") + r("NOT") + r("MATCHED") + r("THEN") + r("INSERT") + "*"
        whens.insert(rng.randrange(len(whens) + 1), ins)
    comment = "-- trailing comment\n" if rng.random() < 0.3 else ""
    return (
        r("MERGE").lstrip()
        + r("INTO")
        + ast["target"]
        + ta
        + r("USING")
        + ast["source"]
        + sa
        + r("ON")
        + on
        + " "
        + " ".join(whens)
        + (";" if rng.random() < 0.3 else "")
        + ("\n" + comment if comment else "")
    )


def test_sql_dml_fuzz_merge_parser(spark):
    """250 generated-then-rendered MERGE statements: parse_merge must
    recover the AST exactly; mutated-illegal variants must RAISE."""
    rng = _random.Random(20260816)
    n_valid = n_invalid = 0
    for _ in range(250):
        ast = _gen_merge_ast(rng)
        sql = _render_merge(ast, rng)
        spec = _dml.parse_merge(sql)
        assert spec["target"] == "t" and spec["source"] == "src", sql
        assert spec["on"] == "k", sql
        assert spec["insert"] is ast["insert"], sql
        if ast["del_cond"] is None:
            assert spec["delete_cond"] is None, sql
        elif ast["del_cond"] == "true":
            assert spec["delete_cond"] == "true", sql
        else:
            want = " ".join(
                ast["del_cond"].replace("{lit}", "L").split()
            )
            got = " ".join(spec["delete_cond"].split())
            # literal content differs by escape spelling; compare the
            # non-literal shape
            if "{lit}" in ast["del_cond"]:
                assert got.startswith(want.split("L")[0]), sql
            else:
                assert got == want, sql
        if ast["upd_expr"] is None:
            assert spec["update_set"] is None, sql
        else:
            assert list(spec["update_set"]) == ["v"], sql
            assert " ".join(spec["update_set"]["v"].split()) == " ".join(
                ast["upd_expr"].split()
            ), sql
        n_valid += 1

        # mutate into an illegal statement: every mutation must raise,
        # never silently drop/reorder a clause
        mut = rng.choice(
            ["dup_insert", "cond_update", "cond_insert", "upd_then_matched",
             "insert_cols"]
        )
        if mut == "dup_insert":
            bad = (
                "MERGE INTO t USING src ON k "
                "WHEN NOT MATCHED THEN INSERT * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        elif mut == "cond_update":
            bad = (
                "MERGE INTO t USING src ON k "
                "WHEN MATCHED AND t.v > 0 THEN UPDATE SET v = 1"
            )
        elif mut == "cond_insert":
            bad = (
                "MERGE INTO t USING src ON k "
                "WHEN NOT MATCHED AND src.v > 0 THEN INSERT *"
            )
        elif mut == "upd_then_matched":
            bad = (
                "MERGE INTO t USING src ON k "
                "WHEN MATCHED THEN UPDATE SET v = 1 "
                "WHEN MATCHED AND t.v < 0 THEN DELETE"
            )
        else:  # insert_cols
            bad = (
                "MERGE INTO t USING src ON k "
                "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)"
            )
        import pytest as _pt

        with _pt.raises(ValueError):
            _dml.parse_merge(bad)
        n_invalid += 1
    assert n_valid == 250 and n_invalid == 250


def test_sql_dml_fuzz_call_parser(spark):
    """CALL statements with random positional/named arg mixes against
    the real procedure registry; illegal mixes raise."""
    import pytest as _pt

    rng = _random.Random(99)
    for _ in range(200):
        proc = rng.choice(sorted(_dml._PROCEDURES))
        _method, spec, aliases = _dml._PROCEDURES[proc]
        # build expected kwargs from a random subset of the signature
        n_args = rng.randint(0, len(spec))
        vals = {}
        for name, conv in spec[:n_args]:
            vals[name] = (
                rng.randint(0, 10**6) if conv is int else f"v{rng.randint(0,9)}"
            )
        n_pos = rng.randint(0, n_args)  # first n_pos ride positionally
        args = [rng.choice(["'tbl'", "tbl", '"tbl"'])]
        for i, (name, conv) in enumerate(spec[:n_args]):
            if i < n_pos:
                args.append(str(vals[name]))
            else:
                # render via an Iceberg alias name when one exists
                alias = next(
                    (a for a, eng in aliases.items() if eng == name), name
                )
                key = alias if rng.random() < 0.5 else name
                args.append(f"{key} => {vals[name]}")
        # named args after the positional block may appear in any order
        head, named_part = args[: 1 + n_pos], args[1 + n_pos :]
        rng.shuffle(named_part)
        sql = f"CALL system.{proc}({', '.join(head + named_part)})"
        got_proc, got_table, got_kwargs = _dml.parse_call(sql)
        assert got_proc == proc and got_table == "tbl", sql
        assert got_kwargs == vals, sql

        # illegal mutations
        if named_part:
            dup = sql[:-1] + f", {named_part[0]})"
            with _pt.raises(ValueError, match="duplicate|unknown"):
                _dml.parse_call(dup)
            trailing_pos = sql[:-1] + ", 42)"
            with _pt.raises(ValueError, match="positional|too many|unknown"):
                _dml.parse_call(trailing_pos)
        with _pt.raises(ValueError, match="duplicate table"):
            _dml.parse_call(sql[:-1] + ", table => 'other')")


def _eval_pred(pred, row):
    """Evaluate a generated predicate AST on {'k':int,'v':int,'s':str}."""
    kind = pred[0]
    if kind == "cmp":
        _, col, op, c = pred
        x = row[col]
        return {"<": x < c, ">": x > c, "=": x == c, "<=": x <= c,
                ">=": x >= c, "!=": x != c}[op]
    if kind == "eq_s":
        return row["s"] == pred[1]
    if kind == "and":
        return _eval_pred(pred[1], row) and _eval_pred(pred[2], row)
    if kind == "or":
        return _eval_pred(pred[1], row) or _eval_pred(pred[2], row)
    raise AssertionError(pred)


def _render_pred(pred, rng):
    kind = pred[0]
    if kind == "cmp":
        _, col, op, c = pred
        return f"{col} {op} {c}"
    if kind == "eq_s":
        return f"s = {_render_str_lit(pred[1], rng)}"
    op = _kw("AND" if kind == "and" else "OR", rng)
    return f"({_render_pred(pred[1], rng)}){op}({_render_pred(pred[2], rng)})"


def _gen_pred(rng, depth=0):
    r = rng.random()
    if depth < 1 and r < 0.3:
        return (
            rng.choice(["and", "or"]),
            _gen_pred(rng, depth + 1),
            _gen_pred(rng, depth + 1),
        )
    if r < 0.55:
        return ("eq_s", _fuzz_string(rng))
    return (
        "cmp",
        rng.choice(["k", "v"]),
        rng.choice(["<", ">", "=", "<=", ">=", "!="]),
        rng.randint(-2, 12),
    )


def test_sql_dml_fuzz_execution(spark, tmp_path):
    """Statement chains through Engine.sql versus a straight-line
    Python applier: INSERT INTO/OVERWRITE VALUES with hostile literals,
    DELETE/UPDATE with generated predicates, and MERGE with random
    clause combos — final multiset state must agree after EVERY
    statement (VERDICT r15 #4)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    rng = _random.Random(7)
    eng = Engine(spark, warehouse=str(tmp_path))

    def fresh_rows(n):
        return [
            (rng.randint(0, 9), rng.randint(-5, 15), _fuzz_string(rng))
            for _ in range(n)
        ]

    def values_sql(rows):
        return ", ".join(
            f"({k}, {v}, {_render_str_lit(s, rng)})" for k, v, s in rows
        )

    n_checked = 0
    for chain in range(3):
        tbl = f"fz{chain}"
        init = fresh_rows(rng.randint(1, 6))
        eng.sql(
            f"CREATE TABLE {tbl} AS SELECT * FROM VALUES {values_sql(init)} "
            "AS _v(k, v, s)"
        )
        state = list(init)  # multiset mirror
        for _step in range(12):
            op = rng.choice(["insert", "overwrite", "delete", "update", "merge"])
            if op == "insert":
                rows = fresh_rows(rng.randint(1, 4))
                eng.sql(f"INSERT INTO {tbl} VALUES {values_sql(rows)}")
                state.extend(rows)
            elif op == "overwrite":
                rows = fresh_rows(rng.randint(1, 4))
                eng.sql(f"INSERT OVERWRITE {tbl} VALUES {values_sql(rows)}")
                state = list(rows)
            elif op == "delete":
                pred = _gen_pred(rng)
                eng.sql(
                    f"DELETE FROM {tbl} WHERE {_render_pred(pred, rng)}"
                    + ("  -- drop\n" if rng.random() < 0.3 else "")
                )
                state = [
                    r for r in state
                    if not _eval_pred(pred, dict(zip("kvs", r)))
                ]
            elif op == "update":
                pred = _gen_pred(rng)
                delta = rng.randint(-3, 3)
                new_s = _fuzz_string(rng)
                eng.sql(
                    f"UPDATE {tbl} SET v = v + {delta}, "
                    f"s = {_render_str_lit(new_s, rng)} "
                    f"WHERE {_render_pred(pred, rng)}"
                )
                state = [
                    (k, v + delta, new_s)
                    if _eval_pred(pred, {"k": k, "v": v, "s": s})
                    else (k, v, s)
                    for k, v, s in state
                ]
            else:  # merge
                # unique-key source (duplicate source keys are a
                # cardinality error by SQL MERGE semantics)
                src_rows = {}
                for k, v, s in fresh_rows(rng.randint(1, 5)):
                    src_rows[k] = (k, v, s)
                src = sorted(src_rows.values())
                spark.createDataFrame(
                    src, "k int, v int, s string"
                ).createOrReplaceTempView("src")
                ast = _gen_merge_ast(rng, target=tbl, source="src")
                eng.sql(_render_merge(ast, rng))
                # --- python applier (engine precedence == SQL textual
                # order for the accepted grammar: delete_cond, update) ---
                by_k = {r[0]: r for r in src}
                new_state = []
                for row in state:
                    srow = by_k.get(row[0])
                    if srow is None:
                        new_state.append(row)
                        continue
                    t_d = dict(zip("kvs", row))
                    s_d = dict(zip("kvs", srow))
                    dc = ast["del_cond"]
                    hit_delete = False
                    if dc == "true":
                        hit_delete = True
                    elif dc is not None:
                        hit_delete = _eval_merge_cond(dc, t_d, s_d, ast["lit"])
                    if hit_delete:
                        continue
                    if ast["upd_expr"] is not None:
                        t_d["v"] = _eval_merge_expr(
                            ast["upd_expr"], t_d, s_d, ast
                        )
                    new_state.append((t_d["k"], t_d["v"], t_d["s"]))
                if ast["insert"]:
                    tgt_keys = {r[0] for r in state}
                    new_state.extend(
                        r for r in src if r[0] not in tgt_keys
                    )
                state = new_state
            got = sorted(
                (r.k, r.v, r.s) for r in eng.table(tbl).collect()
            )
            assert got == sorted(state), (
                f"state diverged after step {_step} ({op}) on {tbl}:\n"
                f"spark={got}\npython={sorted(state)}"
            )
            n_checked += 1
    assert n_checked == 36


def _eval_merge_cond(cond, t, s, lit):
    """Evaluate _gen_merge_ast's fixed condition menu."""
    if _re.match(r"^\S+\.v < \S+\.v$", cond):
        return t["v"] < s["v"]
    m = _re.match(r"^\S+\.v > (-?\d+)$", cond)
    if m:
        return s["v"] > int(m.group(1))
    if cond.endswith(".s = {lit}") or ".s = {lit}" in cond:
        return t["s"] == lit
    if cond.endswith("v % 2 = 0"):
        return s["v"] % 2 == 0
    raise AssertionError(cond)


def _eval_merge_expr(expr, t, s, ast):
    """Evaluate _gen_merge_ast's fixed SET-expr menu."""
    e = expr.strip()
    if e == "0":
        return 0
    sq = ast["s_alias"] or ast["source"]

    def term(p):
        if p.endswith(".v"):
            return s["v"] if p.split(".")[0] == sq else t["v"]
        return int(p)

    return sum(term(p) for p in (x.strip() for x in e.split("+")))


# --- qd9's funnel engine vs brute force (review-pass r18) -------------------
# The fixture gate is vacuous for the funnel's DEFINING semantics: at
# every fixture SF all users complete all stages and the strictly-after
# condition eliminates zero users (verified — deleting the ts > prev.t
# filter reproduces the oracle-matching output).  This net pins the
# sequential semantics on data WITH attrition, ordering violations and
# first-arrival ties, against a brute-force Python funnel.

_funnel_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),          # user_id
        st.sampled_from(["signup", "view", "click", "purchase", "other"]),
        st.integers(min_value=0, max_value=40),         # ts seconds
    ),
    min_size=0,
    max_size=60,
)


def _brute_funnel(rows, funnel):
    """Per user: stage i's arrival = min ts of funnel[i] events STRICTLY
    after the user's stage-(i-1) arrival; stage counts = users reaching
    each stage."""
    byuser = {}
    for u, et, ts in rows:
        byuser.setdefault(u, []).append((et, ts))
    counts = []
    reach = {u: None for u in byuser}  # user -> prev-stage arrival ts
    alive = set(byuser)
    for name in funnel:
        nxt = {}
        for u in alive:
            cand = [
                ts
                for et, ts in byuser[u]
                if et == name and (reach[u] is None or ts > reach[u])
            ]
            if cand:
                nxt[u] = min(cand)
        counts.append(len(nxt))
        alive = set(nxt)
        reach = nxt
    return counts


@given(rows=_funnel_events)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_funnel_stages_matches_bruteforce(spark, rows):
    import datetime

    from dbx_workspace_and_emr_iceberg_spark.queries.tpch_suite3 import (
        funnel_stages,
    )

    funnel = ["signup", "view", "click", "purchase"]
    base = datetime.datetime(2024, 1, 1)
    data = [
        (u, et, base + datetime.timedelta(seconds=ts)) for u, et, ts in rows
    ]
    ev = spark.createDataFrame(
        data, "user_id long, event_type string, ts timestamp"
    )
    got = funnel_stages(ev, funnel).collect()
    want = _brute_funnel(rows, funnel)
    assert [r.n_users for r in got] == want, (rows, want, [tuple(r) for r in got])
    # conv_bp recomputed: n_i * 10000 // n_{i-1}, NULL when prev == 0
    prev = None
    for r, n in zip(got, want):
        # lag(..., 1, n_users): stage 1 divides by its own count; a
        # zero divisor is NULL via nullif, never a div-by-zero abort
        den = prev if prev is not None else n
        expect = None if den == 0 else n * 10000 // den
        assert r.conv_bp == expect, (rows, [tuple(r) for r in got])
        prev = n
    spark.catalog.clearCache()


# --- the scan planner: planned files ⊇ files holding a matching row ---------

def _instants(tz):
    """Timestamps around whole seconds, hours and days, some with a
    fraction; zoned (UTC) when ``tz`` is given."""
    import datetime

    base = datetime.datetime(2024, 1, 1, tzinfo=tz)
    return [
        base + datetime.timedelta(seconds=s)
        for s in (0, 0.000001, 1.5, 59.999999, 3600, 3600.25, 86400, 86400 * 3)
    ]


_UTC = __import__("datetime").timezone.utc
_PLAN_COLS = {
    # logical column -> (SQL literal, value pool)
    "l2": (str, list(range(8))),
    "s": (lambda v: f"'{v}'", ["a", "ab", "b", "c", "d"]),
    "d": (
        lambda v: f"DATE'{v.isoformat()}'",
        [__import__("datetime").date(2024, 1, 1 + i) for i in range(8)],
    ),
    # the session zone is UTC, so a zoned literal spells its UTC time
    "ts": (
        lambda v: f"TIMESTAMP'{v.replace(tzinfo=None).isoformat(sep=' ')}'",
        _instants(_UTC),
    ),
    "tn": (
        lambda v: f"TIMESTAMP_NTZ'{v.isoformat(sep=' ')}'",
        _instants(None),
    ),
}


@st.composite
def _plan_leaf(draw):
    col = draw(st.sampled_from(sorted(_PLAN_COLS)))
    pool = _PLAN_COLS[col][1]
    op = draw(st.sampled_from(["=", "<", "<=", ">", ">=", "IN", "IS NULL"]))
    if op == "IS NULL":
        return (op, col, None)
    if op == "IN":
        return (op, col, draw(st.lists(st.sampled_from(pool), min_size=1, max_size=3)))
    return (op, col, draw(st.sampled_from(pool)))


_plan_cond = st.recursive(
    _plan_leaf(),
    lambda sub: st.tuples(st.sampled_from(["AND", "OR"]), sub, sub),
    max_leaves=4,
)


def _plan_sql(c) -> str:
    if c[0] in ("AND", "OR"):
        return f"({_plan_sql(c[1])} {c[0]} {_plan_sql(c[2])})"
    op, col, v = c
    lit = _PLAN_COLS[col][0]
    if op == "IS NULL":
        return f"{col} IS NULL"
    if op == "IN":
        return f"{col} IN ({', '.join(lit(x) for x in v)})"
    return f"{col} {op} {lit(v)}"


def _plan_eval(c, row):
    """SQL three-valued truth of condition ``c`` on ``row`` (None =
    UNKNOWN)."""
    import operator

    if c[0] in ("AND", "OR"):
        a, b = _plan_eval(c[1], row), _plan_eval(c[2], row)
        if c[0] == "AND":
            return False if False in (a, b) else (None if None in (a, b) else True)
        return True if True in (a, b) else (None if None in (a, b) else False)
    op, col, v = c
    x = row[col]
    if op == "IS NULL":
        return x is None
    if x is None:
        return None
    if op == "IN":
        return x in v
    return {
        "=": operator.eq, "<": operator.lt, "<=": operator.le,
        ">": operator.gt, ">=": operator.ge,
    }[op](x, v)


@st.composite
def _plan_files_case(draw):
    """Four files of rows over ``(l, s, d, ts, tn)``: NULL-heavy, some columns
    all-NULL in a file; ``l`` is renamed to ``l2`` after the first two
    files, so those prune on their physical ``l`` stats."""
    files = []
    for _ in range(4):
        all_null = draw(st.sets(st.sampled_from(sorted(_PLAN_COLS)), max_size=1))
        rows = []
        for _ in range(draw(st.integers(1, 6))):
            rows.append(
                tuple(
                    None
                    if col in all_null
                    else draw(st.sampled_from([None, None] + pool))
                    for col, (_, pool) in sorted(_PLAN_COLS.items())
                )
            )
        files.append(rows)
    # planning runs no job, so each table checks many conditions
    conds = draw(st.lists(_plan_cond, min_size=16, max_size=16))
    return files, conds


@given(_plan_files_case())
@SLOW
def test_plan_files_keeps_every_file_with_a_match(spark, case):
    import pyarrow.parquet as pq

    files, conds = case
    wh = tempfile.mkdtemp(prefix="lh_plan_")
    try:
        t = LakehouseTable(spark, wh, "t")
        # column order follows sorted(_PLAN_COLS): d, l2 (as l), s, tn, ts
        for i, rows in enumerate(files):
            name = "l" if i < 2 else "l2"
            df = spark.createDataFrame(
                rows, f"d date, {name} long, s string, tn timestamp_ntz, ts timestamp"
            )
            if i == 0:
                t.create(df.coalesce(1))
            else:
                t.append(df.coalesce(1))
            if i == 1:
                t.rename_column("l", "l2")
        m = t._read_manifest(t.main_head())
        assert len(m["files"]) == 4
        for c in conds:
            planned, report = t._plan_files(m, F.expr(_plan_sql(c)))
            assert report["planned_files"] == len(planned)
            for f in m["files"]:
                rows = pq.read_table(f).to_pylist()
                rows = [
                    {
                        "l2": r.get("l2", r.get("l")),
                        "s": r["s"],
                        "d": r["d"],
                        "tn": r["tn"],
                        # int64 timestamps read back zoned UTC, legacy
                        # INT96 ones naive UTC: pin both to UTC
                        "ts": r["ts"] and r["ts"].replace(tzinfo=_UTC),
                    }
                    for r in rows
                ]
                if any(_plan_eval(c, r) is True for r in rows):
                    assert f in planned, (_plan_sql(c), rows, m["stats"][f])
    finally:
        shutil.rmtree(wh, ignore_errors=True)


#: the names the column-map sequences draw from: few enough that a
#: rename or an add often reuses a name an earlier step dropped or
#: renamed away
_MAP_NAMES = ["a", "b", "c"]
_MAP_VALUES = st.integers(0, 20)
_MAP_OPS = st.lists(
    st.tuples(
        st.one_of(
            st.tuples(
                st.just("add"),
                st.sampled_from(_MAP_NAMES),
                st.one_of(st.none(), _MAP_VALUES),
            ),
            st.tuples(
                st.just("rename"),
                st.sampled_from(_MAP_NAMES),
                st.sampled_from(_MAP_NAMES),
            ),
            st.tuples(st.just("drop"), st.sampled_from(_MAP_NAMES)),
            st.tuples(st.just("append"), st.integers(1, 3)),
            st.tuples(st.just("delete"), st.integers(0, 6)),
            st.tuples(
                st.just("update"),
                st.sampled_from(_MAP_NAMES),
                st.integers(0, 6),
                _MAP_VALUES,
            ),
            st.just(("compact",)),
        ),
        # which column and value the planner check after the op asks
        # for (see _map_probe)
        st.integers(0, 3),
        st.integers(0, 20),
    ),
    min_size=1,
    max_size=5,
)


def _map_value(k: int, col: str) -> int:
    """What an appended row stores in ``col``: close to its key, so each
    file spans a narrow range and a stale stat would prune wrongly."""
    return k + _MAP_NAMES.index(col)


def _map_probe(cols, rows, ci: int, vi: int):
    """The planner check's ``(col, v)``: the ``ci``-th column from the
    schema's end (0 = the newest) and one of the values it holds."""
    col = cols[-1 - ci % len(cols)]
    held = sorted({r[col] for r in rows if r[col] is not None}) or [0]
    return col, held[vi % len(held)]


def _map_step(spark, t, cols, rows, op, next_k):
    """Apply ``op`` to the table and to the row model (``cols`` is the
    schema order, ``rows`` one dict per row); an op whose precondition
    fails is skipped on both. Returns the next unused key."""
    kind = op[0]
    if kind == "add" and op[1] not in cols:
        t.add_column(op[1], "bigint", default=op[2])
        cols.append(op[1])
        for r in rows:
            r[op[1]] = op[2]
    elif kind == "rename" and op[1] in cols and op[2] not in cols:
        t.rename_column(op[1], op[2])
        cols[cols.index(op[1])] = op[2]
        for r in rows:
            r[op[2]] = r.pop(op[1])
    elif kind == "drop" and op[1] in cols:
        t.drop_column(op[1])
        cols.remove(op[1])
        for r in rows:
            del r[op[1]]
    elif kind == "append":
        new = [
            {c: k if c == "k" else _map_value(k, c) for c in cols}
            for k in range(next_k, next_k + op[1])
        ]
        schema = ", ".join(f"{c} bigint" for c in cols)
        t.append(
            spark.createDataFrame([tuple(r[c] for c in cols) for r in new], schema)
            .coalesce(1)
        )
        rows.extend(new)
        next_k += op[1]
    elif kind == "delete":
        t.delete_where(F.col("k") % 7 == op[1])
        rows[:] = [r for r in rows if r["k"] % 7 != op[1]]
    elif kind == "update" and op[1] in cols:
        t.update_set(F.col("k") % 7 == op[2], {op[1]: F.lit(op[3])})
        for r in rows:
            if r["k"] % 7 == op[2]:
                r[op[1]] = op[3]
    elif kind == "compact":
        t.compact(2)
    return next_k


@given(ops=_MAP_OPS)
# the files still store a dropped column's values under its name
@example(ops=[(("drop", "a"), 0, 0), (("add", "a", 20), 0, 0)])
# the files store b under the name a
@example(ops=[(("rename", "a", "b"), 0, 0), (("add", "a", 20), 0, 0)])
# renamed back to the old name, over files of both names
@example(
    ops=[
        (("rename", "a", "b"), 0, 0),
        (("append", 2), 0, 0),
        (("rename", "b", "a"), 0, 9),
        (("delete", 3), 0, 2),
    ]
)
@settings(
    # with the three explicit examples, 15 sequences in all
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_column_map_reads_and_plans_like_row_model(spark, ops):
    """Any sequence of column evolution and DML on a multi-file table:
    every read equals a pure-Python row model, and the planner keeps
    every file whose own scan holds a row with ``col == v`` — a file's
    stats never stand in for a column it holds no value for."""
    from functools import reduce

    wh = tempfile.mkdtemp(prefix="lh_map_")
    try:
        t = LakehouseTable(spark, wh, "t")
        cols = ["k", "a"]
        rows = [{"k": k, "a": _map_value(k, "a")} for k in range(8)]
        t.create(
            spark.createDataFrame([(r["k"], r["a"]) for r in rows], "k bigint, a bigint")
            .repartition(2, "k")
        )
        next_k = 8
        for op, ci, vi in ops:
            next_k = _map_step(spark, t, cols, rows, op, next_k)
            df = t.read()
            assert df.columns == cols, op
            got = sorted(tuple(r) for r in df.collect())
            assert got == sorted(tuple(r[c] for c in cols) for r in rows), op
            m = t._read_manifest(t.main_head())
            col, v = _map_probe(cols, rows, ci, vi)
            cond = F.col(col) == v
            planned, _ = t._plan_files(m, cond)
            hits = reduce(
                lambda a, b: a.union(b),
                [
                    t._scan_files([f], m).filter(cond).select(F.lit(i).alias("i"))
                    for i, f in enumerate(m["files"])
                ],
            ).distinct().collect()
            for r in hits:
                assert m["files"][r.i] in planned, (op, col, v, m)
    finally:
        shutil.rmtree(wh, ignore_errors=True)
