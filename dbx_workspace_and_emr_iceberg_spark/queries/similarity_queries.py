"""X3: similarity-search queries over `embeddings` (SURVEY.md §2.12)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import ann_topk_lsh, cosine_topk
from ..registry import register
from ..tables import load_table

# --- X3: exact brute-force top-k cosine ------------------------------------

_X3_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv FROM embeddings WHERE vec_id % 50 = 0
),
scored AS (
  SELECT
    q.query_id,
    ed.vec_id AS neighbor_id,
    list_dot_product(q.qv, ed.ev)
      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(ed.ev, ed.ev))) AS cos
  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings) ed CROSS JOIN q
  WHERE ed.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cosine, cast(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


@register("x3_topk_cosine", oracle=_X3_ORACLE, tags=("X3",))
def x3_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    topk = cosine_topk(e, q, k=5)
    return topk.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        "rank",
    ).orderBy("query_id", "rank")


# --- X3b: LSH-bucketed approximate NN (self-verified recall) ---------------


def _per_query_le_k(approx: DataFrame, k: int) -> bool:
    """True iff every query in a ranked ANN frame carries at most k
    rows and no rank exceeds k — the bound clause of the x3b/x3e
    contract oracles (one bounded two-level aggregate)."""
    b = (
        approx.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("c"), F.max("rank").alias("mr"))
        .agg(F.max("c").alias("mc"), F.max("mr").alias("mmr"))
        .first()
    )
    return (b.mc or 0) <= k and (b.mmr or 0) <= k


_X3B_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(1 AS BIGINT) AS per_query_le_k,
       CAST(1 AS BIGINT) AS recall_ge_threshold
FROM embeddings WHERE vec_id % 50 = 0
"""


@register("x3b_ann_lsh", oracle=_X3B_ORACLE, tags=("X3",))
def x3b_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via deterministic hyperplane LSH (4 planes × 8 tables —
    wider buckets, more tables: per-table collision for a neighbor at
    angle θ is (1-θ/π)^planes, so fewer planes per table + a union over
    more tables is what lifts recall for mid-cosine neighbors).
    Contract-ORACLED (the x3e pattern): recall@5 ≥ 0.5 vs the
    exact result and the per-query k bound as hash-checked 0/1
    flags (approximate by design; the threshold IS the contract)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    # cache: approx feeds the recall join AND the returned frame; exact
    # feeds the join and its count — both are ≤ k·|queries| rows. Pins
    # cleared by the harness (bench.py / driver_sim clearCache).
    approx = (
        ann_topk_lsh(e, q, k=5, n_planes=4, n_tables=8)
        .select("query_id", "neighbor_id", "rank")
        .cache()
    )
    exact = cosine_topk(e, q, k=5).select(
        "query_id", F.col("neighbor_id").alias("exact_neighbor")
    ).cache()
    hit = approx.join(
        exact,
        (approx.query_id == exact.query_id)
        & (approx.neighbor_id == exact.exact_neighbor),
    ).count()
    total = exact.count()
    # NO raise before the flag (the x3d rule): an in-query
    # AssertionError duplicating the hashed recall_ge_threshold
    # condition would make the flag structurally
    # constant — a recall regression must reach the driver as a hash
    # mismatch, not abort the sweep.  (per_query_le_k is weaker: the
    # rank<=k filter inside ann_topk_lsh enforces it by construction,
    # so it documents the contract rather than re-proving it.)
    return spark.createDataFrame(
        [
            (
                q.count(),
                int(_per_query_le_k(approx, 5)),
                int(total == 0 or hit / total >= 0.5),
            )
        ],
        "n_queries long, per_query_le_k long, recall_ge_threshold long",
    )


# --- X3c: pairwise cosine among a labeled subset (embedding arithmetic) ----

_X3C_ORACLE = """
WITH s AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding,
         sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings WHERE vec_id % 100 = 0
)
SELECT
  a.vec_id AS id_a,
  b.vec_id AS id_b,
  (a.label = b.label)                                   AS same_label,
  round(list_dot_product(a.embedding, b.embedding) / (a.nrm * b.nrm), 6) AS cosine,
  round(sqrt(list_dot_product(
      list_transform(list_zip(a.embedding, b.embedding), p -> p[1] - p[2]),
      list_transform(list_zip(a.embedding, b.embedding), p -> p[1] - p[2]))), 6) AS l2_dist
FROM s a JOIN s b ON a.vec_id < b.vec_id
ORDER BY id_a, id_b
"""


@register("x3c_pairwise_metrics", oracle=_X3C_ORACLE, tags=("X3",))
def x3c_pairwise_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 100 == 0)
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("la"),
        F.col("embedding").alias("ea"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("lb"),
        F.col("embedding").alias("eb"),
    )
    dot = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    diff = F.zip_with("ea", "eb", lambda x, y: x.cast("double") - y.cast("double"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (F.col("la") == F.col("lb")).alias("same_label"),
            F.round(
                dot(F.col("ea"), F.col("eb"))
                / (F.sqrt(dot(F.col("ea"), F.col("ea"))) * F.sqrt(dot(F.col("eb"), F.col("eb")))),
                6,
            ).alias("cosine"),
            F.round(F.sqrt(dot(diff, diff)), 6).alias("l2_dist"),
        )
        .orderBy("id_a", "id_b")
    )


# --- X3d: vectorized exact top-k (the scale path; contract-oracled) ---------

_X3D_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(1 AS BIGINT) AS rows_per_query_le_k,
       CAST(1 AS BIGINT) AS agreement_ge_95
FROM embeddings WHERE vec_id % 50 = 0
"""


@register("x3d_topk_vectorized", oracle=_X3D_ORACLE, tags=("X3", "D5"))
def x3d_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numpy-matmul top-k via mapInPandas (see cosine_topk_vectorized).

    CONTRACT-ORACLED (x3e/o5 precedent): the raw
    VALUES are float-ulp tie-sensitive — numpy's fused dot products
    can order two near-equal cosines differently from the interpreted
    JVM fold, swapping tail ranks, which is why this entry was
    rows-only (x3h is the integer-exact value twin) — but the contract
    is not: the fast path must (a) cover every query vector, (b)
    return at most k rows per query, and (c) agree with the
    hash-green interpreted x3 on >= 95% of (query, neighbor) pairs.
    Flags are computed WITHOUT preceding asserts, so a
    violation reaches the driver as a hash mismatch rather than dying
    in-query where the oracle can't see it."""
    from collections import Counter

    from ..operators.similarity import cosine_topk, cosine_topk_vectorized

    K = 5
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    fast = cosine_topk_vectorized(e, q, k=K).select(
        "query_id", "neighbor_id", "rank"
    )
    slow = cosine_topk(e, q, k=K).select(
        "query_id", F.col("neighbor_id").alias("slow_neighbor")
    )
    fast_rows = fast.collect()  # bounded: <= k * |queries|
    slow_set = {(r.query_id, r.slow_neighbor) for r in slow.collect()}
    fast_set = {(r.query_id, r.neighbor_id) for r in fast_rows}
    overlap = len(fast_set & slow_set) / max(len(slow_set), 1)
    per_q = Counter(r.query_id for r in fast_rows)
    return spark.createDataFrame(
        [
            (
                len(per_q),
                int(all(v <= K for v in per_q.values())),
                int(overlap >= 0.95),
            )
        ],
        "n_queries bigint, rows_per_query_le_k bigint, "
        "agreement_ge_95 bigint",
    )


# --- X3g: vectorized top-k, bench-clean AND value-oracled -------------------
# Shared with x3h (defined below, where the integer-exact ranking is
# documented): both rank by sign(dd)·((dd²·scale) div n2) over
# quantized unit vectors, so one oracle replays both plans.

_X3H_SCALE = 1_000
_X3H_K = 5

_X3H_ORACLE = f"""
WITH vec AS (
  SELECT vec_id, vq,
         CAST(list_sum(list_transform(vq, x -> x*x)) AS BIGINT) AS n2
  FROM (
    SELECT vec_id,
           list_transform(
             emb, x -> CAST(floor(x / sqrt(n2d) * {_X3H_SCALE} + 0.5)
                            AS BIGINT)) AS vq
    FROM (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
                 list_reduce(list_transform(
                   list_transform(embedding, x -> CAST(x AS DOUBLE)),
                   x -> x*x), (a, b) -> a + b) AS n2d
          FROM embeddings))
),
pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         CAST(list_sum(list_transform(list_zip(q.vq, c.vq),
                                      p -> p[1]*p[2])) AS BIGINT) AS dd,
         c.n2 AS n2c
  FROM (SELECT * FROM vec WHERE vec_id % 50 = 0) q
  JOIN vec c ON c.vec_id <> q.vec_id
),
ranked AS (
  SELECT q_id, n_id,
         CASE WHEN dd >= 0 THEN (dd*dd*{_X3H_SCALE}) // n2c
              ELSE -((dd*dd*{_X3H_SCALE}) // n2c) END AS sim_key,
         row_number() OVER (
           PARTITION BY q_id
           ORDER BY CASE WHEN dd >= 0 THEN (dd*dd*{_X3H_SCALE}) // n2c
                         ELSE -((dd*dd*{_X3H_SCALE}) // n2c) END DESC,
                    n_id) AS rk
  FROM pairs
)
SELECT q_id, CAST(rk AS BIGINT) AS rank, n_id AS neighbor_id, sim_key
FROM ranked WHERE rk <= {_X3H_K}
ORDER BY q_id, rank
"""


@register("x3g_topk_vectorized_bench", oracle=_X3H_ORACLE, tags=("X3", "D5"))
def x3g_topk_vectorized_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The numpy-matmul top-k ALONE, as a single-execution plan — the
    head-to-head bench twin of x3_topk_cosine (same inputs, same k).

    VALUE-ORACLED: the matmul runs over quantized unit vectors
    (cosine_topk_int_vectorized), where every float64 partial product
    and partial sum is an exact integer « 2⁵³, so the ranking is x3h's
    sign(dd)·((dd²·scale) div n2) key — deterministic, ulp-free, and
    replayed value-for-value by the shared _X3H_ORACLE. The bench role
    survives intact: one JVM quantization pass feeds the identical
    per-batch numpy matmul hot loop, with NO internal action (bench
    timing must cost ONE execution of the plan — x3d pays the
    double-execution contract check so this entry doesn't have to)."""
    from ..operators.semantic import quantized_unit_vectors
    from ..operators.similarity import cosine_topk_int_vectorized

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    quant = quantized_unit_vectors(e, "vec_id", "embedding", _X3H_SCALE)
    qs = quant.filter(F.col("vec_id") % 50 == 0)
    out = cosine_topk_int_vectorized(quant, qs, k=_X3H_K, scale=_X3H_SCALE)
    return out.select(
        "q_id",
        F.col("rank").cast("long").alias("rank"),
        F.col("n_id").alias("neighbor_id"),
        "sim_key",
    ).orderBy("q_id", "rank")


# --- X3e: IVF-partitioned ANN (contract-oracled) ----------------------------
# ANN output is seed/partition-order sensitive in general, so the
# VALUES aren't SQL-replayable — but the CONTRACT is (o5 precedent):
# with deterministic centroid seeding the whole
# pipeline must reproduce bit-identically, every query must return at
# most k ranked neighbors none of which is itself, and recall@5 vs the
# oracle-checked exact scorer must clear the floor. Each clause is a
# bigint 0/1 flag the driver hash-checks, so any violation hash-reds
# instead of silently passing a rows-only sample.

_X3E_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(1 AS BIGINT) AS per_query_le_k,
       CAST(1 AS BIGINT) AS no_self_match,
       CAST(1 AS BIGINT) AS recall_ge_threshold,
       CAST(1 AS BIGINT) AS reproducible
FROM embeddings WHERE vec_id % 50 = 0
"""


@register("x3e_ivf_ann", oracle=_X3E_ORACLE, tags=("X3",))
def x3e_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (16 cells, probe 4, 2 Lloyd iterations — deterministic
    init from lowest-id vectors), contract-oracled: recall@5 ≥ 0.5 vs
    exact (scanning ~25% of cells should beat that comfortably on
    clustered data — the floor guards the plumbing, not the
    statistics), ≤ k ranked neighbors per query, no self-matches, and
    a full second run reproduces the first bit-identically."""
    from ..operators.similarity import cosine_topk, ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    # cache: feeds the recall join, the bound checks, the repro diff,
    # and the counts — all over a ≤ k·|queries| row frame (pins cleared
    # by the harness: bench.py / driver_sim clearCache)
    approx = ivf_topk(e, q, k=5).select("query_id", "neighbor_id", "rank").cache()
    exact = cosine_topk(e, q, k=5).select(
        "query_id", F.col("neighbor_id").alias("exact_neighbor")
    ).cache()
    hit = approx.join(
        exact,
        (approx.query_id == exact.query_id)
        & (approx.neighbor_id == exact.exact_neighbor),
    ).count()
    total = exact.count()
    recall_ok = (total == 0) or (hit / total >= 0.5)
    le_k = _per_query_le_k(approx, 5)
    no_self = (
        approx.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0
    )
    # reproducibility: a SECOND full pipeline run (fresh Lloyd passes,
    # fresh assignment) must emit the identical ranked set
    approx2 = ivf_topk(e, q, k=5).select("query_id", "neighbor_id", "rank")
    repro = (
        approx.exceptAll(approx2).count() == 0
        and approx2.exceptAll(approx).count() == 0
    )
    return spark.createDataFrame(
        [
            (
                q.count(),
                int(le_k),
                int(no_self),
                int(recall_ok),
                int(repro),
            )
        ],
        "n_queries long, per_query_le_k long, no_self_match long, "
        "recall_ge_threshold long, reproducible long",
    )


# --- X10: int8 embedding quantization (shuffle/storage compression) ---------
# Symmetric per-vector int8: scale = max|x|/127, q_i = floor(x_i/scale + 0.5).
# At 100 TB the similarity ops are shuffle-bound on vector payloads; int8
# moves 4x fewer bytes with ~1e-3 cosine loss — quantize BEFORE the shuffle,
# rescore survivors at full precision. floor(x+0.5) (not round) keeps the
# two engines bit-identical on halfway cases; everything below is
# element-wise, so no list-zip semantics can diverge.

_X10_ORACLE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / 127 AS scale
  FROM v
),
m AS (
  SELECT vec_id, scale,
         list_max(list_transform(e,
           x -> abs(x - floor(x/scale + 0.5)*scale)))               AS max_err,
         list_sum(list_transform(e,
           x -> x * floor(x/scale + 0.5)*scale))                    AS dot_ed,
         sqrt(list_sum(list_transform(e, x -> x*x)))                AS n_e,
         sqrt(list_sum(list_transform(e,
           x -> (floor(x/scale + 0.5)*scale)*(floor(x/scale + 0.5)*scale))))
                                                                    AS n_d
  FROM s
)
SELECT vec_id,
       round(scale, 6)                AS qscale,
       round(max_err / scale, 4)      AS err_ratio,
       round(dot_ed / (n_e * n_d), 4) AS recon_cos
FROM m
ORDER BY vec_id
"""


@register("x10_int8_quantization", oracle=_X10_ORACLE, tags=("X3", "F4"))
def x10_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization of the embedding column
    with reconstruction-quality metrics: err_ratio must sit in [0, 0.5]
    by construction (half-step bound) and recon_cos ~1. The hash-match
    against DuckDB proves the quantizer, the dequantizer, and the
    quality math all agree across engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))

    def deq(x, scale):
        return F.floor(x / scale + 0.5) * scale

    df = emb.select(
        "vec_id",
        e.alias("e"),
        (F.array_max(F.transform(e, F.abs)) / 127).alias("scale"),
    )
    df = df.select(
        "vec_id",
        "scale",
        F.array_max(
            F.transform("e", lambda x: F.abs(x - deq(x, F.col("scale"))))
        ).alias("max_err"),
        F.aggregate(
            F.transform("e", lambda x: x * deq(x, F.col("scale"))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("dot_ed"),
        F.sqrt(
            F.aggregate(
                F.transform("e", lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("n_e"),
        F.sqrt(
            F.aggregate(
                F.transform("e", lambda x: deq(x, F.col("scale")) * deq(x, F.col("scale"))),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("n_d"),
    )
    return df.select(
        "vec_id",
        F.round("scale", 6).alias("qscale"),
        F.round(F.col("max_err") / F.col("scale"), 4).alias("err_ratio"),
        F.round(F.col("dot_ed") / (F.col("n_e") * F.col("n_d")), 4).alias("recon_cos"),
    ).orderBy("vec_id")


# --- X3f: per-language centroids + cohesion --------------------------------

_X3F_ORACLE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
j AS (
  SELECT d.lang, v.vec_id, v.emb
  FROM v JOIN documents d ON v.vec_id = d.doc_id
),
el AS (
  SELECT lang, vec_id,
         generate_subscripts(emb, 1) AS i,
         unnest(emb) AS x
  FROM j
),
cent AS (SELECT lang, i, avg(x) AS c FROM el GROUP BY 1, 2),
per_vec AS (
  SELECT el.lang, el.vec_id,
         sum(el.x * cent.c) AS dot,
         sum(el.x * el.x)   AS snx,
         sum(cent.c * cent.c) AS snc
  FROM el JOIN cent ON el.lang = cent.lang AND el.i = cent.i
  GROUP BY 1, 2
)
SELECT lang,
       count(*) AS n_vecs,
       round(avg(dot / (sqrt(snx) * sqrt(snc))), 6) AS avg_cos_to_centroid,
       round(min(dot / (sqrt(snx) * sqrt(snc))), 6) AS min_cos_to_centroid
FROM per_vec GROUP BY lang ORDER BY lang
"""


@register("x3f_lang_centroids", oracle=_X3F_ORACLE, tags=("X3", "X4"))
def x3f_lang_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language embedding centroid + cosine cohesion (avg/min
    cosine of each vector to its language centroid) — the cluster-
    quality / drift metric run over every embedding batch before it
    enters an index. Shape: posexplode → per-(lang,dim) mean (shuffles
    (lang,dim,partial) triples, never vectors) → rejoin → per-vector
    cosine → per-lang rollup. All sums are over ~corpus-sized doubles
    with round(6) well above accumulated ulp error; dim index only
    ever used for within-engine grouping, so 0- vs 1-based doesn't
    matter."""
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    v = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    ).join(d, "vec_id")
    el = v.select(
        "lang", "vec_id", F.posexplode("emb").alias("i", "x")
    )
    cent = el.groupBy("lang", "i").agg(F.avg("x").alias("c"))
    per_vec = (
        el.join(cent, ["lang", "i"])
        .groupBy("lang", "vec_id")
        .agg(
            F.sum(F.col("x") * F.col("c")).alias("dot"),
            F.sum(F.col("x") * F.col("x")).alias("snx"),
            F.sum(F.col("c") * F.col("c")).alias("snc"),
        )
    )
    cos = F.col("dot") / (F.sqrt("snx") * F.sqrt("snc"))
    return (
        per_vec.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg(cos), 6).alias("avg_cos_to_centroid"),
            F.round(F.min(cos), 6).alias("min_cos_to_centroid"),
        )
        .orderBy("lang")
    )


# --- X29: seeded random-projection dimensionality reduction -----------------
# The standard cheap pre-ANN step (Johnson-Lindenstrauss): project
# d=64 embeddings to k=16 with a +-1 sign matrix, preserving pairwise
# geometry to O(1/sqrt(k)) so bucketing/clustering downstream runs on
# a quarter of the bytes. The sign matrix is CONTENT-ADDRESSED
# (md5(i:j) parity — the repo's cross-engine hash scheme), so there is
# no model artifact to ship and DuckDB re-derives the identical matrix
# entry-by-entry: the whole projection is value-oracled.
#
# INTEGER-EXACT (the x3g/x1c rule): no float rounding or float sum
# may decide a printed digit. np.round is half-TO-EVEN where DuckDB
# rounds half-away (0.03125 -> 0.0312 vs 0.0313), and BLAS dgemm
# blocks its float sums by Arrow batch size where the oracle folds in
# scan order, so a float matmul differs in ulps. So each element
# quantizes q = floor(x·1e6 + 0.5) (single correctly-rounded IEEE ops,
# the quantized_unit_vectors convention), the ±1 matmul runs in pure
# int64 (|yi| ≤ 64·|q|max « 2⁵³ — exact and ORDER-FREE), and the 4-dp
# display is the d4 integer half-up formula over yi/(4·1e6) (√16 = 4
# exactly), one identical IEEE divide at the end.  DuckDB replays
# every integer.
#
# 100 TB shape: one mapInPandas integer matmul per Arrow batch (the
# embedding-math path, same as x3g) — no explode amplification, no
# shuffle, no driver collect; the 64x16 sign matrix is rebuilt
# in-closure from the hash (cheaper than broadcasting it).
# Self-assert: the mean JL norm ratio ‖y‖/‖xq‖ lies in (0.8, 1.2). The
# projection pass emits both norms beside every row it already holds,
# so the check is one global avg over the cached projection: the
# build scans `embeddings` once and shuffles nothing.

_X29_D_OUT = 16
_X29_SCALE = 1_000_000
_X29_DEN = 4 * _X29_SCALE  # y = yi / (scale · √d_out) = yi / (4·scale)

_X29_ORACLE = f"""
WITH sign AS (
  SELECT i, j,
         CASE WHEN CAST(('0x' || substr(md5(i || ':' || j), 1, 8)) AS BIGINT)
                   % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(generate_series(0, 63)) AS i),
       (SELECT unnest(generate_series(0, {_X29_D_OUT - 1})) AS j)
),
elems AS (
  SELECT vec_id, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) - 1 AS i
  FROM embeddings
),
proj AS (
  SELECT e.vec_id, s.j AS dim,
         CAST(sum(CAST(floor(CAST(e.x AS DOUBLE) * {_X29_SCALE}.0 + 0.5)
                       AS BIGINT) * s.s) AS BIGINT) AS yi
  FROM elems e JOIN sign s ON e.i = s.i
  GROUP BY e.vec_id, s.j
)
SELECT vec_id, CAST(dim AS INTEGER) AS dim,
       CAST(CASE WHEN yi >= 0
                 THEN (2 * yi * 10000 + {_X29_DEN}) // (2 * {_X29_DEN})
                 ELSE -((-2 * yi * 10000 + {_X29_DEN}) // (2 * {_X29_DEN}))
            END AS DOUBLE) / 10000.0 AS y
FROM proj
ORDER BY vec_id, dim
"""


@register("x29_random_projection", oracle=_X29_ORACLE, tags=("X29", "X3", "D5"))
def x29_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib as _hashlib
    from typing import Iterator as _Iterator

    import numpy as _np
    import pandas as _pd

    d_out = _X29_D_OUT

    def _sign_matrix(d_in: int) -> "_np.ndarray":
        m = _np.empty((d_in, d_out), dtype=_np.int64)
        for i in range(d_in):
            for j in range(d_out):
                h = int(
                    _hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8], 16
                )
                m[i, j] = 1 if h % 2 == 0 else -1
        return m

    den = _X29_DEN

    def project(batches: _Iterator[_pd.DataFrame]) -> _Iterator[_pd.DataFrame]:
        mat = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # vq is quantized JVM-side (floor(x·scale + 0.5), single
            # correctly-rounded IEEE ops) — this matmul is pure int64,
            # exact and summation-order-free
            xq = _np.array(
                [_np.asarray(v, dtype=_np.int64) for v in pdf["vq"]]
            )
            if mat is None:
                mat = _sign_matrix(xq.shape[1])
            yi = xq @ mat
            # d4 = round-half-away(yi/den, 4) in pure integers (the d4
            # idiom); the final /1e4 is one identical IEEE divide in
            # both engines
            num = 2 * _np.abs(yi) * 10_000 + den
            d4 = _np.where(yi >= 0, num // (2 * den), -(num // (2 * den)))
            y = d4.astype(_np.float64) / 10_000.0
            # the JL norms in the units of x and y, on every row of
            # the vector: the check's avg weighs each vector d_out
            # times, so its mean is the per-vector mean
            xf = xq.astype(_np.float64)
            yf = yi.astype(_np.float64)
            xn = _np.sqrt((xf * xf).sum(axis=1)) / _X29_SCALE
            yn = _np.sqrt((yf * yf).sum(axis=1)) / den
            n = len(pdf)
            yield _pd.DataFrame(
                {
                    "vec_id": _np.repeat(pdf["vec_id"].to_numpy(), d_out),
                    "dim": _np.tile(_np.arange(d_out, dtype=_np.int32), n),
                    "y": y.reshape(-1),
                    "yn": _np.repeat(yn, d_out),
                    "xn": _np.repeat(xn, d_out),
                }
            )

    embq = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") * F.lit(float(_X29_SCALE)) + F.lit(0.5)
            ),
        ).alias("vq"),
    )
    # cached: the projection has two consumers, the JL check's collect
    # (which materializes the cache) and the returned frame, so the
    # matmul and the scan under it run once per invocation.  The
    # harness's clearCache drops the pin.
    out = embq.mapInPandas(
        project, "vec_id bigint, dim int, y double, yn double, xn double"
    ).cache()
    # the ratio divides in Spark, so a zero-norm vector raises ANSI
    # DIVIDE_BY_ZERO (NULL, skipped by avg, with ANSI off)
    r = out.agg(F.avg(F.col("yn") / F.col("xn")).alias("r")).collect()[0].r
    if not (0.8 < r < 1.2):
        raise AssertionError(f"JL norm ratio off: {r}")
    return out.select("vec_id", "dim", "y").orderBy("vec_id", "dim")


# --- X3h: integer-exact vectorized top-k (fully value-oracled ANN member) ---
# The x3 family's hard evidence gap: the exact float top-k (x3) is
# oracled, but the VECTORIZED members (x3d/x3g) self-assert ≥95%
# agreement because float ulp ties differ per engine. This twin makes
# the vectorized rank itself hash-exact: unit vectors quantize to
# integers at scale 1000 (x20's quantizer), and the ranking key is
# sign(dot) · ((dot²·1000) div n2) — PURE LONG arithmetic (dot ≤
# 64·10⁶ ⇒ dot²·1000 ≤ 4.2e18 < 2⁶³), identical `div`/`//` in both
# engines, ties broken by neighbor id. DuckDB re-derives every key and
# the full top-5 per query. Scale shape: the query batch broadcasts
# (x3's contract), the corpus streams one scan, the rank window
# partitions on q_id (bounded by the batch).

# _X3H_SCALE / _X3H_K / _X3H_ORACLE are defined above x3g (module-load
# order: the shared oracle must exist before either decorator runs).


@register("x3h_topk_int_exact", oracle=_X3H_ORACLE, tags=("X3",))
def x3h_topk_int_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.semantic import quantized_unit_vectors

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    quant = quantized_unit_vectors(e, "vec_id", "embedding", _X3H_SCALE)
    qs = quant.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("vq").alias("qvq"),
    )
    # materialize dd BEFORE keying (the __words idiom): the fold is
    # referenced twice by the sign/magnitude key
    pairs = (
        quant.join(F.broadcast(qs), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            "n2",
            F.aggregate(
                F.zip_with(F.col("qvq"), F.col("vq"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dd"),
        )
    )
    keyed = pairs.withColumn(
        "sim_key",
        F.when(
            F.col("dd") >= 0,
            F.expr(f"(dd * dd * {_X3H_SCALE}L) div n2"),
        ).otherwise(-F.expr(f"(dd * dd * {_X3H_SCALE}L) div n2")),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("sim_key").desc(), "n_id")
    out = (
        keyed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _X3H_K)
        .select(
            "q_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("n_id").alias("neighbor_id"),
            "sim_key",
        )
        .orderBy("q_id", "rank")
    )
    return out
