"""Query registry — backbone of the driver contract (__spark_entry__.py).

Every operator claimed as done in SURVEY.md §2 registers here as a
(name, pyspark_fn, oracle_sql) triple:

    @register("a1_hash_aggregate", oracle=\"\"\"SELECT ...\"\"\")
    def a1(spark: SparkSession, sf_dir: str) -> DataFrame: ...

``oracle=None`` (the rows-only class) is accepted by the dataclass for
API compatibility but has been EMPTY since r17: all 296 registered
queries carry a value oracle.  Non-relational surfaces (streaming,
lakehouse DML, LSH) are oracled through final-state value proofs — the
query re-reads its end state into a deterministic frame that DuckDB
recomputes from the same parquet inputs (pattern:
docs/SELF_VERIFICATION.md).  tests/test_imports.py pins the rows-only
set empty; a new ``oracle=None`` registration fails CI.

Discipline enforced here (FIXTURES.md harness notes):
  * every computed column aliased identically on both sides,
  * doubles rounded on both sides where partition order could flip ulps,
  * collect_list/array_agg sorted before comparison.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, Query] = {}

#: queries/ submodules that populate the registry on import.
#:
#: Module order is IMPORT order only (side-effects + duplicate-name
#: detection). It has NOT been the driver's execution order since r9:
#: queries_dict() derives that ordering from driver_history
#: (changed-this-round, never-sampled, stalest-green) — reordering this
#: list changes nothing about which queries the driver budget reaches.
#: (The historical round-1 rationale below is kept for archaeology
#: only; review-pass r15 removed its stale ORDER-IS-EXECUTION claim.)
_QUERY_MODULES = [
    "projections",      # p1/p5 fixed this round — must be re-verified
    "windows",
    "sorts_sets",
    "scalar_functions",
    "semi_structured",
    "dedup_queries",
    "similarity_queries",
    "text_queries",
    "multimodal_queries",
    "udf_queries",
    "format_queries",
    "datasource_queries",
    "extras",
    "lakehouse_queries",
    "streaming_queries",  # slowest untested family: after the cheap ones
    "aggregations",
    "joins",
    "pricing",
    "tpch_queries",
    "tpch_suite2",
    "tpch_suite3",
]


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering a query implementation under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, tags=tuple(tags))
        return fn

    return deco


_LOADED = False
# module name -> error string, for the import smoke test to assert empty
_BROKEN_MODULES: dict[str, str] = {}


def _load_all() -> None:
    # An emptiness check is wrong here: importing any queries module
    # directly (as __spark_entry__ does for the flagship) pre-populates
    # the registry and would mask every other module.
    global _LOADED
    if _LOADED:
        return
    _LOADED = True
    for mod in _QUERY_MODULES:
        try:
            importlib.import_module(f"{__package__}.queries.{mod}")
        except ModuleNotFoundError as e:
            if e.name == f"{__package__}.queries.{mod}":
                # The module itself is absent: allow partially-built
                # trees during development, silently. Exact-name match —
                # a substring test would also silently swallow a typo'd
                # sibling import whose name merely shares this prefix.
                continue
            # A ModuleNotFoundError for anything ELSE (typo'd internal
            # import, missing third-party dep) is a broken module, not
            # a missing one — quarantine like any other import failure.
            _quarantine(mod, e)
        except Exception as e:  # SyntaxError, bad import, etc.
            _quarantine(mod, e)


def _quarantine(mod: str, e: Exception) -> None:
    # A broken module must cost ONLY its own registrations — round 4
    # lost all 162 queries to one unclosed paren. Loud on stderr so
    # tests/test_imports.py and humans both see it.
    import sys

    print(
        f"[registry] SKIPPING queries.{mod}: {type(e).__name__}: {e}",
        file=sys.stderr,
    )
    _BROKEN_MODULES[mod] = f"{type(e).__name__}: {e}"


def all_queries() -> dict[str, Query]:
    _load_all()
    return dict(_REGISTRY)


#: Queries whose ORACLE STRING or PHYSICAL PLAN changed since their
#: last driver-green row — the only hand-maintained list left.  Every
#: other ordering decision is derived by driver_history.py at IMPORT
#: time from the CORRECTNESS_r0*.json record (r14: no generated file,
#: no per-round regeneration ritual — a result file dropped after the
#: final commit refreshes the ordering instead of going stale), so the
#: r9 failure mode — a stale hand list re-proving 50 already-green
#: rows while 8 queries stayed never-sampled — cannot recur:
#: never-sampled and stalest-green rows float to the front
#: automatically.  Add a name here when you change its plan or oracle;
#: delete the whole list's content at the start of the next round (the
#: derived maps then carry the evidence).
#:
#: Round-15 entries (TWO — exactly the spare budget above the 48-query
#: <=r7 staleness backlog, so the backlog still clears completely per
#: VERDICT-r14 #1).  The pruned_files/read_pruned temporal type-gate
#: fixes (VERDICT-r14 #2 + ADVICE) needed NO entries: they alter only
#: bound literals inside the pruning path, and all six affected queries
#: (m7/m7b/m9/m11/m13/p3) re-verified hash-identical via a scoped sim
#: at sf0.01, so their driver evidence stays valid.
_CHANGED_THIS_ROUND: list[str] = [
    # r19 budget note (VERDICT-r18 #3): the r12 staleness cohort is
    # ~36 queries; budget is ~14 entries so the 50-slot driver pass
    # drains the whole cohort this round.
    #
    # ADVICE r18 (medium): q1's avg_* display numerators multiplied
    # BIGINT sums by 2*10000 — int64 wrap around SF ~80 (the s4/s6
    # decimal(38,0) rule applied to the plain sums sq/sc/sd too).
    # Values identical at every testable SF (the div result is the
    # same integer); plan changed (casts), so both take slots per the
    # tier-0 rule.  x5b's avg4 numerators had the same hazard.
    # Oracles unchanged; scoped sims hash-green.
    "q1_pricing_summary",
    "x5b_decode_pipeline",
    # x29's JL check reads the norms its projection pass emits: values
    # identical (driver_sim MATCH), plan changed
    "x29_random_projection",
    # (r19 source-layer fixes, NO slots by the r15/r18 precedent:
    # the _commit stalled-writer flock + writer-UUID verification and
    # the unique swing-tmp name are protocol-internal — all 26
    # m-family queries re-verified hash-green by scoped sim; the
    # sql_dml _LITERAL_RE backslash-escape fix only changes behavior
    # for literals no registered query contains — full m-family
    # scoped sim green; bench.py best_floors/noise-gate is
    # instrumentation only.)
]


def _driver_order_key(q: Query) -> tuple:
    """Sort key implementing (changed, never-sampled, stalest-green).

    Tier 0: _CHANGED_THIS_ROUND, in list order — a changed plan or
            oracle invalidates its old evidence, so these re-prove
            first.
    Tier 1: never driver-sampled — an unproven query outranks
            re-sampling any already-green one.
    Tier 2: everything else, stalest green round first; a query whose
            last sample FAILED (sampled but never green) sorts at
            last_green=0, i.e. ahead of every green row.  Ties break
            oracled-before-rows-only (stronger signal per driver slot),
            then name for determinism.
    """
    from . import driver_history as H

    if q.name in _CHANGED_SET:
        return (0, _CHANGED_SET[q.name], 0, "")
    if q.name not in H.LAST_SAMPLED:
        return (1, 0, 0 if q.oracle is not None else 1, q.name)
    return (
        2,
        H.LAST_GREEN.get(q.name, 0),
        0 if q.oracle is not None else 1,
        q.name,
    )


_CHANGED_SET = {n: i for i, n in enumerate(_CHANGED_THIS_ROUND)}


def queries_dict() -> dict[str, QueryFn]:
    """Driver execution order — DERIVED, not hand-curated (r9 verdict
    #2): (changed-this-round, never-sampled, stalest-green-first) from
    the driver_history maps, themselves folded at import time from the
    CORRECTNESS_r*.json record (r14 — no generated file, no
    regeneration ritual).  The per-round driver samples
    ~50 entries in this dict order, so the budget always lands on the
    rows with the least (or invalidated) evidence; a budget cut costs
    re-proving the freshest greens, never the untested."""
    qs = sorted(all_queries().values(), key=_driver_order_key)
    return {q.name: q.fn for q in qs}


def oracle_dict() -> dict[str, str]:
    return {q.name: q.oracle for q in all_queries().values() if q.oracle is not None}
