"""Plan-identity check for refactors that are meant to be plan-neutral.

A query-source refactor that does not change the physical plan does
not invalidate its driver evidence — the query needs no
``registry._CHANGED_THIS_ROUND`` entry and no re-proof slot (r14: the
x33/x36 salted-switch extraction was verified this way, which let the
round ship an EMPTY changed list and clear the staleness backlog in
one pass).  This tool mechanizes the check:

    python tools/plan_compare.py <git-rev> <query> [query...]

For each named query it builds the frame on both sides and diffs the
two ``executedPlan`` strings with expression ids and plan ids
stripped. ``git-rev`` is extracted into a temp checkout, and each side
builds its plans from its own checkout in its own Python process, so
a change anywhere in the package (the query module, a moved helper, a
deleted class, a rewritten table layer) is compared. Temp-dir and
file-UUID path components are also stripped, since queries that write
a temp warehouse name random paths. Exit 0 = all identical (evidence
stays valid); exit 1 = at least one differs or failed to build on a
side (add those names to the changed list); the unified diff is
printed for each mismatch.

The normalizer intentionally strips ONLY ``#<digits>[L]`` attribute
ids and ``plan_id=<digits>`` / ``[id=#<digits>]`` markers: node types,
ordering, partitioning, and every literal stay significant, so a real
plan change (extra Project that survives collapse, moved Exchange,
changed pushdown) cannot hide.
"""

from __future__ import annotations

import difflib
import json
import os
import re
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def normalize(plan: str) -> str:
    """Strip per-session identifiers; keep everything structural."""
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"\[id=#\]", "", plan)
    # lambda-variable and CSE counters are allocated from session-global
    # sequences (lambda x_9 vs lambda x_21, _common_expr_0 vs
    # _common_expr_1) — identical plans built earlier vs later in one
    # session otherwise read as DIFFERS (r16: x3's false positive)
    plan = re.sub(r"\blambda ([a-zA-Z]+)_\d+#", r"lambda \1#", plan)
    plan = re.sub(r"_common_expr_\d+", "_common_expr_", plan)
    return plan


def normalize_paths(plan: str) -> str:
    """Strip the random parts of file paths: the temp dir a query
    writes under, UUID part-file names and 12-hex write-batch dirs.
    Path counts and partition directories stay significant."""
    plan = re.sub(re.escape(tempfile.gettempdir()) + r"/[^/\s,\]]+", "<tmp>", plan)
    plan = re.sub(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>", plan)
    return re.sub(r"/[0-9a-f]{12}/", "/<batch>/", plan)


def _executed_plan(df) -> str:
    return normalize(df._jdf.queryExecution().executedPlan().toString())


def _report(name: str, rev: str, p_old: str, p_new: str) -> bool:
    """Print the verdict (and the diff on a mismatch); True = identical.
    A query that failed to build on either side never counts as
    identical."""
    if p_old == p_new and not p_new.startswith("ERROR "):
        print(f"{name}: IDENTICAL vs {rev}")
        return True
    print(f"{name}: DIFFERS vs {rev}")
    for line in difflib.unified_diff(
        p_old.splitlines(), p_new.splitlines(), lineterm=""
    ):
        print("   ", line)
    return False


_DUMP_MARK = "PLAN_COMPARE_JSON "


def _dump(root: str, sf_dir: str, names: list[str]) -> int:
    """Child process (``--dump``): import the package from ``root``,
    build each query and print its normalized plan (or the error that
    stopped it) as one JSON line."""
    sys.path.insert(0, root)
    from dbx_workspace_and_emr_iceberg_spark.registry import all_queries
    from dbx_workspace_and_emr_iceberg_spark.session import get_spark

    qs = all_queries()
    spark = get_spark(app_name="plan-compare", cpus=8)
    out = {}
    for name in names:
        try:
            if name not in qs:
                raise KeyError(f"no query {name!r} in this tree")
            out[name] = normalize_paths(_executed_plan(qs[name].fn(spark, sf_dir)))
        except Exception as e:  # reported as a difference, not a crash
            out[name] = f"ERROR {type(e).__name__}: {e}"
        spark.catalog.clearCache()
    print(_DUMP_MARK + json.dumps(out), flush=True)
    return 0


def _tree_plans(root: str, sf_dir: str, names: list[str]) -> dict[str, str]:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--dump", root, sf_dir, *names],
        capture_output=True,
        text=True,
    )
    for line in proc.stdout.splitlines():
        if line.startswith(_DUMP_MARK):
            return json.loads(line[len(_DUMP_MARK):])
    raise RuntimeError(f"plan dump in {root} failed:\n{proc.stderr[-4000:]}")


def compare(rev: str, names: list[str], sf_dir: str) -> int:
    """Each side's plans from its own checkout and process."""
    with tempfile.TemporaryDirectory(prefix="plan_compare_tree_") as tree:
        archive = subprocess.run(
            ["git", "-C", REPO, "archive", rev],
            capture_output=True,
            check=True,
        ).stdout
        subprocess.run(["tar", "-x", "-C", tree], input=archive, check=True)
        old = _tree_plans(tree, sf_dir, names)
    new = _tree_plans(REPO, sf_dir, names)
    same = [_report(n, rev, old[n], new[n]) for n in names]
    return 0 if all(same) else 1


def main(argv: list[str]) -> int:
    if argv[:1] == ["--dump"] and len(argv) >= 3:
        return _dump(argv[1], argv[2], argv[3:])
    if len(argv) < 2 or argv[0].startswith("--"):
        print(__doc__)
        return 2
    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    return compare(argv[0], argv[1:], sf_dir)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
