"""Snapshot-based lakehouse table layer (SURVEY.md §2.1 S4-S8, §2.11 M1-M8).

The reference's signature capability is row-level DML + time travel on
Iceberg tables, enabled entirely by configuration: the Iceberg Spark
runtime + `IcebergSparkSessionExtensions` + a `SparkCatalog` pointed at
Unity Catalog's REST endpoint (/root/reference/main.tf:792-806,
README.md:36). With network access, this engine uses exactly that
config (see ``iceberg_session_conf`` below — a pure config swap, no
code change). This container has no Iceberg jars, so this module
re-implements the *table-format contract* in pure PySpark:

  warehouse/<table>/
    data/<uuid>/*.parquet    immutable data files, one dir per write
    _snapshots/v{N}.json     manifest: file list + schema + partition
                             spec + op + the stats manifests covering
                             the files (``manifests``)
    _stats/<uuid>.json       stats manifest: per-file column min/max
                             and record count, immutable, reused by path
    _current                 current version (atomic rename commit)
    _refs.json               branch and tag pointers

Semantics mirrored from Iceberg v2 (copy-on-write flavor):
  * every write = new immutable data files + a new manifest; readers of
    older snapshots are never disturbed (time travel = read old manifest);
  * a commit takes its schema and the column mappings that resolve it
    against the files (renames, initial defaults) from one snapshot, the
    one its content comes from, and its partition spec from the snapshot
    whose layout its new files follow (:func:`_carried`);
  * those mappings are one column map per file (:func:`_stored_names`),
    the stand-in for Iceberg's field ids: a scan groups its files by the
    names they store the columns under and projects each group back to
    the schema, where a column a file holds no value for reads its
    initial default; the planner reads each file's stats by the same map;
  * a snapshot reuses its parent's stats manifests by path and writes
    one only for the files it adds, so its metadata grows with the
    change, not with the table (Iceberg's manifest reuse); a tiered
    merge keeps O(log files) of them per snapshot, and their entries
    within twice the live files;
  * commits are atomic (os.replace of the _current pointer) and
    optimistic — a concurrent commit surfaces as a version conflict;
  * DELETE/UPDATE/MERGE rewrite only the files that contain matching
    rows (file-level pruning via one contains-match scan), like Iceberg
    CoW; MERGE's rewrite of those files is the join Iceberg's extension
    rules produce: target ⟕ source on the merge key, per-row action
    column;
  * maintenance: compaction (rewrite_data_files), snapshot expiry
    (expire_snapshots, which also deletes the stats manifests no
    retained snapshot references), manifest compaction
    (rewrite_manifests), rollback — same operations as Iceberg's
    CALL system.* procedures (SURVEY.md §2.11 M5).

The log is read only through this module's json-over-fs reader:
:func:`log_head` (the `_current` pointer), :func:`manifest_path` and
:func:`read_manifest` (one snapshot, its ``stats`` assembled from its
stats manifests; a legacy snapshot with inline ``stats`` reads as
written), :func:`manifests` (the surviving snapshots of a version
range), :func:`main_walk` / :func:`main_at` / :func:`main_head_json`
(main's state past branch-staged snapshots) and :func:`content_parent`
(the snapshot a commit's content was built on). The table, the stream
source, the REST catalog and both catalogs' listings all call it.

At 100 TB: data files are the unit of parallelism and pruning; the
stats manifests hold per-file column min/max for data skipping, and a
commit writes them only for the files it adds; rewrites
touch only affected files; nothing here funnels data through the
driver — the driver only moves file *names*.
"""

from __future__ import annotations

import contextlib
import fcntl
import functools
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_session_conf(warehouse: str, catalog: str = "local") -> dict[str, str]:
    """The real-Iceberg config this module stands in for — matches the
    reference's spark-defaults (main.tf:792-806) with a Hadoop catalog
    locally; see :func:`iceberg_rest_catalog_conf` for the REST+OAuth2
    shape the reference pins in production."""
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.defaultCatalog": catalog,
    }


def iceberg_rest_catalog_conf(
    uri: str,
    warehouse: str,
    catalog: str = "rest",
    credential: str | None = None,
    oauth2_server_uri: str | None = None,
    scope: str | None = None,
    token_refresh_enabled: bool = True,
) -> dict[str, str]:
    """REST-catalog session conf with the OAuth2 client-credential knobs
    the reference pins (main.tf:795-801: ``credential``,
    ``oauth2-server-uri``, ``token-refresh-enabled``; it also sets
    ``rest.auth.type=oauth2`` explicitly, emitted below whenever any
    OAuth2 knob is supplied — Iceberg 1.9+ deprecates inferring the
    auth type from the presence of ``credential``). Pure config —
    no secret material lives in code; ``credential`` is the
    ``client_id:client_secret`` pair injected from the environment or a
    secret manager by the caller.

    Works against any Iceberg REST catalog implementation (Unity
    Catalog, Polaris, Glue REST, Nessie, Gravitino) — the REST spec is
    the interoperable surface, which is exactly why the reference
    prefers it over a Hadoop catalog in production."""
    conf = {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "rest",
        f"spark.sql.catalog.{catalog}.uri": uri,
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        f"spark.sql.catalog.{catalog}.token-refresh-enabled": (
            "true" if token_refresh_enabled else "false"
        ),
        "spark.sql.defaultCatalog": catalog,
    }
    if credential is not None:
        conf[f"spark.sql.catalog.{catalog}.credential"] = credential
    if oauth2_server_uri is not None:
        conf[f"spark.sql.catalog.{catalog}.oauth2-server-uri"] = oauth2_server_uri
    if scope is not None:
        conf[f"spark.sql.catalog.{catalog}.scope"] = scope
    if credential is not None or oauth2_server_uri is not None or scope is not None:
        conf[f"spark.sql.catalog.{catalog}.rest.auth.type"] = "oauth2"
    return conf


# ---------------------------------------------------------------------------
# The snapshot-log reader: every read of `_current`, of a manifest path
# and of main's head in the package goes through these functions. They
# are json-over-fs (no SparkSession), so the stream source, the REST
# catalog and both catalogs' table listing share them with
# LakehouseTable. Nothing is cached across calls: a version above
# `_current` can still be replaced by crash recovery.
# ---------------------------------------------------------------------------


def log_head(root: str) -> int:
    """The raw log head `_current` points at; 0 before the first commit
    (or when ``root`` is no table at all). After a branch write it is
    that branch's staged snapshot, not main (see :func:`main_at`)."""
    try:
        with open(os.path.join(root, "_current")) as f:
            return int(f.read().strip())
    except (FileNotFoundError, NotADirectoryError):
        return 0


def manifest_path(root: str, v: int) -> str:
    return os.path.join(root, "_snapshots", f"v{v:05d}.json")


#: where stats manifests live, relative to the table root; a snapshot's
#: ``manifests`` entries name them by this relative path
STATS_DIR = "_stats"


def _load_stats(root: str, ref: dict) -> dict | None:
    """The ``{file: stats}`` entries of one stats manifest; None when it
    is gone (a reader then plans its files unpruned, which is safe)."""
    try:
        with open(os.path.join(root, ref["path"])) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def read_manifest(root: str, v: int, stats: bool = True) -> dict:
    """Manifest of snapshot ``v``; FileNotFoundError once it expired.

    A snapshot lists its stats manifests in ``manifests``; ``stats`` is
    assembled from them for the listed files, each stats manifest opened
    once. A legacy snapshot carries ``stats`` inline and reads as
    written. ``stats=False`` skips the assembly for callers that need
    only the file list, schema and lineage."""
    with open(manifest_path(root, v)) as f:
        m = json.load(f)
    return _with_stats(root, m) if stats else m


def _with_stats(root: str, m: dict) -> dict:
    """``m`` with ``stats`` assembled from its stats manifests, each
    opened once; a legacy manifest (inline ``stats``) as it is. Every
    other read of a manifest is raw: only a caller that uses the file
    stats pays for them."""
    if "manifests" not in m:
        return m
    known: dict = {}
    for ref in m["manifests"]:
        known.update(_load_stats(root, ref) or {})
    return {**m, "stats": {f: known[f] for f in m["files"] if f in known}}


def manifests(root: str, lo: int = 1, hi: int | None = None):
    """Yield ``(version, manifest)`` for the surviving snapshots in
    ``[lo, hi]`` (default: the whole log up to its head), oldest first,
    each manifest read once. Expired snapshots are skipped. The
    manifests are raw: ``stats`` is not assembled from the stats
    manifests (see :func:`read_manifest`)."""
    for v in range(max(lo, 1), (log_head(root) if hi is None else hi) + 1):
        try:
            yield v, read_manifest(root, v, stats=False)
        except FileNotFoundError:
            continue


def main_walk(root: str, v: int) -> tuple[int, dict]:
    """``(version, raw manifest)`` of the newest main (non-staged)
    snapshot at or below ``v``; ``(0, {})`` when main has no snapshot
    there. The log is shared by every ref and a branch write tags its
    snapshot ``staged_ref``, so main's state at a log position is found
    by walking down past staged snapshots, each manifest read once.
    Raises ValueError if the walk reaches an expired manifest: main's
    state there is unknowable."""
    w = v
    while w:
        try:
            m = read_manifest(root, w, stats=False)
        except FileNotFoundError:
            raise ValueError(
                f"{root}: main state at v{v} expired below staged "
                "snapshots — publish or drop staged refs before "
                "expire_snapshots"
            ) from None
        if not m.get("staged_ref"):
            return w, m
        w -= 1
    return 0, {}


def main_at(root: str, v: int) -> int:
    """The version :func:`main_walk` resolves ``v`` to."""
    return main_walk(root, v)[0]


def main_head_json(root: str) -> int:
    """Main's logical head: :func:`main_at` the raw log head. Every
    main-side resolution (reads, DML base file lists, schema, a
    stream's schema and offsets, the REST LoadTable route) uses it,
    because the log head may be a branch's staged snapshot."""
    return main_at(root, log_head(root))


def content_parent(m: dict) -> int:
    """The version whose content snapshot ``m`` was built on: a branch
    write's ``ref_base`` (a staged manifest older than ``ref_base``
    falls back to its log parent), a rollforward's source, otherwise
    the log parent. For a main commit main's state at that log parent,
    ``main_at(root, content_parent(m))``, is what it was based on."""
    if m.get("staged_ref"):
        return int(m["ref_base"] if "ref_base" in m else m.get("parent") or 0)
    return int(m.get("rollforward_of") or m.get("parent") or 0)


def _carried(m: dict, layout: dict | None = None) -> dict:
    """The manifest keys a commit takes from ``m``, the snapshot it reads
    its schema from: ``schema`` and the ``renames`` and ``defaults`` that
    map that schema onto the files, plus the ``partition_spec`` of
    ``layout`` (default ``m``), the snapshot whose spec lays out the files
    the commit writes. A mapping is written only when it is non-empty, so
    the manifests of a table that never renames, adds a default or
    partitions carry none of them."""
    layout = m if layout is None else layout
    out = {
        "schema": m["schema"],
        "renames": m.get("renames"),
        "defaults": m.get("defaults"),
        "partition_spec": layout.get("partition_spec"),
    }
    return {k: v for k, v in out.items() if v}


def _main_range(
    root: str, lo: int, hi: int, what: str
) -> tuple[dict | None, dict[int, dict]]:
    """``(base, later)`` for a diff over ``(lo, hi]``: ``base`` is the
    manifest of main's state at ``lo`` (None at version 0) and
    ``later`` maps every version in ``(lo, hi]`` to its manifest, staged
    ones included. Every manifest is read once, apart from a staged
    ``lo``'s walk down to main. A manifest missing from the range
    raises the contracted ValueError."""
    ms = dict(manifests(root, lo, hi))
    gone = next((v for v in range(max(lo, 1), hi + 1) if v not in ms), None)
    if gone is not None:
        raise ValueError(
            f"snapshot v{gone} expired; {what} range ({lo}, {hi}] "
            "unavailable — re-baseline from a full scan"
        )
    base_m = ms.pop(lo, None)
    if base_m is not None and base_m.get("staged_ref"):
        # a checkpointed offset can be a staged version (the raw log
        # head right after a branch write): the diff base is main's
        # state below it, never the branch's
        base_v = main_at(root, lo - 1)
        base_m = read_manifest(root, base_v, stats=False) if base_v else None
    return base_m, ms


def _appended(base: dict | None, later: dict[int, dict]) -> list[str]:
    added: list[str] = []
    prev = set(base["files"]) if base else set()
    for v, m in later.items():
        if m.get("staged_ref"):
            continue  # a branch write adds nothing to main
        if m["op"] not in ("append", "create"):
            raise ValueError(
                f"incremental scan over non-append snapshot v{v} "
                f"(op={m['op']!r})"
            )
        added.extend(f for f in m["files"] if f not in prev)
        prev = set(m["files"])
    return added


def appended_files_between(
    root: str, from_version: int, to_version: int
) -> list[str]:
    """Manifest diff: data files that main's append-only commits in
    ``(from_version, to_version]`` added, in commit order.

    Shared by ``LakehouseTable.read_incremental`` (batch) and
    ``pyds.LakehouseStreamReader.partitions`` (the streaming offset
    planner, which runs without driver-side Spark state). Raises
    ValueError on any non-append main snapshot in range, matching
    Iceberg's incremental-scan contract, and on an expired manifest in
    range."""
    return _appended(
        *_main_range(root, from_version, to_version, "incremental")
    )


class ConflictError(RuntimeError):
    """Optimistic-commit conflict: table version moved underneath us."""


def commit_with_retries(op, retries: int = 3, backoff_s: float = 0.05):
    """Iceberg's ``commit.retry.num-retries`` pattern: re-run ``op``
    (a closure that REREADS current table state and performs the whole
    write) on ConflictError. The closure must be restartable — it may
    observe a different parent snapshot on every attempt; the final
    ConflictError propagates so lost updates are never silent."""
    attempt = 0
    while True:
        try:
            return op()
        except ConflictError:
            if attempt >= retries:
                raise
            attempt += 1
            time.sleep(backoff_s * attempt)


# ---------------------------------------------------------------------------
# Partition transforms (M7), temporal range-bound normalization and
# per-file column statistics (min/max data skipping, Iceberg manifest
# pruning parity)
# ---------------------------------------------------------------------------

#: ISO date / datetime shapes (either separator convention) — the gate
#: for every temporal-bound normalization below: NON-temporal string
#: bounds (string-column range bounds like 'NEW YORK') pass through
#: verbatim
_ISO_TEMPORAL_RE = re.compile(
    r"\d{4}-\d{2}-\d{2}([T ]\d{2}:\d{2}(:\d{2}(\.\d+)?)?)?$"
)


def temporal_bound_iso(v) -> str | None:
    """Canonical civil ISO string 'YYYY-MM-DDTHH:MM:SS[.ffffff]' for a
    temporal range bound or stat — the one normalizer, so bounds and
    stats compare lexicographically in one convention, and the same
    string casts to date, timestamp and timestamp_ntz. Accepts
    datetime/date objects and ISO strings with either separator;
    date-only inputs gain midnight and minute-precision inputs gain
    ':00' (an un-padded '...T08:30' sorts before the stat
    '...T08:30:00' and would over-prune). Returns None when the value
    is a string that does not look temporal — the caller must pass
    those through VERBATIM (string-column bounds)."""
    import datetime

    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            # zoned instants canonicalize to UTC-NAIVE: an
            # offset-suffixed '…15+00:00' would compare
            # lexicographically against naive stats and over-prune;
            # UTC civil order equals instant order, and the session
            # pins UTC so civil values are what the engine compares
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return f"{v.isoformat()}T00:00:00"
    s = str(v)
    if not _ISO_TEMPORAL_RE.match(s):
        return None
    s = s.replace(" ", "T", 1)
    if len(s) == 10:
        s += "T00:00:00"
    elif len(s) == 16:
        s += ":00"
    if "." in s:
        # canonicalize the FRACTION to isoformat's convention (absent
        # when zero, else exactly 6 digits), so a short-fraction bound
        # '…15.5' compares correctly against the stat '…15.500000'.
        # Digits past microseconds TRUNCATE — the same thing Spark's
        # cast does in the residual/filter, so pruning and filtering
        # always agree; note a truncated lo bound is up to 1 µs more
        # inclusive than the sub-µs literal asked for (a row at exactly
        # …15.000000 passes lo '…15.0000001') — timestamp[us] engines
        # cannot honor sub-µs bounds exactly.
        head, frac = s.split(".", 1)
        frac = (frac + "000000")[:6]
        s = head if int(frac) == 0 else f"{head}.{frac}"
    return s


def is_temporal_dtype(dt) -> bool:
    """The one definition of 'temporal column' for bound normalization:
    the planner's stats compare, the pushed-value encoder and every
    range read's bounds all gate on it, so the temporal-type set
    cannot differ between them."""
    from pyspark.sql.types import (
        DateType,
        TimestampNTZType,
        TimestampType,
    )

    return isinstance(dt, (DateType, TimestampNTZType, TimestampType))


def partition_segments(path: str) -> list[tuple[str, str]]:
    """(key, unquoted value) pairs from a file path's hive-style
    partition directory segments — THE one decoder for the engine's
    ``k=v`` encoding.  overwrite_partitions and the queries' partition
    contracts both parse this convention; one shared decoder keeps them
    identical if the escaping ever changes."""
    import urllib.parse

    out = []
    for seg in path.split(os.sep):
        if "=" in seg:
            k, v = seg.split("=", 1)
            out.append((k, urllib.parse.unquote(v)))
    return out


def partition_transform(spec: str) -> tuple[str, F.Column]:
    """Parse an Iceberg-style partition transform into (name, column):
    identity(c) | years(c) | months(c) | days(c) | hours(c) |
    bucket(n, c) | truncate(w, c)  (SURVEY.md §2.11 M7).

    The transform column is *derived* — hidden partitioning means users
    filter on the source column and the engine prunes via the transform.
    """
    spec = spec.strip()
    name, inner = spec.split("(", 1)
    args = [a.strip() for a in inner.rstrip(")").split(",")]
    name = name.strip()
    if name == "identity":
        return f"p_{args[0]}", F.col(args[0])
    if name in ("years", "months", "days", "hours"):
        unit = {"years": "year", "months": "month", "days": "day", "hours": "hour"}[name]
        return f"p_{name}_{args[0]}", F.date_trunc(unit, F.col(args[0])).cast("string")
    if name == "bucket":
        n, c = int(args[0]), args[1]
        return f"p_bucket_{c}", F.pmod(F.xxhash64(F.col(c)), F.lit(n))
    if name == "truncate":
        w, c = int(args[0]), args[1]
        return f"p_trunc_{c}", F.substring(F.col(c), 1, w)
    raise ValueError(f"unknown partition transform {spec!r}")


def _input_path() -> F.Column:
    """The manifest path of the file the current row was scanned from.

    ``input_file_name`` returns a ``file://`` URI whose path is
    percent-encoded once more than the on-disk name: a days(ts)
    partition dir is ``p_days_ts=2024-01-01 00%3A00%3A00`` on disk and
    ``...%2000%253A00%253A00`` in the URI. ``url_decode`` undoes that
    one level, but it also reads ``+`` as a space, so a literal ``+``
    (which the partition-dir escaping leaves as is) is protected first.
    Copy-on-write discovery (:meth:`LakehouseTable._affected_files`)
    is the one scan that maps rows back to manifest files; reads never
    need the file a row came from."""
    uri = F.replace(F.input_file_name(), F.lit("file://"), F.lit(""))
    return F.url_decode(F.replace(uri, F.lit("+"), F.lit("%2B")))


def _stored_names(m: dict):
    """The column map of manifest ``m``: ``stored(f, col)`` is the name
    file ``f`` stores logical column ``col`` under, or None when ``f``
    holds no value for it — ``f`` predates the column (an
    ``absent_files`` entry of ``defaults``), or stores another column
    under that name. The name is ``col`` itself unless a ``renames``
    entry maps ``f`` to an older one. This map stands in for Iceberg's
    field ids; scans and the planner both resolve files through it.
    A column's lookups are built when it is first asked about, from the
    mapping entries only, so a manifest without mappings costs nothing
    per file."""
    renames, defaults = m.get("renames", {}), m.get("defaults", {})

    @functools.cache
    def index(col: str) -> tuple[dict, set]:
        physical = {f: e["physical"] for e in renames.get(col, ()) for f in e["files"]}
        shadowed = {
            f
            for entries in renames.values()
            for e in entries
            if e["physical"] == col
            for f in e["files"]
        }
        empty = set(defaults.get(col, {}).get("absent_files", ()))
        return physical, empty | (shadowed - physical.keys())

    def stored(f: str, col: str) -> str | None:
        physical, empty = index(col)
        return None if f in empty else physical.get(f, col)

    return stored


def _file_column_stats(path: str) -> dict[str, list]:
    """Per-file min/max per column and the row count (Iceberg's
    ``record_count``) from the parquet footer (pyarrow) — only footers
    are read, never data pages. Values are stored JSON-safe (ISO
    strings for timestamps)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    # a column with a chunk that holds values but carries no comparable
    # min/max (writers drop oversized stats) gets no range for the file:
    # the other chunks' range would let the planner skip its rows
    unknown: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            name = col.path_in_schema
            if st is None or not st.has_min_max:
                if st is None or st.num_values:
                    unknown.add(name)
                continue  # an all-NULL chunk adds no range
            try:
                lo, hi = st.min, st.max
            except pa.ArrowNotImplementedError:
                lo = hi = None  # a type pyarrow cannot decode (DECIMAL)
            # only these store as JSON and compare like Spark does
            # (binary stats aren't comparable cross-engine)
            if not isinstance(lo, (bool, int, float, str, datetime.date)):
                unknown.add(name)
                continue
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi

    def enc(v):
        # temporal stats take the bounds' canonical form: zoned instants
        # UTC-naive (a Spark-written timestamp column reads back
        # tz-aware), dates at midnight (a bare '2024-01-02' sorts before
        # its own day's bound '2024-01-02T00:00:00')
        return temporal_bound_iso(v) if isinstance(v, datetime.date) else v

    return {
        "min": {k: enc(v) for k, v in mins.items() if k not in unknown},
        "max": {k: enc(v) for k, v in maxs.items() if k not in unknown},
        "record_count": md.num_rows,
    }


# ---------------------------------------------------------------------------
# Scan planning: Spark's own pushed source filters evaluated against the
# manifest's per-file min/max (Iceberg's inclusive metrics evaluator)
# ---------------------------------------------------------------------------

#: pushed source-filter class -> the comparison the planner evaluates;
#: every other class (IsNull, IsNotNull, Not, StringStartsWith, ...)
#: keeps the file
_FILTER_OPS = {
    "EqualTo": "=",
    "In": "in",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
}


def _pushed_filters(df: DataFrame) -> list | None:
    """The JVM source filters Spark pushes into the one file scan of
    ``df``'s physical plan — planned, never executed. None when the
    plan has no single file scan (a filter the optimizer folded away, a
    subquery over another file table): the caller keeps every file."""
    scans = []
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves().iterator()
    while leaves.hasNext():
        node = leaves.next()
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            scans.append(node)
    if len(scans) != 1:
        return None
    pushed = scans[0].pushedDownFilters().iterator()
    out = []
    while pushed.hasNext():
        out.append(pushed.next())
    return out


def _stat_value(v, dt):
    """A pushed filter value in the manifest stats' encoding for a
    column of type ``dt``; None when it cannot be compared exactly."""
    from pyspark.sql.types import IntegralType, StringType

    if isinstance(dt, IntegralType):
        return v if isinstance(v, int) and not isinstance(v, bool) else None
    if isinstance(dt, StringType):
        # stats order bytes; a collated column compares otherwise
        binary = getattr(dt, "collation", "UTF8_BINARY") == "UTF8_BINARY"
        return v if binary and isinstance(v, str) else None
    if not is_temporal_dtype(dt) or not hasattr(v, "getClass"):
        return None
    # a java.sql.Timestamp prints in the JVM's zone, its instant in UTC —
    # the zone the stats encoder stores
    cls = v.getClass().getName()
    text = v.toInstant().toString() if cls == "java.sql.Timestamp" else v.toString()
    iso = temporal_bound_iso(text.removesuffix("Z"))
    # Spark hands values before the Gregorian switch over rebased to the
    # hybrid calendar, the stats hold them proleptic
    return iso if iso is not None and iso >= "1583" else None


def _filter_tree(jf, types: dict):
    """A pushed JVM source filter as the nested tuple the evaluator
    reads: ``('and'|'or', left, right)`` or ``(op, column, values)``;
    None for a filter or value it cannot compare."""
    kind = jf.getClass().getSimpleName()
    if kind in ("And", "Or"):
        return (
            kind.lower(),
            _filter_tree(jf.left(), types),
            _filter_tree(jf.right(), types),
        )
    op = _FILTER_OPS.get(kind)
    col = jf.attribute() if op else None
    if col not in types:
        return None
    # a NULL in an IN list never matches; a NULL comparand is unknown
    raw = [v for v in jf.values() if v is not None] if op == "in" else [jf.value()]
    vals = [_stat_value(v, types[col]) for v in raw]
    return None if None in vals else (op, col, vals)


def _may_match(node, bounds) -> bool:
    """Inclusive evaluation: False only when ``bounds(column)`` — a
    file's ``(min, max)`` for the column, or None when unknown — proves
    no row of the file satisfies ``node``."""
    if node is None:
        return True
    if node[0] == "and":
        return _may_match(node[1], bounds) and _may_match(node[2], bounds)
    if node[0] == "or":
        return _may_match(node[1], bounds) or _may_match(node[2], bounds)
    op, col, vals = node
    mm = bounds(col)
    if mm is None:
        return True
    lo, hi = mm
    try:
        if op in ("=", "in"):
            return any(lo <= v <= hi for v in vals)
        v = vals[0]
        if op == "<":
            return lo < v
        if op == "<=":
            return lo <= v
        if op == ">":
            return hi > v
        return hi >= v
    except TypeError:
        return True  # a stat of another type: keep


def _spent_batch(d: str) -> bool:
    """Whether write batch ``d`` holds nothing but its ``_SUCCESS``
    markers: its data files are gone. A batch still being written has
    no ``_SUCCESS`` yet."""
    left = {n for _, _, names in os.walk(d) for n in names}
    return "_SUCCESS" in left and left <= {"_SUCCESS", "._SUCCESS.crc"}


class LakehouseTable:
    """One snapshot-versioned table under a warehouse directory — the
    Iceberg Table analog: however it is opened (constructor, Engine,
    LakehouseCatalog, RestLakehouseCatalog), its behaviour comes from
    the manifest, which carries the partition spec and names the stats
    manifests holding the per-file column stats (always on); branch and
    tag refs live beside the log."""

    def __init__(self, spark: SparkSession, warehouse: str, name: str):
        # the name is a PATH COMPONENT: '..' or a separator would
        # escape the warehouse (create_table('../prod/t')).  Same charset
        # the SQL-door grammar enforces, plus '.'/'-' for the catalog
        # layer's schema-qualified dirs and branch refs — but never a
        # traversal.
        if (
            not name
            or "/" in name
            or "\\" in name
            or name in (".", "..")
            or ".." in name.split(".")
        ):
            raise ValueError(f"invalid table name {name!r}")
        self.spark = spark
        # absolute: new manifests list absolute file paths, so discovery
        # can match them against the paths the scan reports, whatever
        # the working directory was when a warehouse was named relative.
        # Older tables written under a relative warehouse list relative
        # paths; discovery and the orphan sweep compare absolute forms.
        self.root = os.path.abspath(os.path.join(warehouse, name))
        self.data_dir = os.path.join(self.root, "data")
        self.snap_dir = os.path.dirname(manifest_path(self.root, 0))
        self.refs_path = os.path.join(self.root, "_refs.json")
        self.name = name

    # ---------- manifest / commit machinery ----------

    def _current_path(self) -> str:
        return os.path.join(self.root, "_current")

    def current_version(self) -> int:
        """The raw log head — see :func:`log_head`."""
        return log_head(self.root)

    def main_head(self) -> int:
        """Main's logical head — see :func:`main_head_json`."""
        return main_head_json(self.root)

    def _manifest_path(self, version: int) -> str:
        return manifest_path(self.root, version)

    def _read_manifest(self, version: int, stats: bool = True) -> dict:
        return read_manifest(self.root, version, stats)

    #: Max seconds a committer waits for the per-table commit lock
    #: before giving up with a (retryable) ConflictError.  Commits are
    #: milliseconds; a holder alive past this is stalled (GC pause,
    #: swap) — we REFUSE rather than recover, because the holder is
    #: still live and will finish.  Tests shrink this per-instance.
    _COMMIT_LOCK_TIMEOUT_S: float = 60.0

    def _acquire_commit_lock(self) -> int:
        """Take the per-table advisory commit lock (flock on
        ``_commit.lock``); returns the fd.  flock is per-open-file-
        description, so it excludes concurrent committers in other
        PROCESSES and other THREADS alike, and the kernel releases it
        automatically if the holder dies — a crashed mid-commit writer
        can never wedge the table, while a merely-stalled one keeps
        its claim: no peer can 'recover' a live writer's half-done
        commit, so two writers never both report success for one
        version."""
        os.makedirs(self.root, exist_ok=True)
        fd = os.open(
            os.path.join(self.root, "_commit.lock"),
            os.O_CREAT | os.O_RDWR,
            0o644,
        )
        deadline = time.monotonic() + self._COMMIT_LOCK_TIMEOUT_S
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                return fd
            except OSError:
                if time.monotonic() >= deadline:
                    os.close(fd)
                    raise ConflictError(
                        f"{self.name}: commit lock held for over "
                        f"{self._COMMIT_LOCK_TIMEOUT_S}s by a live "
                        "writer — refusing to commit (retryable)"
                    ) from None
                time.sleep(0.005)

    def _commit(
        self, manifest: dict, expected_parent: int, compact: dict | None = None
    ) -> int:
        """Atomic optimistic commit: write manifest vN+1, then swing the
        _current pointer via os.replace (atomic on POSIX).

        Concurrency protocol (exclusive create + commit lock):
        the whole claim→swing section runs under a per-table flock, so
        two in-protocol writers can never interleave between manifest
        create and pointer swing; the O_EXCL create + >60s staleness
        heuristic stay as belt-and-braces against OUT-of-protocol
        writers (a process writing manifests without _commit), and a
        per-writer UUID stamped into the manifest is re-verified
        immediately before the swing so any foreign replacement turns
        into a loud ConflictError instead of a silent lost update.
        Cross-host object stores would need a real catalog CAS
        (Iceberg's actual design); this layer is local-FS scoped.

        The snapshot's stats manifests (:meth:`_stats_refs`; parquet
        footer reads included) are settled BEFORE the lock: they depend
        only on the immutable files and manifests, and the version
        check under the lock still refuses a moved parent. A refused
        commit deletes the stats manifest it wrote. ``compact`` (a
        ``{file: stats}`` map) replaces them with one stats manifest of
        exactly its entries for the listed files.
        """
        try:
            pm = (
                read_manifest(self.root, expected_parent, stats=False)
                if expected_parent
                else {}
            )
        except FileNotFoundError:
            pm = None  # parent expired: the version check below refuses
        new_ref = None
        if pm is not None:
            manifest["manifests"], new_ref = self._stats_refs(manifest, pm, compact)
        try:
            lock_fd = self._acquire_commit_lock()
            try:
                return self._commit_locked(manifest, expected_parent, pm)
            finally:
                fcntl.flock(lock_fd, fcntl.LOCK_UN)
                os.close(lock_fd)
        except BaseException:
            if new_ref is not None:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(self.root, new_ref["path"]))
            raise

    def _commit_locked(
        self, manifest: dict, expected_parent: int, pm: dict | None
    ) -> int:
        if pm is None or self.current_version() != expected_parent:
            raise ConflictError(
                f"{self.name}: version moved to {self.current_version()}, "
                f"expected {expected_parent}"
            )
        version = expected_parent + 1
        os.makedirs(self.snap_dir, exist_ok=True)
        manifest["version"] = version
        manifest["parent"] = expected_parent
        manifest["timestamp_ms"] = int(time.time() * 1000)
        # per-writer claim token, re-verified before the pointer swing
        writer_id = uuid.uuid4().hex
        manifest["writer"] = writer_id
        # EXCLUSIVE create: two writers that both passed the version
        # check above must not both "win" (the os.replace of _current
        # cannot fail, so an overwrite would lose one commit silently).
        # 'x' makes the version number itself the lock: exactly one
        # writer creates v(N+1).json, the loser gets the contracted
        # ConflictError.
        try:
            with open(self._manifest_path(version), "x") as f:
                json.dump(manifest, f, separators=(",", ":"))
        except FileExistsError:
            stale = False
            if self.current_version() < version:
                # _current still points below the existing file: either
                # a writer crashed between manifest write and pointer
                # swing, or another writer is IN FLIGHT right now (the
                # microseconds between its manifest create and its
                # os.replace).  Only a manifest demonstrably OLD is
                # treated as the crash case — replacing a fresh one
                # would re-open the exact lost-update race the
                # exclusive create closes.
                try:
                    prior = read_manifest(self.root, version, stats=False)
                    ts = prior.get("timestamp_ms", 0)
                    stale = time.time() * 1000 - ts > 60_000
                except (json.JSONDecodeError, FileNotFoundError):
                    stale = True  # torn write = crashed writer
            if not stale:
                raise ConflictError(
                    f"{self.name}: concurrent writer already committed "
                    f"(or is committing) version {version}"
                ) from None
            # crashed leftover: it never became current, so replacing
            # it loses nothing and un-wedges the table (a live stalled
            # writer cannot reach here — it still holds the flock)
            with open(self._manifest_path(version), "w") as f:
                json.dump(manifest, f, separators=(",", ":"))
        # verify the claim immediately before the swing: if anything
        # out-of-protocol replaced our manifest, fail loudly instead
        # of pointing _current at someone else's content while
        # reporting OUR commit as the success (the raw read: the token
        # needs no file stats)
        if self._read_manifest(version, stats=False).get("writer") != writer_id:
            raise ConflictError(
                f"{self.name}: manifest v{version} was replaced by a "
                "foreign writer between claim and publish"
            )
        # unique tmp name: two swingers sharing one tmp file would race
        # (the second os.replace hits FileNotFoundError mid-commit)
        tmp = self._current_path() + f".{writer_id}.tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._current_path())
        return version

    def _stats_refs(
        self, manifest: dict, parent: dict, compact: dict | None = None
    ) -> tuple[list[dict], dict | None]:
        """The stats manifests covering ``manifest``'s files, and the
        one new stats manifest among them (None when it writes none).

        Per-file column min/max and record counts are Iceberg's
        always-on column metrics, a function of the immutable file, so
        a snapshot reuses its sources' stats manifests by path and
        writes stats only for the files no source covers. The sources
        are the content source of a rollforward or a branch write, main
        head when the log parent is a branch's staged snapshot, and the
        log parent; a file a source lists is covered by that source's
        ``manifests`` — worked out from the ``files`` lists alone. A
        legacy source's inline stats migrate into the new stats
        manifest; the parquet footer is read for the rest. A listed
        path that is not a file gets no stats; the planner keeps files
        without stats.

        A commit that writes a new stats manifest also absorbs each
        referenced one with no more entries than it writes (smallest
        first, its live entries only): a tiered merge that keeps the
        refs at O(log files) however many small commits land. Entries
        of deleted files stay in the refs that hold them, so once the
        refs' entries exceed twice the live files the commit absorbs
        every ref: metadata stays bounded by the live table, not its
        history. A referenced stats manifest that has gone missing
        (swept or deleted outside the protocol) is found when absorbed;
        the commit then absorbs every ref and reads the footer of each
        live file left without an entry. With ``compact`` the one new
        stats manifest holds its entries and no source is consulted."""
        files = manifest["files"]
        refs: list[dict] = []
        entries: dict = {}
        if compact is not None:
            entries = {f: compact[f] for f in files if f in compact}
        else:
            todo = set(files)
            for src in self._stats_sources(manifest, parent):
                listed = todo.intersection(src.get("files", ()))
                if "manifests" in src:
                    if listed:
                        todo -= listed
                        refs += [r for r in src["manifests"] if r not in refs]
                    continue
                inline = src.get("stats", {})
                for f in listed.intersection(inline):
                    entries[f] = inline[f]
                    todo.discard(f)
            for f in files:
                if f in todo and os.path.isfile(f):
                    entries[f] = _file_column_stats(f)
            live = set(files)
            absorb_all = sum(r["entries"] for r in refs) + len(entries) > 2 * len(live)
            lost = False
            if entries or absorb_all:
                for ref in sorted(refs, key=lambda r: r["entries"]):
                    if not (absorb_all or lost) and ref["entries"] > len(entries):
                        break
                    refs.remove(ref)
                    got = _load_stats(self.root, ref)
                    lost = lost or got is None
                    for f, st in (got or {}).items():
                        if f in live:
                            entries.setdefault(f, st)
            if lost:
                for f in files:
                    if f not in entries and os.path.isfile(f):
                        entries[f] = _file_column_stats(f)
        if not entries:
            return refs, None
        entries = {f: entries[f] for f in files if f in entries}
        new_ref = {
            "path": os.path.join(STATS_DIR, f"{uuid.uuid4().hex}.json"),
            "entries": len(entries),
        }
        os.makedirs(os.path.join(self.root, STATS_DIR), exist_ok=True)
        with open(os.path.join(self.root, new_ref["path"]), "x") as f:
            json.dump(entries, f, separators=(",", ":"))
        return refs + [new_ref], new_ref

    def _stats_sources(self, manifest: dict, parent: dict) -> list[dict]:
        """Raw manifests whose stats a commit of ``manifest`` on
        ``parent`` may reuse, the content source first (see
        :meth:`_stats_refs`); an expired source is skipped."""
        out = []
        content = manifest.get("rollforward_of") or manifest.get("ref_base")
        if content and content != parent.get("version"):
            try:
                out.append(self._read_manifest(content, stats=False))
            except FileNotFoundError:
                pass
        if parent.get("staged_ref"):
            try:  # main's head lies below a staged parent
                out.append(main_walk(self.root, parent["version"] - 1)[1])
            except ValueError:
                pass
        return out + [parent]

    def _base(self) -> tuple[int, dict]:
        """``(log head, main head's raw manifest)`` from one walk: the
        parent a main-side operation commits against and the one state
        it reads its files, schema, partition spec, renames and defaults
        from. The manifest is ``{}`` before the table exists."""
        parent = self.current_version()
        return parent, main_walk(self.root, parent)[1]

    def _existing_base(self) -> tuple[int, dict]:
        """:meth:`_base` of a table that must exist."""
        parent, m = self._base()
        if not m:
            raise ValueError(f"table {self.name} does not exist")
        return parent, m

    def _base_with(self, version: int, vm: dict) -> tuple[int, dict]:
        """:meth:`_base` for an operation that has read snapshot
        ``version``'s raw manifest ``vm``: when that snapshot is the log
        head it is not read again."""
        parent = self.current_version()
        if version == parent and not vm.get("staged_ref"):
            return parent, vm
        # a staged log head is not main: main's head lies below it
        return parent, main_walk(self.root, parent - (version == parent))[1]

    def _write_files(self, df: DataFrame, spec: list[str]) -> list[str]:
        """Materialize df as new immutable parquet files; returns paths.
        Files are written to a unique subdir then registered by name —
        the manifest, not the directory listing, defines the table.

        A partitioned layout (``spec``, the partition transforms of the
        base the write commits on; empty = unpartitioned) puts files in
        hive-style dirs of *derived* transform columns, which the files
        themselves do not store — the 'hidden' in hidden partitioning."""
        out = os.path.join(self.data_dir, uuid.uuid4().hex[:12])
        writer = df.write
        if spec:
            cols = dict(partition_transform(s) for s in spec)
            writer = df.withColumns(cols).write.partitionBy(*cols)
        writer.mode("overwrite").parquet(out)
        return sorted(
            os.path.join(d, f)
            for d, _dirs, names in os.walk(out)
            for f in names
            if f.endswith(".parquet")
        )

    def _snapshot(self, version: int | None) -> dict:
        """Raw manifest of snapshot ``version``: main's head (NOT the
        raw log head, see main_head()) when None, ``{}`` at 0."""
        if version is None:
            return self._base()[1]
        return self._read_manifest(version, stats=False) if version else {}

    def _files(self, version: int | None = None) -> list[str]:
        return self._snapshot(version).get("files", [])

    def record_count(self, version: int | None = None) -> int:
        """Rows in snapshot ``version`` (default: main's head), summed
        from the manifest's per-file ``record_count`` without reading
        data. A manifest with a file that lacks the count (written
        before counts were recorded) falls back to counting the scan."""
        m = _with_stats(self.root, self._snapshot(version))
        if not m:
            return 0
        stats = m.get("stats", {})
        try:
            return sum(stats[f]["record_count"] for f in m["files"])
        except KeyError:
            return self.read(m["version"]).count()

    # ---------- S4/S5/S6: create / append / overwrite ----------

    def create(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        """CREATE TABLE AS SELECT (S5). ``partition_by`` is the partition
        spec — Iceberg transforms such as ``["days(ts)", "bucket(4, id)"]``
        (see :func:`partition_transform`); it is recorded in the manifest
        and every commit that writes files on it lays them out by it
        until evolve_partitioning (see :func:`_carried`)."""
        if self.current_version() != 0:
            raise ValueError(f"table {self.name} already exists")
        spec = list(partition_by or [])
        manifest = {
            "files": self._write_files(df, spec),
            "schema": df.schema.jsonValue(),
            "op": "create",
        }
        if spec:
            manifest["partition_spec"] = spec
        return self._commit(manifest, 0)

    def append(self, df: DataFrame) -> int:
        """INSERT INTO (S4): old files + new files, nothing rewritten.

        The incoming frame's columns must be a superset-free match of
        the table schema BY NAME (append is name-based, like Iceberg's
        writer validation) — a frame with mismatched names previously
        wrote files whose columns the manifest-schema scan can't find,
        silently reading the appended rows back as all-NULL (found via
        `INSERT … VALUES`, whose frame arrives named col1/col2). Use
        :meth:`append_positional` for positional INSERT semantics.
        """
        return self._append(df, positional=False)

    def append_positional(self, df: DataFrame) -> int:
        """SQL ``INSERT INTO`` binds columns POSITIONALLY: arity must
        match, then each incoming column is renamed and cast to the
        table column at its ordinal (ANSI cast errors surface)."""
        return self._append(df, positional=True)

    def _append(self, df: DataFrame, positional: bool) -> int:
        parent, m = self._existing_base()
        if positional:
            df = self._bind_positional(df, m["schema"])
        table_cols = [f["name"] for f in m["schema"]["fields"]]
        missing = [c for c in table_cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"append to {self.name}: frame lacks column(s) {missing}; "
                f"frame has {df.columns} — rename/select to match, or use "
                "append_positional for INSERT-style positional binding"
            )
        new_files = self._write_files(
            df.select(table_cols), m.get("partition_spec", [])
        )
        return self._commit(
            {"files": m["files"] + new_files, **_carried(m), "op": "append"},
            parent,
        )

    def _bind_positional(self, df: DataFrame, schema: dict) -> DataFrame:
        """Rename and cast ``df``'s columns by ordinal onto ``schema``
        (the write's base schema: main's, or a branch's)."""
        from pyspark.sql.types import StructType

        st = StructType.fromJson(schema)
        if len(df.columns) != len(st.fields):
            raise ValueError(
                f"INSERT into {self.name}: {len(df.columns)} values for "
                f"{len(st.fields)} columns"
            )
        return df.select(
            *[
                F.col(src).cast(fld.dataType).alias(fld.name)
                for src, fld in zip(df.columns, st.fields)
            ]
        )

    def overwrite(self, df: DataFrame) -> int:
        """INSERT OVERWRITE (static, S6). NOTE: replaces the table
        SCHEMA with the frame's — the DataFrame-door semantics; the SQL
        door binds positionally first (overwrite_positional). On a
        missing table it is an unpartitioned create."""
        return self._overwrite(df, positional=False)

    def overwrite_positional(self, df: DataFrame) -> int:
        """SQL ``INSERT OVERWRITE`` binds POSITIONALLY into the
        EXISTING schema, so the table keeps its column names whatever
        the frame's are (a VALUES frame arrives named col1/col2)."""
        return self._overwrite(df, positional=True)

    def _overwrite(self, df: DataFrame, positional: bool) -> int:
        parent, m = self._existing_base() if positional else self._base()
        if positional:
            df = self._bind_positional(df, m["schema"])
        files = self._write_files(df, m.get("partition_spec", []))
        # every file is new and stores the frame's columns by name: no
        # rename or default maps onto it, only the layout carries over
        carried = _carried({"schema": df.schema.jsonValue()}, layout=m)
        return self._commit({"files": files, **carried, "op": "overwrite"}, parent)

    def schema_json(self) -> dict:
        return self._existing_base()[1]["schema"]

    # ---------- S1/S8: scan + time travel ----------

    def read(self, version: int | None = None) -> DataFrame:
        """Scan the table at the current (or a historical) snapshot.

        The manifest schema is applied explicitly (schema-on-read from
        table metadata, as Iceberg does): no per-file schema inference,
        and files written before a column was added yield NULLs for it.
        """
        try:
            m = self._snapshot(version)
        except FileNotFoundError:
            # explicit-version read of an expired/never-existing
            # snapshot: the contracted error type, not a leaked
            # internal path
            raise ValueError(
                f"table {self.name}: snapshot v{version} expired or never "
                "existed"
            ) from None
        if not m:
            # contracted error, matching schema_json: a missing table
            # has no schema to build even an empty frame from
            raise ValueError(f"table {self.name} does not exist")
        return self._scan_files(m["files"], m)

    def _scan_files(self, files: list[str], manifest: dict) -> DataFrame:
        """Manifest-schema scan of ``files`` (an empty frame of that
        schema when there are none) — EVERY read of manifest-listed
        files (full and time-travel reads, CoW rewrites, incremental
        and CDC reads) comes through here.

        Columns resolve per file through the manifest's column map
        (:func:`_stored_names`), Iceberg's field-id resolution for
        this layer's name-mapped files: files are grouped by the names
        they store the schema's columns under, each group scans those
        names and projects them back to the logical schema, and the
        groups union. A pre-rename file thus keeps its values, and a
        column a group holds no value for reads its initial default
        (NULL when none was given) as a literal — no row-level test of
        the file it came from. A manifest without renames or defaults
        is one bare scan."""
        from pyspark.sql.types import StructField, StructType

        schema = StructType.fromJson(manifest["schema"])
        if not files:
            return self.spark.createDataFrame([], schema)
        if not manifest.get("renames") and not manifest.get("defaults"):
            return self.spark.read.schema(schema).parquet(*files)
        stored = _stored_names(manifest)
        logical = tuple(schema.fieldNames())
        groups: dict[tuple, list[str]] = {}
        for f in files:
            groups.setdefault(tuple(stored(f, c) for c in logical), []).append(f)
        defaults = manifest.get("defaults", {})
        parts = []
        for names, fs in groups.items():
            phys = StructType(
                [
                    StructField(n, fld.dataType, fld.nullable, fld.metadata)
                    for n, fld in zip(names, schema.fields)
                    if n is not None
                ]
            )
            part = self.spark.read.schema(phys).parquet(*fs)
            if names != logical:
                part = part.select(
                    *[
                        F.col(n).alias(fld.name)
                        if n is not None
                        else F.lit(defaults.get(fld.name, {}).get("value"))
                        .cast(fld.dataType)
                        .alias(fld.name)
                        for n, fld in zip(names, schema.fields)
                    ]
                )
            parts.append(part)
        return functools.reduce(DataFrame.unionByName, parts)

    def read_as_of_timestamp(self, ts_ms: int) -> DataFrame:
        """TIMESTAMP AS OF (M4's second spelling): scan the latest
        MAIN snapshot committed at or before ``ts_ms``. Raises if the
        table did not exist yet — Iceberg's `Cannot find a snapshot
        older than` contract, not an empty frame (an empty frame would
        silently mean 'table existed and was empty'). Snapshots staged
        by a branch write (``staged_ref``) are SKIPPED, mirroring
        main_head(): a main-side time-travel read must never land on
        an unaudited staged snapshot."""
        best = max(
            (
                v
                for v, m in manifests(self.root)
                if not m.get("staged_ref") and m["timestamp_ms"] <= ts_ms
            ),
            default=None,
        )
        if best is None:
            raise ValueError(
                f"{self.name}: no snapshot at or before timestamp {ts_ms}"
            )
        return self.read(version=best)

    # ---------- S7: metadata tables ----------

    def snapshots(self) -> DataFrame:
        """The `t.snapshots` metadata relation, one row per surviving
        snapshot (expire_snapshots() removes rows); history() projects
        it."""
        rows = [
            (m["version"], m["parent"], m["op"], len(m["files"]), m["timestamp_ms"])
            for _, m in manifests(self.root)
        ]
        return self.spark.createDataFrame(
            rows, "version int, parent int, operation string, n_files int, ts_ms long"
        )

    # ---------- scan planning ----------

    def _plan_files(self, m: dict, cond) -> tuple[list[str], dict]:
        """The files of manifest ``m`` that may hold a row satisfying
        ``cond``, and a scan report — THE planner behind every pruned
        read and every DML's file discovery.

        The filters are Spark's own: those it pushes into the planned
        (never executed) scan of one live file under the manifest
        schema. Each is evaluated inclusively against every file's
        min/max, so a file is dropped only when its stats prove no row
        can match; a filter class or value the evaluator cannot compare,
        a file without stats and a column the file does not physically
        hold all keep the file. A filtered column's stats are those of
        the name the file stores it under (:func:`_stored_names`); a
        file that holds no value for it reads its default there, never
        any physical stats. ``m`` may be raw: the stats are assembled
        only when Spark pushed a filter to evaluate."""
        from pyspark.sql.types import StructType

        files = m.get("files", [])
        report: dict = {"total_files": len(files), "filters": []}
        pushed = None
        if files:
            schema = StructType.fromJson(m["schema"])
            pushed = _pushed_filters(
                self.spark.read.schema(schema).parquet(files[0]).filter(cond)
            )
        if pushed:
            report["filters"] = [jf.toString() for jf in pushed]
            types = {f.name: f.dataType for f in schema.fields}
            trees = [t for t in (_filter_tree(jf, types) for jf in pushed) if t]
            stored = _stored_names(m)
            stats = _with_stats(self.root, m).get("stats", {})

            def bounds_in(f: str):
                def bounds(col: str):
                    p = stored(f, col)
                    if p is None:
                        return None
                    s = stats.get(f) or {}
                    lo = s.get("min", {}).get(p)
                    hi = s.get("max", {}).get(p)
                    if lo is None or hi is None:
                        return None
                    if is_temporal_dtype(types[col]):
                        # a stat written before dates gained their
                        # midnight normalizes like the bound did
                        lo = temporal_bound_iso(lo)
                        hi = temporal_bound_iso(hi)
                        if lo is None or hi is None:
                            return None
                    return lo, hi

                return bounds

            files = [
                f
                for f in files
                if all(_may_match(t, bounds_in(f)) for t in trees)
            ]
        report["planned_files"] = len(files)
        return files, report

    def _planned_scan(self, col: str, lo, hi, half_open: bool = False):
        """The one planned range scan behind :meth:`read_range`,
        :meth:`pruned_files` and :meth:`read_pruned`: main's head
        manifest, the condition ``lo <= col <= hi`` (``< hi`` when
        ``half_open``) with bounds from :meth:`_range_bounds`, and the
        files :meth:`_plan_files` keeps for it."""
        m = self._existing_base()[1]
        lo_l, hi_l = self._range_bounds(m, col, lo, hi)
        upper = F.col(col) < hi_l if half_open else F.col(col) <= hi_l
        cond = (F.col(col) >= lo_l) & upper
        return m, cond, self._plan_files(m, cond)[0]

    def _range_bounds(self, m: dict, col: str, lo, hi):
        """The range bounds on ``col`` as literal Columns — THE dtype
        gate of every range read. Bounds on a TEMPORAL column are
        normalized ISO strings cast to the column's own type (a naive
        Python datetime handed to Spark raw becomes a zoned literal
        converted through the driver's local timezone); a bound the
        normalizer cannot canonicalize raises ValueError. Other bounds —
        a date-shaped bound on a STRING column too — pass verbatim
        (padding one to '...T00:00:00' would over-filter its boundary
        rows lexicographically)."""
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(m["schema"])
        dt = schema[col].dataType if col in schema.fieldNames() else None
        if dt is None or not is_temporal_dtype(dt):
            return F.lit(lo), F.lit(hi)
        lo_n, hi_n = temporal_bound_iso(lo), temporal_bound_iso(hi)
        if lo_n is None or hi_n is None:
            # fractional-minute ISO shapes like '08:30.5' are rejected:
            # pass full seconds
            raise ValueError(
                f"unsupported temporal bound for {col!r}: "
                f"{lo!r}..{hi!r} — pass "
                "'YYYY-MM-DD[ HH:MM:SS[.ffffff]]' or datetime/date"
            )
        return F.lit(lo_n).cast(dt), F.lit(hi_n).cast(dt)

    # ---------- M2/M3: UPDATE / DELETE (copy-on-write, file-pruned) ----------

    def _affected_files(self, m: dict, files: list[str], rows) -> list[str]:
        """The ``files`` of manifest ``m`` holding at least one row of
        ``rows(scan)``, where ``scan`` is their manifest-schema scan
        with each row's source file in ``__file`` — the one exact
        discovery pass behind every copy-on-write rewrite, run over the
        files the planner kept (Iceberg-style: the files it does not
        return survive into the next snapshot as-is)."""
        if not files:
            return []
        if len(files) == 1:
            # one candidate: an emptiness probe (a limit-1 job, no shuffle)
            return [] if rows(self._scan_files(files, m)).isEmpty() else files
        scan = self._scan_files(files, m).withColumn("__file", _input_path())
        # subscript access: attribute access would name-mangle __file
        hits = {r["__file"] for r in rows(scan).select("__file").distinct().collect()}
        return [f for f in files if os.path.abspath(f) in hits]

    def _filtered_files(self, m: dict, cond) -> list[str]:
        """The files of ``m`` holding a row where ``cond`` is TRUE:
        the exact discovery over the files the planner keeps."""
        planned, _ = self._plan_files(m, cond)
        return self._affected_files(m, planned, lambda scan: scan.filter(cond))

    def _commit_rewrite(
        self, parent: int, m: dict, affected: list[str], rows, op: str, **extra
    ) -> int:
        """The copy-on-write tail every row-level DML shares: commit
        ``m``'s files minus ``affected``, plus ``rows`` (None = none)
        written with ``m``'s partition spec; ``extra`` overrides or adds
        manifest keys (MERGE's evolved schema and defaults)."""
        rewritten = set(affected)
        keep = [f for f in m["files"] if f not in rewritten]
        new_files = (
            [] if rows is None else self._write_files(rows, m.get("partition_spec", []))
        )
        return self._commit(
            {
                "files": keep + new_files,
                **_carried(m),
                "op": op,
                "rewritten": len(affected),
                **extra,
            },
            parent,
        )

    def delete_where(self, cond) -> int:
        """DELETE FROM t WHERE cond (M3)."""
        parent, m = self._base()
        affected = self._filtered_files(m, cond)
        if not affected:
            return parent  # no-op delete commits nothing
        # SQL DELETE removes only rows where cond is TRUE; a bare ~cond
        # filter would also drop NULL-predicate rows (NOT NULL => NULL,
        # filtered out). Keep rows where cond is FALSE *or* NULL.
        survivors = self._scan_files(affected, m).filter(
            ~F.coalesce(cond, F.lit(False))
        )
        return self._commit_rewrite(parent, m, affected, survivors, "delete")

    def _check_set_columns(self, what: str, cols, schema: dict) -> None:
        """UNRESOLVED_COLUMN parity: a SET column naming no column of
        ``schema`` raises, as in Spark/Iceberg. Assignments are looked
        up by ``c in cols``, so a typo ("SET prce = 0") would otherwise
        leave every row unchanged while the statement commits."""
        known = {f["name"] for f in schema["fields"]}
        unknown = sorted(set(cols) - known)
        if unknown:
            raise ValueError(
                f"{self.name}: {what} SET references unknown column(s) "
                f"{unknown}; table columns: {sorted(known)}"
            )

    def update_set(self, cond, assignments: dict[str, F.Column]) -> int:
        """UPDATE t SET ... WHERE cond (M2)."""
        parent, m = self._existing_base()
        self._check_set_columns("UPDATE", assignments, m["schema"])
        affected = self._filtered_files(m, cond)
        if not affected:
            return parent
        df = self._scan_files(affected, m)
        updated = df.select(
            *[
                F.when(cond, assignments[c]).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in df.columns
            ]
        )
        return self._commit_rewrite(parent, m, affected, updated, "update")

    # ---------- M1: MERGE INTO ----------

    def merge_into(
        self,
        source: DataFrame,
        on: str,
        update_cols: dict[str, F.Column] | None = None,
        insert: bool = True,
        delete_cond=None,
        validate_source_keys: bool = True,
        schema_evolution: bool = False,
    ) -> int:
        """MERGE INTO target USING source ON target.on = source.on
        WHEN MATCHED [AND delete_cond] THEN DELETE
        WHEN MATCHED THEN UPDATE SET update_cols
        WHEN NOT MATCHED THEN INSERT *                        (M1)

        ``update_cols`` semantics (SQL standard): ``None`` = UPDATE
        SET * (every column from source); an explicit dict updates
        ONLY the listed columns, unlisted ones keep the target value;
        ``{}`` = no UPDATE clause (matched rows survive unchanged —
        what a delete-only MERGE needs).

        ``schema_evolution`` mirrors Iceberg/Spark 4's
        ``mergeInto(...).withSchemaEvolution()``: source columns absent
        from the target are first ADDed (manifest-only, M6 path — no
        file rewrite), so pre-existing rows read NULL for them and the
        merge's update/insert branches carry the new values.

        File-pruned copy-on-write, as Iceberg's MERGE is: the planner
        keeps the files whose key range meets the source keys'
        ``[min, max]``; one discovery pass semi-joins those files' merge
        key with the non-NULL source keys, and only the files
        it returns (every file holding a matched row) go through the
        join-based rewrite — the plan shape Iceberg's extension rules
        generate — together with the whole source, so unmatched source
        rows still insert. Every other file survives into the new
        snapshot byte-identical (unmatched and NULL-keyed target rows
        are kept as they are, and a kept file reads NULL for a column
        this merge evolves in). A one-file table has nothing to prune
        and skips the discovery; on a multi-file table it stays exact,
        so a file is rewritten only when it holds a matched row.

        ``validate_source_keys`` mirrors Iceberg's cardinality check:
        MERGE errors when one target row matches multiple source rows
        (a bare join would silently fan the target out instead). It
        rides the one aggregate over the (usually far smaller) source
        that also yields the key range; disable for pre-deduplicated
        feeds.
        """
        from pyspark.sql.types import (
            DateType,
            IntegralType,
            StringType,
            StructField,
            StructType,
            TimestampNTZType,
        )

        parent, m = self._existing_base()
        files = m["files"]
        multi = len(files) > 1
        if multi:
            # validation, discovery and the rewrite each run the source;
            # one materialized copy makes them see the same rows, so a
            # key the discovery missed cannot reach the join and insert
            # a duplicate of a row in a kept file
            source = source.localCheckpoint()
        key = F.col(on)
        key_type = source.select(key).schema[0].dataType
        target_types = {
            f.name: f.dataType for f in StructType.fromJson(m["schema"]).fields
        }
        # the key range prunes only where its string round trip is exact
        # and orders as the target column does
        plan = (
            multi
            and target_types.get(on) == key_type
            and isinstance(
                key_type, (IntegralType, StringType, DateType, TimestampNTZType)
            )
        )
        aggs = []
        if validate_source_keys:
            # NULL keys are excluded from both counts: they can never
            # match a target row (equi-join), so multiple NULL-keyed
            # source rows are plain NOT-MATCHED inserts, as in real MERGE
            aggs += [F.count(key).alias("n"), F.count_distinct(key).alias("d")]
        if plan:
            aggs += [
                F.min(key).cast("string").alias("lo"),
                F.max(key).cast("string").alias("hi"),
            ]
        src_stats = source.agg(*aggs).first() if aggs else None
        if validate_source_keys and src_stats["n"] != src_stats["d"]:
            raise ValueError(
                f"merge_into: source has duplicate rows for key {on!r} "
                "(Iceberg MERGE cardinality violation)"
            )
        # Schema evolution is folded into the merge's OWN commit —
        # Iceberg's withSchemaEvolution is a single transaction, so a
        # conflict/failure must leave neither the schema nor the data
        # half-applied.
        existing = {f["name"] for f in m["schema"]["fields"]}
        evolved = [
            StructField(f.name, f.dataType).jsonValue()
            for f in source.schema.fields
            if schema_evolution and f.name not in existing
        ]
        schema = {**m["schema"], "fields": m["schema"]["fields"] + evolved}
        # the pre-existing files hold no evolved column, whatever values a
        # dropped column of that name left in them: as after add_column,
        # they are recorded absent and read NULL
        defaults = {
            **m.get("defaults", {}),
            **{c["name"]: {"value": None, "absent_files": files} for c in evolved},
        }
        # post-evolution: a SET may name a column this MERGE adds
        self._check_set_columns("MERGE UPDATE", update_cols or {}, schema)
        if not multi:
            affected = files
        else:
            planned = files
            if plan:
                lo, hi = src_stats["lo"], src_stats["hi"]
                planned = (
                    self._plan_files(
                        m,
                        key.between(
                            F.lit(lo).cast(key_type), F.lit(hi).cast(key_type)
                        ),
                    )[0]
                    if lo is not None
                    else []  # no non-NULL source key: nothing can match
                )
            # a semi-join keeps each target row once however many
            # source rows share its key: no distinct pass needed
            keys = source.select(key.alias("__src_key")).filter(
                F.col("__src_key").isNotNull()
            )
            affected = self._affected_files(
                m,
                planned,
                lambda scan: scan.join(
                    keys, scan[on] == keys["__src_key"], "left_semi"
                ),
            )
        # an evolved column reads NULL in pre-existing rows, exactly
        # the manifest-only ADD semantics, but uncommitted
        target = self._scan_files(
            affected, {**m, "schema": schema, "defaults": defaults}
        )
        tcols = target.columns
        # Presence is tracked with explicit marker columns, NOT key
        # nullability: a pre-existing target row whose merge-key column
        # is NULL must still classify as target-only (key-based
        # classification would treat it as source-only and corrupt or
        # drop it).
        tgt = target.withColumn("__t_present", F.lit(1))
        src = source.select(
            F.col(on).alias("__src_key"),
            F.struct(*[F.col(c).alias(c) for c in source.columns]).alias("__src"),
            F.lit(1).alias("__s_present"),
        )
        joined = tgt.join(src, tgt[on] == src["__src_key"], "full_outer")

        matched = (
            F.col("__t_present").isNotNull() & F.col("__s_present").isNotNull()
        )
        src_only = F.col("__t_present").isNull()

        # Classify every joined row: Delete / Update / Insert / Keep.
        act = (
            F.when(matched, F.lit("U"))
            .when(src_only, F.lit("I") if insert else F.lit("D"))
            .otherwise(F.lit("K"))
        )
        if delete_cond is not None:
            act = F.when(matched & delete_cond, F.lit("D")).otherwise(act)

        def out_col(c: str) -> F.Column:
            # UPDATE semantics (SQL standard, and this method's own
            # docstring): update_cols=None means UPDATE SET * (every
            # column from source); an explicit dict updates ONLY the
            # listed columns — unlisted ones KEEP THE TARGET VALUE, so
            # `UPDATE SET t.v = s.v` leaves every other column as the
            # target holds it. An empty dict therefore means "no UPDATE
            # clause": matched rows survive byte-identical.
            if update_cols is None:
                updated = F.col("__src").getField(c)
            elif c in update_cols:
                updated = update_cols[c]
            else:
                updated = F.col(c)
            out = F.when(F.col("__act") == "U", updated)
            if insert:
                # only an inserted row reads every column from the source
                out = out.when(F.col("__act") == "I", F.col("__src").getField(c))
            return out.otherwise(F.col(c)).alias(c)

        merged = (
            joined.withColumn("__act", act)
            .filter(F.col("__act") != "D")
            .select(*[out_col(c) for c in tcols])
        )
        # single commit carries BOTH the evolved schema and the data; no
        # affected file and no inserts: the data is unchanged
        return self._commit_rewrite(
            parent,
            m,
            affected,
            merged if affected or insert else None,
            "merge",
            schema=schema,
            **({"defaults": defaults} if evolved else {}),
        )

    # ---------- M4: rollback ----------

    def rollback_to(self, version: int) -> int:
        """CALL system.rollback_to_snapshot (M4): new commit whose file
        list is the old snapshot's — history is preserved, not erased.

        The commit is stamped ``rollforward_of`` so ancestry proofs
        treat it as the SAME content point as its source: a WAP publish
        (``fast_forward("main", b)`` → rollback_to) keeps the published
        content's version identity, so the next publish from the same
        long-lived branch can still prove ancestry.

        Refuses a STAGED (unaudited branch-write) snapshot: the direct
        ``CALL system.rollback_to_snapshot`` door must not publish
        unaudited rows to main, bypassing the WAP audit gate of
        ``fast_forward("main", b)``, which publishes through
        :meth:`_rollforward` after its own _assert_fast_forward.
        Iceberg's procedure likewise refuses non-ancestors.  A
        missing/expired version raises the contracted ValueError, not a
        raw FileNotFoundError."""
        parent = self.current_version()
        m = self._existing_snapshot(version)
        if m.get("staged_ref"):
            raise ValueError(
                f"{self.name}: v{version} is a STAGED snapshot of "
                f"branch {m['staged_ref']!r} — publish it through "
                "fast_forward after auditing, not rollback_to_snapshot"
            )
        return self._rollforward(parent, version, m)

    def _existing_snapshot(self, version: int) -> dict:
        """Raw manifest of snapshot ``version``; the contracted
        ValueError once it expired (or never existed)."""
        try:
            return self._read_manifest(version, stats=False)
        except FileNotFoundError:
            raise ValueError(
                f"{self.name}: no snapshot v{version} (missing or "
                "expired)"
            ) from None

    def _rollforward(self, parent: int, version: int, m: dict) -> int:
        """Commit snapshot ``version``'s content (``m``, its raw
        manifest, with its schema, mappings and spec) on log head
        ``parent``, stamped ``rollforward_of`` so ancestry proofs treat
        it as the same content point as its source."""
        return self._commit(
            {
                "files": m["files"],
                **_carried(m),
                "op": f"rollback_to_v{version}",
                "rollforward_of": version,
            },
            parent,
        )

    # ---------- M5: maintenance ----------

    def compact(self, target_partitions: int = 4) -> int:
        """rewrite_data_files: coalesce small files (M5). Reads the
        current snapshot and rewrites it as target_partitions files."""
        return self._rewrite_table(
            lambda df: df.coalesce(target_partitions), "compact"
        )

    def _rewrite_table(self, transform, op: str) -> int:
        """The whole-table rewrite behind compaction and re-clustering:
        main's files, scanned under its schema, written back as
        ``transform(scan)`` with its partition spec, replace them all."""
        parent, m = self._existing_base()
        df = transform(self._scan_files(m["files"], m))
        return self._commit(
            {
                "files": self._write_files(df, m.get("partition_spec", [])),
                **_carried(m),
                "op": op,
            },
            parent,
        )

    def expire_snapshots(
        self, keep_last: int = 2, older_than_ms: int | None = None
    ) -> list[int]:
        """expire_snapshots + remove_orphan_files (M5): drop manifests
        beyond the last ``keep_last`` — and, when ``older_than_ms`` is
        given, ONLY those also committed before it (Iceberg's
        ``older_than`` retention: both constraints must hold, so a
        recent snapshot is never expired by an aggressive age alone).
        Idempotent: snapshots already expired by a previous call are
        skipped, not crashed on."""
        if keep_last < 1:
            # [:-0] == [:0] would invert "retain none" into "retain
            # everything"; Iceberg validates retain_last >= 1 the same way
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        cur = self.current_version()
        candidates = [v for v in range(1, cur + 1)][:-keep_last]
        # Load every surviving manifest FIRST; the expire set is decided
        # before any liveness accounting so an age-PROTECTED candidate's
        # files count as live.
        ms = dict(manifests(self.root, 1, cur))
        # Ref retention (Iceberg semantics): a snapshot a branch or tag
        # still points to — and any staged snapshot whose branch still
        # exists — is non-expirable regardless of keep_last/age, so
        # read_ref keeps working after routine maintenance.
        refs = self._refs()
        protected = {int(v) for v in refs["branches"].values()}
        protected.update(int(v) for v in refs["tags"].values())
        protected.update(
            v for v, m in ms.items() if m.get("staged_ref") in refs["branches"]
        )
        # MAIN-head retention: when staged branch snapshots occupy the
        # trailing keep_last slots, the current main head falls into the
        # candidate range, and expiring it would wedge every main-side
        # read. Protect the whole main_head() walk path [mh .. cur]:
        # every snapshot the staged-skipping walk may touch must stay
        # readable (a dropped branch's staged snapshot between cur and
        # mh would otherwise hole the walk).
        mh = max((v for v, m in ms.items() if not m.get("staged_ref")), default=0)
        protected.update(range(mh, cur + 1))
        to_expire = [
            v
            for v in candidates
            if v in ms
            and v not in protected
            and (older_than_ms is None or ms[v]["timestamp_ms"] < older_than_ms)
        ]
        kept = [m for v, m in ms.items() if v not in to_expire]
        live_files = {f for m in kept for f in m["files"]}
        live_refs = {r["path"] for m in kept for r in m.get("manifests", ())}
        removed = []
        for v in to_expire:
            self._remove_data_files(
                f for f in ms[v]["files"] if f not in live_files
            )
            for r in ms[v].get("manifests", ()):
                if r["path"] not in live_refs:
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(os.path.join(self.root, r["path"]))
            os.remove(self._manifest_path(v))
            removed.append(v)
        return removed

    def _remove_data_files(self, paths) -> None:
        """Delete data files with their Hadoop checksum sidecars
        (``.<name>.crc``; a path already gone still takes its sidecar);
        a write batch left holding only its ``_SUCCESS`` markers (and
        emptied partition dirs) goes too."""
        batches = set()
        for f in paths:
            d, name = os.path.split(f)
            for p in (f, os.path.join(d, f".{name}.crc")):
                with contextlib.suppress(FileNotFoundError):
                    os.remove(p)
            rel = os.path.relpath(f, self.data_dir).split(os.sep)
            if len(rel) > 1 and rel[0] != "..":
                batches.add(os.path.join(self.data_dir, rel[0]))
        for b in sorted(batches):
            if _spent_batch(b):
                shutil.rmtree(b, ignore_errors=True)

    def rewrite_manifests(self) -> int:
        """CALL system.rewrite_manifests (M5, SURVEY §2.11 ←
        main.tf:803's extension surface): metadata-ONLY commit that
        compacts the current snapshot's metadata — file entries deduped
        and sorted by path, and its stats manifests replaced by one
        holding exactly the live files, as Iceberg's procedure rewrites
        many small manifests into few; a live file whose stats entry was
        lost gets it back from its parquet footer. Data files are
        untouched, exactly like Iceberg."""
        parent, m = self._existing_base()
        files = sorted(dict.fromkeys(m["files"]))
        stats = _with_stats(self.root, m).get("stats", {})
        # a file whose stats were lost gets them back from its footer
        compact = {
            f: stats[f] if f in stats else _file_column_stats(f)
            for f in files
            if f in stats or os.path.isfile(f)
        }
        return self._commit(
            {"files": files, **_carried(m), "op": "rewrite_manifests"},
            parent,
            compact=compact,
        )

    def cherrypick(self, version: int) -> int:
        """CALL system.cherrypick_snapshot via the SQL door — delegates
        to :func:`cherrypick_snapshot` (module level, M5)."""
        return cherrypick_snapshot(self, version)

    def rewrite_data_files(
        self,
        target_partitions: int = 4,
        strategy: str = "binpack",
        sort_order: str | None = None,
    ) -> int:
        """Iceberg's ``CALL system.rewrite_data_files`` dispatch (M5):
        binpack (default) → :meth:`compact`; ``strategy => 'sort'`` with
        ``sort_order => 'col'`` → :meth:`rewrite_sorted`;
        ``sort_order => 'zorder(a, b)'`` → :meth:`rewrite_zorder`
        (main.tf:803 wires the extension providing this procedure).
        """
        strategy = strategy.lower()
        if strategy not in ("binpack", "sort"):
            raise ValueError(f"rewrite_data_files: unknown strategy {strategy!r}")
        if strategy == "binpack":
            if sort_order is not None:
                raise ValueError(
                    "rewrite_data_files: sort_order requires strategy => 'sort'"
                )
            return self.compact(target_partitions)
        if sort_order is None:
            raise ValueError("rewrite_data_files: strategy 'sort' needs sort_order")
        zm = re.match(r"^zorder\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)$", sort_order, re.I)
        if zm:
            return self.rewrite_zorder(
                zm.group(1), zm.group(2), target_files=target_partitions
            )
        if not re.match(r"^\w+$", sort_order):
            raise ValueError(
                f"rewrite_data_files: unsupported sort_order {sort_order!r} "
                "(a single column or zorder(a, b))"
            )
        return self.rewrite_sorted(sort_order, target_files=target_partitions)

    def remove_orphan_files(self, older_than_ms: int | None = None) -> list[str]:
        """CALL system.remove_orphan_files (M5): delete data files in the
        warehouse directory that NO live snapshot references — the
        debris of failed/aborted writes (reference main.tf:803 wires the
        extension whose ``system.remove_orphan_files`` does this on
        EMR). Distinct from expire_snapshots: that drops old SNAPSHOTS
        (and their now-unreferenced files); this sweeps files no
        manifest ever claimed, and the stats manifests no snapshot
        references. Returns the removed paths relative to the data dir.

        ``older_than_ms`` is Iceberg's safety valve — only files whose
        mtime predates it are swept, so an in-flight writer's not-yet-
        committed files survive. Default sweeps regardless (tests);
        production callers should pass now-minus-grace.

        Deletion debris goes too, under the same age rule: a checksum
        sidecar whose data file is gone (reported by its own path) and
        a write batch that holds only its ``_SUCCESS`` markers (reported
        by its directory).
        """
        ms = [m for _, m in manifests(self.root)]
        # absolute, as the walk below lists them: a table written under
        # a relative warehouse may list relative paths
        live = {os.path.abspath(f) for m in ms for f in m["files"]}

        def aged(path: str) -> bool:
            return (
                older_than_ms is None
                or os.path.getmtime(path) * 1000 < older_than_ms
            )

        removed: list[str] = []
        # stats manifests no snapshot references (a crashed commit's)
        refs = {r["path"] for m in ms for r in m.get("manifests", ())}
        stats_dir = os.path.join(self.root, STATS_DIR)
        names = sorted(os.listdir(stats_dir)) if os.path.isdir(stats_dir) else []
        for fn in names:
            path = os.path.join(stats_dir, fn)
            if os.path.join(STATS_DIR, fn) not in refs and aged(path):
                os.remove(path)
                removed.append(os.path.relpath(path, self.data_dir))
        if not os.path.isdir(self.data_dir):
            return removed
        # data files sit in per-batch subdirs (_write_files); walk the
        # tree. *.parquet is swept with its checksum sidecar; a sidecar
        # whose data file is gone stands for that file. _SUCCESS markers
        # of LIVE batches are not orphans, and manifests never list them.
        orphans = []
        for dirpath, _dirs, files in sorted(os.walk(self.data_dir)):
            for fn in sorted(files):
                path = os.path.join(dirpath, fn)
                sidecar = fn.startswith(".") and fn.endswith(".parquet.crc")
                if sidecar and fn[1:-4] in files:
                    continue  # swept with its data file
                data = os.path.join(dirpath, fn[1:-4] if sidecar else fn)
                if data.endswith(".parquet") and data not in live and aged(path):
                    orphans.append(data)
                    removed.append(os.path.relpath(path, self.data_dir))
        self._remove_data_files(orphans)
        for b in sorted(os.listdir(self.data_dir)):
            path = os.path.join(self.data_dir, b)
            if _spent_batch(path) and aged(os.path.join(path, "_SUCCESS")):
                shutil.rmtree(path, ignore_errors=True)
                removed.append(b)
        return removed

    # ---------- M6: schema evolution ----------

    def add_column(
        self, name: str, spark_type: str, default=None
    ) -> int:
        """ALTER TABLE ADD COLUMN (M6): manifest-only change; existing
        files are untouched and read the new column as NULL (the manifest
        records them as predating it) — exactly Iceberg's no-rewrite
        evolution.

        ``default`` adds Iceberg-v3 INITIAL-DEFAULT semantics: rows in
        files written BEFORE the evolution read the default; files
        written after read their stored values (including real NULLs).
        The manifest records which files predate the column, so no data
        file is rewritten and compaction naturally graduates rows out of
        the default (rewritten files physically contain the column).
        """
        from pyspark.sql.types import DataType, StructField

        parent, m = self._existing_base()
        schema = m["schema"]
        if any(f["name"] == name for f in schema["fields"]):
            # a duplicate field would commit a corrupt schema every
            # later snapshot inherits; Iceberg rejects it at DDL time
            raise ValueError(
                f"{self.name}: column {name!r} already exists"
            )
        # stored as the type's JSON form, which StructType.fromJson
        # parses on every later read; DDL names ('int', 'bigint') are not
        schema["fields"].append(
            StructField(name, DataType.fromDDL(spark_type)).jsonValue()
        )
        # ALWAYS record the current files as not-containing the new
        # column, so re-adding a previously DROPPED column reads NULL
        # (Iceberg's field-id semantics) instead of the old physical
        # values the name-based scan would find. value=None is a NULL
        # initial default (_scan_files projects F.lit(value) cast to the
        # column type for those files).
        defaults = {
            **m.get("defaults", {}),
            name: {"value": default, "absent_files": m["files"]},
        }
        return self._commit(
            {
                "files": m["files"],
                **_carried({**m, "defaults": defaults}),
                "op": f"add_column:{name}",
            },
            parent,
        )

    def _guard_partition_source(self, op: str, col: str, m: dict) -> None:
        """Evolving a column a partition transform of ``m`` reads would
        break every subsequent write's layout — refuse loudly (Iceberg
        makes you evolve the partition spec first)."""
        for spec in m.get("partition_spec", []):
            if re.search(rf"\b{re.escape(col)}\b", spec):
                raise ValueError(
                    f"{op}: column {col!r} is a partition source "
                    f"({spec!r}); evolve the partition spec first"
                )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN (M6): manifest-only — the field
        leaves the schema; data files are untouched (explicit-schema
        scans simply stop selecting the physical column, Iceberg's
        drop-by-field-id behavior). Any rename/default bookkeeping for
        the column is dropped with it."""
        parent, m = self._existing_base()
        self._guard_partition_source("drop_column", name, m)
        schema = m["schema"]
        if name not in {f["name"] for f in schema["fields"]}:
            raise ValueError(f"drop_column: no column {name!r}")
        schema["fields"] = [f for f in schema["fields"] if f["name"] != name]
        kept = {
            key: {k: v for k, v in m.get(key, {}).items() if k != name}
            for key in ("defaults", "renames")
        }
        return self._commit(
            {
                "files": m["files"],
                **_carried({**m, **kept}),
                "op": f"drop_column:{name}",
            },
            parent,
        )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN (M6): manifest-only — Iceberg
        renames by field id, leaving every data file untouched. This
        layer's files store columns BY NAME, so the manifest carries a
        name-mapping instead: ``renames[logical] = [{physical, files}]``
        records which files physically hold the column under an older
        name; scans resolve per file (:meth:`_scan_files`). Files
        written (or rewritten — compaction, CoW DML) after the rename
        carry the new name and graduate out of the mapping naturally."""
        parent, m = self._existing_base()
        self._guard_partition_source("rename_column", old, m)
        schema = m["schema"]
        names = {f["name"] for f in schema["fields"]}
        if old not in names:
            raise ValueError(f"rename_column: no column {old!r}")
        if new in names:
            raise ValueError(f"rename_column: column {new!r} already exists")
        for f in schema["fields"]:
            if f["name"] == old:
                f["name"] = new
        renames = dict(m.get("renames", {}))
        cur_files = m["files"]
        # chain-safe: files already mapped to an even-older physical
        # name keep that mapping; only the rest physically hold `old`
        prior = renames.pop(old, [])
        mapped = {f for e in prior for f in e["files"]}
        entry = {
            "physical": old,
            "files": [f for f in cur_files if f not in mapped],
        }
        renames[new] = prior + [entry]
        defaults = {
            (new if k == old else k): v for k, v in m.get("defaults", {}).items()
        }
        return self._commit(
            {
                "files": cur_files,
                **_carried({**m, "renames": renames, "defaults": defaults}),
                "op": f"rename_column:{old}->{new}",
            },
            parent,
        )

    # ---------- S8+: incremental scan / CDC changelog ----------

    def read_incremental(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental append scan: rows committed AFTER from_version up
        to and including to_version — Iceberg's
        ``option("start-snapshot-id", …).option("end-snapshot-id", …)``
        read. Like Iceberg, refuses ranges containing non-append
        snapshots (overwrite/delete/update have no append-delta
        meaning); use changelog() for those.

        Scale: reads only the files the range added — incremental
        consumers never rescan the table, and pure appends need no
        shuffle at all.
        """
        # default to the newest MAIN snapshot: a raw-log default would
        # resolve to a staged branch snapshot right after a WAP write
        to_v = to_version if to_version is not None else self.main_head()
        try:
            base, later = _main_range(self.root, from_version, to_v, "incremental")
            added = _appended(base, later)
        except ValueError as e:
            raise ValueError(f"{e}; use changelog() instead") from None
        return self._scan_files(
            added, later.get(to_v) or self._read_manifest(to_v, stats=False)
        )

    def changelog(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Row-level CDC between snapshots — Iceberg's
        ``create_changelog_view`` procedure. Emits the table columns
        plus ``_change_type`` ('INSERT' | 'DELETE'; an UPDATE appears
        as its DELETE+INSERT pair, Iceberg's pre/post images) and
        ``_change_version``.

        Per consecutive MAIN snapshot pair only the file DELTA is read:
        inserts = rows in added files minus rows in removed files,
        deletes = the reverse (exceptAll both ways). Copy-on-write
        rewrites carry surviving rows into both sides, so they cancel —
        the diff is exactly the net row change. Pure appends/deletes
        skip the shuffle entirely (one side is empty).

        Snapshots STAGED by a branch write (``staged_ref``) are skipped
        and each main snapshot diffs against the previous MAIN state —
        the same WAP guard main_head()/read_as_of_timestamp apply, so a
        staged audit write never shows in main's CDC. The default
        ``to_version`` is main_head() for the same reason. The range is
        read as :func:`appended_files_between` reads it: each manifest
        once, and an expired one raises the contracted ValueError.
        """
        to_v = to_version if to_version is not None else self.main_head()
        # the range is read once; every pair's diff and alignment below
        # works on these manifests
        prev_m, later = _main_range(self.root, from_version, to_v, "changelog")

        # Schema evolution inside the range: every pair's frames are
        # aligned to the FINAL (to_v) schema — Iceberg's changelog
        # likewise emits rows in the current table schema. Renames
        # committed after a pair re-key its columns (composed from the
        # op strings), dropped columns vanish, added columns read NULL
        # for pre-evolution pairs. Without this, unionByName across a
        # drop/rename boundary simply errors.
        from pyspark.sql.types import StructType

        final_m = later.get(to_v) or self._read_manifest(to_v, stats=False)
        final_schema = StructType.fromJson(final_m["schema"])

        def _align(df: DataFrame, pair_v: int) -> DataFrame:
            mapping: dict[str, str] = {}  # name-at-pair_v -> later name
            for w, m in later.items():
                if w <= pair_v or not m["op"].startswith("rename_column:"):
                    continue
                old, new = m["op"].split(":", 1)[1].split("->", 1)
                for k, tgt in list(mapping.items()):
                    if tgt == old:
                        mapping[k] = new
                        break
                else:
                    mapping[old] = new
            inverse = {n: o for o, n in mapping.items()}
            cols = set(df.columns)
            sel = []
            for fld in final_schema.fields:
                src = inverse.get(fld.name, fld.name)
                if src in cols:
                    sel.append(F.col(src).alias(fld.name))
                else:  # column added after this pair
                    sel.append(F.lit(None).cast(fld.dataType).alias(fld.name))
            return df.select(*sel)

        parts: list[DataFrame] = []
        # running previous-MAIN state: staged snapshots are skipped, so
        # each main snapshot diffs against the last main one, not the
        # raw log parent; a staged from_version starts from main's
        # state below it, or the next main commit would emit phantom
        # DELETEs for branch-only files
        # (every renamed-at version in `later` is above from_version, so
        # it stands in for the base as the first pair's rename base)
        prev_v = from_version if prev_m else 0
        prev_files = set(prev_m["files"]) if prev_m else set()
        for v, m in later.items():
            if m.get("staged_ref"):
                continue  # branch-staged: not part of main's history
            cur_files = set(m["files"])
            added = sorted(cur_files - prev_files)
            removed = sorted(prev_files - cur_files)
            # pre-images come from the previous MAIN manifest so
            # removed-file rows carry THAT snapshot's defaults; CoW
            # survivors then cancel in the exceptAll
            pair_prev_v = prev_v
            pair_prev_m = prev_m if prev_m is not None else m
            prev_v, prev_m, prev_files = v, m, cur_files
            if not added and not removed:
                continue  # metadata-only commit (e.g. add_column)
            # align BOTH sides to the final schema BEFORE the exceptAll:
            # a single commit that changes files AND schema (merge_into
            # with schema_evolution, overwrite with a new shape) would
            # otherwise feed exceptAll two different-arity frames. The
            # rem side's rename base is the previous MAIN version, so a
            # rename committed AT v still re-keys the pre-image columns.
            add_df = _align(self._scan_files(added, m), v)
            rem_df = _align(
                self._scan_files(removed, pair_prev_m),
                pair_prev_v if pair_prev_v else v,
            )
            inserts = add_df if not removed else add_df.exceptAll(rem_df)
            deletes = rem_df if not added else rem_df.exceptAll(add_df)
            for df, kind in ((inserts, "INSERT"), (deletes, "DELETE")):
                parts.append(
                    df.withColumn("_change_type", F.lit(kind))
                    .withColumn("_change_version", F.lit(v))
                )
        if not parts:
            empty = self.spark.createDataFrame([], final_schema)
            return empty.withColumn("_change_type", F.lit("")).withColumn(
                "_change_version", F.lit(0)
            ).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read_pruned(self, col: str, lo, hi):
        """Hidden-partition predicate rewrite (SURVEY §2.2 P3): a range
        predicate ``lo <= col < hi`` on the SOURCE column is planned
        against the per-file min/max, so only the files that may hold a
        matching row reach the scan — Iceberg's manifest filtering; the
        user never names the partition column. A ``days(ts)`` file's
        stats lie inside its day, so a one-day probe keeps only that
        day's files.

        Returns ``(df, kept_files, all_files)`` so callers can state
        partition-level contracts, not just result correctness. A file
        without stats for ``col`` (an INT96-written timestamp, a column
        the file predates) is kept — a safe over-read; the residual
        filter applies to every kept file, so correctness never depends
        on pruning."""
        m, cond, files = self._planned_scan(col, lo, hi, half_open=True)
        return self._scan_files(files, m).filter(cond), files, list(m["files"])

    def overwrite_partitions(self, df: DataFrame) -> int:
        """Dynamic partition-level INSERT OVERWRITE (S6) — Iceberg's
        ``overwritePartitions()`` / Spark's
        ``spark.sql.sources.partitionOverwriteMode=dynamic``: only the
        partitions that receive new rows are replaced; every other
        partition's files survive into the new snapshot untouched.
        (Contrast :meth:`LakehouseTable.overwrite`, the static S6 form
        that replaces the whole table.)

        The partition set being overwritten is computed from ``df``
        under the CURRENT spec — one distinct partition tuple per
        partition comes to the driver (bounded by partition count, never
        row count; the data itself stays distributed). Files from
        earlier spec eras whose paths don't carry the current spec's
        derived columns are conservatively KEPT — after partition
        evolution, run a full overwrite or compaction to rewrite old
        eras (same caveat Iceberg documents for dynamic overwrite
        across spec changes). On a missing table it is an unpartitioned
        create; ``create(df, partition_by=...)`` makes a partitioned one.
        """
        parent, m = self._base()
        if not m:
            return self.create(df)
        spec = m.get("partition_spec", [])
        cols = [partition_transform(s) for s in spec]
        names = [n for n, _ in cols]
        touched = {
            tuple(
                "__HIVE_DEFAULT_PARTITION__" if r[n] is None else str(r[n])
                for n in names
            )
            for r in df.withColumns(dict(cols)).select(*names).distinct().collect()
        }

        def file_partition(f: str):
            vals = dict(partition_segments(f))
            # missing derived column (older spec era) => tuple with None,
            # which can never equal a touched tuple of strings => kept
            return tuple(vals.get(n) for n in names)

        keep = [f for f in m["files"] if file_partition(f) not in touched]
        new_files = self._write_files(df, spec)
        return self._commit(
            {
                "files": keep + new_files,
                **_carried(m),
                "op": "overwrite_partitions",
                "replaced_partitions": sorted("/".join(t) for t in touched),
            },
            parent,
        )

    def evolve_partitioning(self, new_specs: list[str]) -> int:
        """Partition evolution (M7): future writes use the new spec; old
        files keep their layout — exactly Iceberg's spec-versioning.
        Manifest-only commit, no rewrite."""
        parent, m = self._existing_base()
        return self._commit(
            {
                "files": m["files"],
                **_carried(m),
                "op": f"evolve_partitioning:{','.join(new_specs)}",
                "partition_spec": list(new_specs),
            },
            parent,
        )

    # ---------- M8: branches / tags / write-audit-publish ----------
    # A branch is a named pointer to a snapshot version advancing
    # independently of main; a tag is an immutable pointer. WAP =
    # write to a staging branch, audit it, then fast-forward main —
    # the same flow Iceberg's spark.wap.id enables. Refs live in
    # ``_refs.json`` beside the snapshot log; main is the log itself.

    def _refs(self) -> dict:
        try:
            with open(self.refs_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"branches": {}, "tags": {}}

    def _save_refs(self, refs: dict) -> None:
        tmp = self.refs_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(refs, f, indent=1)
        os.replace(tmp, self.refs_path)

    def create_branch(
        self,
        name: str,
        at_version: int | None = None,
        if_not_exists: bool = False,
    ) -> int:
        """CREATE rejects an existing branch (Iceberg's CREATE-vs-
        REPLACE distinction — silently re-pointing an audited branch
        is the WAP footgun); IF NOT EXISTS makes it a no-op returning
        the existing pointer; re-pointing is replace_branch. Defaults
        to main_head(), never a staged branch snapshot."""
        return self._create_ref(
            "branches",
            name,
            at_version,
            if_not_exists,
            f"branch {name} exists (use REPLACE BRANCH to re-point)",
        )

    def create_tag(
        self,
        name: str,
        at_version: int | None = None,
        if_not_exists: bool = False,
    ) -> int:
        return self._create_ref(
            "tags",
            name,
            at_version,
            if_not_exists,
            f"tag {name} exists (tags are immutable)",
        )

    def _create_ref(
        self,
        kind: str,
        name: str,
        at_version: int | None,
        if_not_exists: bool,
        exists: str,
    ) -> int:
        refs = self._refs()
        if name in refs[kind]:
            if if_not_exists:
                return refs[kind][name]
            raise ValueError(exists)
        v = at_version if at_version is not None else self.main_head()
        refs[kind][name] = v
        self._save_refs(refs)
        return v

    def drop_branch(self, name: str) -> int:
        return self._drop_ref("branches", "branch", name)

    def drop_tag(self, name: str) -> int:
        return self._drop_ref("tags", "tag", name)

    def _drop_ref(self, kind: str, label: str, name: str) -> int:
        refs = self._refs()
        if name not in refs[kind]:
            raise KeyError(f"unknown {label} {name}")
        v = refs[kind].pop(name)
        self._save_refs(refs)
        return v

    def replace_branch(self, name: str, at_version: int) -> int:
        """Re-point an existing branch (ALTER TABLE … REPLACE BRANCH);
        unlike create_branch this REQUIRES the branch to exist, the
        Iceberg distinction between the two statements."""
        refs = self._refs()
        if name not in refs["branches"]:
            raise KeyError(f"unknown branch {name}")
        refs["branches"][name] = at_version
        self._save_refs(refs)
        return at_version

    def _rollforward_identity(self, v: int) -> set[int]:
        """``v`` plus every version it is a rollforward of,
        transitively: a rollback_to / publish commit carries its
        source's CONTENT under a new version number, so ancestry
        proofs must treat the whole chain as one point in history (a
        long-lived staging branch can then publish more than once)."""
        ids = {v}
        while True:
            try:
                v = int(
                    self._read_manifest(v, stats=False).get("rollforward_of") or 0
                )
            except FileNotFoundError:
                return ids  # expired: the chain is unprovable past here
            if not v or v in ids:
                return ids
            ids.add(v)

    def _assert_fast_forward(
        self, frm: int, to: int, label: str, tm: dict | None = None
    ) -> None:
        """True-fast-forward guard: ``frm`` (the ref being moved) must
        be an ANCESTOR of ``to`` in the CONTENT chain. Iceberg's
        system.fast_forward refuses when the target is not a
        descendant; a blind re-point would silently discard every
        commit the moved ref gained after the branch was based (e.g. a
        concurrent main append between the branch write and the
        publish) — a data-loss hazard, not a merge. Divergent
        publishes go through cherrypick_snapshot.

        The chain walks down from ``to`` by :func:`content_parent`; a
        plain main commit's step continues to main's state at its log
        parent (:func:`main_at`, what main_head() resolved to when it
        was written), so a stale branch catching up to a NEWER main
        head is recognized as the genuine fast-forward it is (Iceberg's
        standard branch catch-up). ``frm`` matches through its own
        rollforward identity, so a published (rolled-forward) main head
        equals the branch content it was published from. Each manifest
        is read at most twice, so the walk is linear in the history;
        ``tm``, when given, is ``to``'s raw manifest as the caller read it.
        """
        frm_ids = self._rollforward_identity(frm)
        cur, seen = to, set()
        while cur > 0 and cur not in frm_ids and cur not in seen:
            seen.add(cur)
            try:
                m = tm if cur == to and tm else self._read_manifest(cur, stats=False)
                nxt = content_parent(m)
                if not (m.get("staged_ref") or m.get("rollforward_of")):
                    nxt = main_at(self.root, nxt)
            except (FileNotFoundError, ValueError):
                break  # chain expired: cannot prove ancestry → refuse
            cur = nxt
        if cur in frm_ids:
            return  # frm is an ancestor: genuine fast-forward
        raise ValueError(
            f"fast_forward: {label} (v{frm}) is not an ancestor of the "
            f"target snapshot v{to} — the refs diverged; use "
            "cherrypick_snapshot to publish divergent work"
        )

    def fast_forward(self, branch: str, to: str) -> int:
        """CALL system.fast_forward(table, branch, to): move ``branch``
        to ``to``'s head. 'main' is the table itself (not a refs
        entry), so fast-forwarding main is a rollforward commit — the
        P of WAP. Refuses (like Iceberg) unless the moved ref's head is
        an ancestor of the target — see _assert_fast_forward."""
        refs = self._refs()
        v = refs["branches"].get(to, refs["tags"].get(to))
        if v is None:
            raise KeyError(f"unknown ref {to}")
        if branch == "main":
            # one read of the target serves the ancestry proof and the
            # rollforward; main's head is walked to from below it
            vm = self._existing_snapshot(v)
            parent, m = self._base_with(v, vm)
            self._assert_fast_forward(m.get("version", 0), v, "main", vm)
            return self._rollforward(parent, v, vm)
        if branch not in refs["branches"]:
            raise KeyError(f"unknown branch {branch}")
        self._assert_fast_forward(refs["branches"][branch], v, branch)
        refs["branches"][branch] = v
        self._save_refs(refs)
        return v

    def read_ref(self, name: str) -> DataFrame:
        refs = self._refs()
        v = refs["branches"].get(name, refs["tags"].get(name))
        if v is None:
            raise KeyError(f"unknown ref {name}")
        return self.read(version=v)

    def write_to_branch(
        self, name: str, df: DataFrame, positional: bool = False
    ) -> int:
        """Append lands as a new snapshot BASED ON THE BRANCH'S OWN
        HEAD (not `_current` — basing on the shared log head would
        silently fold another branch's staged files into this one), tagged
        ``staged_ref`` so main_head() skips it; only the branch
        pointer moves — the W of WAP. The shared snapshot log's
        `_current` does advance (exactly as Iceberg's snapshot list
        grows on a branch commit); main reads (``read()``, the SQL
        door, main_head()) skip the staged snapshot. ``positional``
        binds columns by
        position (the SQL-door INSERT contract — a VALUES frame
        arrives named col1/col2)."""
        refs = self._refs()
        if name not in refs["branches"]:
            raise KeyError(f"unknown branch {name}")
        base = refs["branches"][name]
        bm = self._read_manifest(base, stats=False)
        # files land in main's layout
        parent, m = self._base_with(base, bm)
        schema = bm["schema"]
        if positional:
            df = self._bind_positional(df, schema)
        cols = [f["name"] for f in schema["fields"]]
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"append to branch {name}: frame lacks column(s) {missing}"
            )
        files = bm["files"] + self._write_files(
            df.select(cols), m.get("partition_spec", [])
        )
        v = self._commit(
            {
                "files": files,
                # the branch's schema and mappings, main's layout
                **_carried(bm, layout=m),
                "op": f"branch_append:{name}",
                "staged_ref": name,
                # content parent (the branch head this append was based
                # on) — NOT the log parent: fast_forward walks this
                # chain to prove ancestry before publishing
                "ref_base": base,
            },
            parent,
        )
        refs = self._refs()
        refs["branches"][name] = v
        self._save_refs(refs)
        return v

    def files(self) -> DataFrame:
        """The `t.files` metadata relation: path + per-column min/max."""
        m = _with_stats(self.root, self._existing_base()[1])
        rows = [
            (f, json.dumps(m.get("stats", {}).get(f, {})))
            for f in m["files"]
        ]
        return self.spark.createDataFrame(rows, "file_path string, stats_json string")

    def pruned_files(self, col: str, lo, hi) -> list[str]:
        """Files whose [min,max] for col intersects [lo,hi] — the
        planner's scan set for the range predicate. Files without stats
        are kept (safe)."""
        return self._planned_scan(col, lo, hi)[2]

    def rewrite_sorted(self, col: str, target_files: int = 8) -> int:
        """rewrite_data_files(strategy => 'sort', sort_order => col):
        re-cluster the table so each file owns a disjoint range of
        ``col`` — Iceberg's sort-based compaction. repartitionByRange
        gives disjoint per-file ranges (range-partitioned shuffle, fully
        distributed), sortWithinPartitions tightens row-group stats;
        min/max pruning then hits ~1/target_files of the files for a
        point/range predicate instead of all of them.
        """
        return self._rewrite_table(
            lambda df: df.repartitionByRange(target_files, F.col(col))
            .sortWithinPartitions(col),
            f"rewrite_sorted:{col}",
        )

    def rewrite_zorder(
        self, col_a: str, col_b: str, target_files: int = 8, bits: int = 16
    ) -> int:
        """rewrite_data_files(strategy => 'sort', sort_order =>
        zorder(col_a, col_b)): multi-dimensional clustering — the same
        operation Iceberg's z-order rewrite and Delta's OPTIMIZE ZORDER
        perform. A 1-D sort (rewrite_sorted) gives perfect file pruning
        on ONE column and none on any other; interleaving the bits of
        both columns' rank positions (Morton code) orders rows along a
        space-filling curve, so every file owns a compact rectangle in
        (col_a, col_b) space and min/max pruning bites on EITHER column.

        Normalization first (equal-width min/max → [0, 2^bits)):
        z-values interleave fixed-width integers, so each dimension is
        scaled into the same bit budget. min/max is ONE tiny aggregate
        (4 numbers to the driver — fully distributed, unlike a
        percent_rank global window, which would funnel the table
        through a single partition); the interleave itself is a pure
        bit expression (JVM codegen, no extra shuffle beyond the final
        repartitionByRange). Heavily skewed value distributions get
        uneven curve coverage under equal-width scaling — pre-transform
        such a column (log, hash); ``bits`` is capped at 31 because the
        interleaved z-value occupies 2*bits bits of a signed 64-bit
        long, and a bit landing on the sign bit would sort those rows
        before everything and break the curve.

        At 100 TB this turns "2-D dashboard predicates scan the world"
        into ~1/target_files of files per predicate dimension.
        """
        if not 1 <= bits <= 31:
            raise ValueError(
                f"bits must be in [1, 31] (the z-value is 2*bits bits of "
                f"a signed 64-bit long), got {bits}"
            )
        max_v = (1 << bits) - 1

        def norm(c: str, lo: float, hi: float):
            span = (hi - lo) or 1.0
            scaled = (F.col(c).cast("double") - F.lit(lo)) / F.lit(span)
            return F.least(
                F.lit(max_v).cast("long"),
                F.floor(scaled * (max_v + 1)).cast("long"),
            )

        def zorder(df: DataFrame) -> DataFrame:
            bounds = df.agg(
                F.min(F.col(col_a).cast("double")).alias("a_lo"),
                F.max(F.col(col_a).cast("double")).alias("a_hi"),
                F.min(F.col(col_b).cast("double")).alias("b_lo"),
                F.max(F.col(col_b).cast("double")).alias("b_hi"),
            ).collect()[0]
            if bounds["a_lo"] is None or bounds["b_lo"] is None:
                raise ValueError(
                    f"rewrite_zorder({col_a!r}, {col_b!r}): no numeric values "
                    "to cluster on (empty table, or a column that is "
                    "non-numeric / all NULL after cast to double)"
                )
            na = norm(col_a, bounds["a_lo"], bounds["a_hi"])
            nb = norm(col_b, bounds["b_lo"], bounds["b_hi"])
            z = F.lit(0).cast("long")
            for i in range(bits):
                z = z.bitwiseOR(
                    F.shiftleft(F.shiftright(na, i).bitwiseAND(F.lit(1)), 2 * i)
                ).bitwiseOR(
                    F.shiftleft(F.shiftright(nb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
                )
            return (
                df.withColumn("__z", z)
                .repartitionByRange(target_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )

        return self._rewrite_table(zorder, f"rewrite_zorder:{col_a},{col_b}")

    def read_range(self, col: str, lo, hi) -> DataFrame:
        """Range scan: the planned files (min/max skipping) + the
        residual filter, both from one range condition (see
        :meth:`_range_bounds` for the bound conventions)."""
        m, cond, files = self._planned_scan(col, lo, hi)
        return self._scan_files(files, m).filter(cond)


def history(table: LakehouseTable) -> DataFrame:
    """The `t.history` metadata relation: commit lineage, a projection
    of :meth:`LakehouseTable.snapshots`."""
    return table.snapshots().select("version", "parent", "operation", "ts_ms")


def cherrypick_snapshot(table: LakehouseTable, version: int) -> int:
    """CALL system.cherrypick_snapshot (M5): re-apply the file DELTA an
    append-type snapshot introduced on top of the current state.

    Staged branch appends (op ``branch_append:<name>``) are accepted
    too — they are append-type deltas with a valid base file list — so
    publishing divergent work, the path _assert_fast_forward's refusal
    message points at, works. The delta base is the snapshot's
    :func:`content_parent`: the branch head a staged append was based
    on, the log parent otherwise.
    """
    m = table._read_manifest(version, stats=False)
    op = m["op"]
    if op not in ("append", "create") and not op.startswith("branch_append:"):
        raise ValueError(f"can only cherry-pick append snapshots, got {op!r}")
    parent_files = set(table._files(content_parent(m)))
    delta = [f for f in m["files"] if f not in parent_files]
    parent, head = table._base_with(version, m)
    cur_set = set(head["files"])
    return table._commit(
        {
            "files": head["files"] + [f for f in delta if f not in cur_set],
            **_carried(head),
            "op": f"cherrypick_v{version}",
        },
        parent,
    )
