"""Custom Python DataSource (Spark 4, SPARK-44076): the engine's
extension point for in-house formats and feeds.

The reference's source surface is whatever its engines mount
(/root/reference/main.tf:792-806 — Iceberg/S3 via config); a real
deployment always ends up with one feed no packaged connector covers
(an internal ticker, a bespoke binary log). Spark 4's Python DataSource
API is the idiomatic answer: implement ``DataSource`` +
``DataSourceReader`` in pure Python, register once per session, then
``spark.read.format("synthetic_events")`` like any built-in.

Scale shape: ``partitions()`` declares the split set on the driver;
``read(partition)`` runs ON THE EXECUTORS (the reader object is
pickled out), so generation/ingest parallelism equals the partition
count and no data ever transits the driver. Arrow is used for the
return batches when the reader yields tuples.

The synthetic feed here is integer-deterministic (id, id%17,
(id*37%1000)/100) so a DuckDB ``range()`` oracle can hash-verify the
whole path — proving partition planning, executor-side evaluation, and
schema application, not just "rows came back".
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


def _row(i: int):
    # Exact integer arithmetic then /100.0: every value is an exact
    # two-decimal double, so cross-engine comparison is ulp-safe.
    return (i, i % 17, (i * 37 % 1000) / 100.0)


def _range_batches(start: int, end: int):
    """The [start, end) id range as ONE Arrow RecordBatch (or nothing
    when empty) — the vectorized executor-side path (per-row Python
    tuples make Spark convert every row one at a time; a reader that
    yields pyarrow RecordBatches skips the row loop entirely).  Value-identical to :func:`_row`:
    int64 modulo and one IEEE float64 division produce the same bits
    as the Python ints/float path (exact two-decimal doubles)."""
    if end <= start:
        return
    import numpy as np
    import pyarrow as pa

    ids = np.arange(start, end, dtype=np.int64)
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(ids),
            pa.array((ids % 17).astype(np.int32)),
            pa.array((ids * 37 % 1000) / 100.0),
        ],
        names=["id", "bucket", "amount"],
    )


class SyntheticEventsDataSource(DataSource):
    """Batch source: options n (rows), parts (split count)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return "id bigint, bucket int, amount double"

    def reader(self, schema: StructType) -> "SyntheticEventsReader":
        return SyntheticEventsReader(self.options)

    def streamReader(self, schema: StructType) -> "SyntheticEventsStreamReader":
        return SyntheticEventsStreamReader(self.options)


def _split_range(lo: int, hi: int, parts: int) -> list["_RangePartition"]:
    """Contiguous id-range splits — the moral equivalent of file splits
    for a generated feed. Ceil-div so the tail partition is never lost;
    an empty range still yields ONE (empty) partition because Spark
    requires >= 1 per planned batch. ONE implementation shared by the
    batch reader and the stream reader's per-batch planner, so their
    splits cannot drift apart."""
    hi = max(lo, hi)
    span = hi - lo
    if span <= 0:
        return [_RangePartition(lo, lo)]
    per = max(1, -(-span // parts))
    return [_RangePartition(a, min(a + per, hi)) for a in range(lo, hi, per)]


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("parts", 8))
        # range bounds; the pushdown subclass narrows them in
        # pushFilters BEFORE partition planning
        self.lo = 0
        self.hi = self.n

    def partitions(self):
        return _split_range(self.lo, self.hi, self.parts)

    def read(self, partition: _RangePartition):
        # Executor-side: one Arrow batch for exactly this split (see
        # _range_batches: the same values a per-row reader yields).
        yield from _range_batches(partition.start, partition.end)


class SyntheticEventsPushdownReader(SyntheticEventsReader):
    """Spark 4.1 filter pushdown (S13b). A SEPARATE source class:
    merely IMPLEMENTING pushFilters makes Spark refuse the read unless
    ``spark.sql.python.filterPushdown.enabled`` is true (measured —
    DATA_SOURCE_PUSHDOWN_DISABLED), so the base ``synthetic_events``
    source stays conf-free for s13/t14 and this variant is opt-in."""

    def pushFilters(self, filters):
        """Consume range/equality filters on ``id``, narrowing the
        generation bounds so pushed predicates shrink the SPLIT SET
        itself (the Python-source analog of parquet row-group pruning);
        everything else is yielded back for Spark to evaluate
        post-scan. Consumed filters MUST be enforced here — Spark drops
        its own Filter for them, so the s13b oracle hash-fails if the
        narrowing lies."""
        for f in filters:
            if (
                isinstance(
                    f,
                    (
                        GreaterThan,
                        GreaterThanOrEqual,
                        LessThan,
                        LessThanOrEqual,
                        EqualTo,
                    ),
                )
                and f.attribute == ("id",)
                and isinstance(f.value, int)
            ):
                v = f.value
                if isinstance(f, GreaterThan):
                    self.lo = max(self.lo, v + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, v)
                elif isinstance(f, LessThan):
                    self.hi = min(self.hi, v)
                elif isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, v + 1)
                else:  # EqualTo
                    self.lo = max(self.lo, v)
                    self.hi = min(self.hi, v + 1)
            else:
                yield f


class SyntheticEventsPushdownDataSource(DataSource):
    """Batch-only twin of :class:`SyntheticEventsDataSource` whose
    reader participates in Spark 4.1 Python-source filter pushdown."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events_pd"

    def schema(self) -> str:
        return "id bigint, bucket int, amount double"

    def reader(self, schema: StructType) -> SyntheticEventsPushdownReader:
        return SyntheticEventsPushdownReader(self.options)


class SyntheticEventsStreamReader(DataSourceStreamReader):
    """Micro-batch stream over the same deterministic feed.

    Offsets are plain row counts. ``latestOffset`` exposes the full
    backlog, so ``availableNow`` admits and drains it — measured:
    Spark captures latestOffset ONCE per availableNow run, so an
    incrementally-advancing latestOffset would silently truncate the
    run (the Python API has no ``SupportsAdmissionControl`` latestOffset
    (start, limit) overload; rate-limiting under availableNow is the
    file source's ``maxFilesPerTrigger`` territory — see t13).
    partitions(start, end) splits each admitted range the same way the
    batch reader splits the whole one, so executor parallelism holds
    per-batch.
    """

    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("parts", 4))

    def initialOffset(self):
        return {"offset": 0}

    def latestOffset(self):
        return {"offset": self.n}

    def partitions(self, start, end):
        return _split_range(start["offset"], end["offset"], self.parts)

    def read(self, partition: _RangePartition):
        # same vectorized Arrow path as the batch reader
        yield from _range_batches(partition.start, partition.end)

    def commit(self, end):
        pass


def register_python_datasource(spark) -> None:
    """Idempotent per-session registration."""
    spark.dataSource.register(SyntheticEventsDataSource)
    spark.dataSource.register(SyntheticEventsPushdownDataSource)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class LakehouseStreamDataSource(DataSource):
    """Streaming source over a LakehouseTable: the engine's equivalent
    of `spark.readStream.format("iceberg")` (Iceberg streaming source,
    SURVEY §2.9 T1/T9) against the snapshot layer in
    sources/lakehouse.py.

    Offsets are snapshot VERSIONS; each micro-batch is the manifest
    diff — exactly the data files the commits in (start, end] added.
    Append-only commits stream; any other op raises (Iceberg's
    streaming source has the same contract: overwrites/deletes are not
    streamable as appends).

    Everything the executor needs is plain JSON + parquet on shared
    storage — no SparkSession, no driver round-trip: manifests are read
    with json, data files with pyarrow, so `read()` scales with the
    executor count like any file source.

    Option: ``table_root`` — the LakehouseTable root directory.
    """

    @classmethod
    def name(cls) -> str:
        return "lakehouse_stream"

    def _root(self) -> str:
        root = self.options.get("table_root")
        if not root:
            raise ValueError("lakehouse_stream requires option table_root")
        return root

    def schema(self) -> StructType:
        # main's schema, never the raw log head's: right after a branch
        # write the log head is a STAGED snapshot carrying the branch
        # base's schema, which lacks columns main added since
        from .lakehouse import main_head_json, read_manifest

        root = self._root()
        v = main_head_json(root)
        if v == 0:
            raise ValueError(f"lakehouse_stream: no main snapshot in {root}")
        return StructType.fromJson(read_manifest(root, v, stats=False)["schema"])

    def streamReader(self, schema: StructType) -> "LakehouseStreamReader":
        return LakehouseStreamReader(self._root(), schema)


class LakehouseStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, schema: StructType):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.root = root
        self.arrow_schema = to_arrow_schema(schema)

    def initialOffset(self):
        return {"version": 0}

    def latestOffset(self):
        # main head, not the raw log head: a staged branch snapshot
        # adds nothing to main (appended_files_between would skip it
        # anyway, but offsets that never name staged versions keep
        # checkpoints unambiguous)
        from .lakehouse import main_head_json

        return {"version": main_head_json(self.root)}

    def partitions(self, start, end):
        # Driver-side planning: share the batch path's manifest-diff
        # (one implementation of the append-only contract, not two).
        from .lakehouse import appended_files_between

        try:
            added = appended_files_between(
                self.root, start["version"], end["version"]
            )
        except ValueError as e:
            raise ValueError(
                f"lakehouse_stream: {e}; only append-only history is "
                "streamable"
            ) from None
        # Spark requires >= 1 partition per planned batch
        return [_FilePartition(p) for p in added] or [_FilePartition("")]

    def read(self, partition: _FilePartition):
        if not partition.path:
            return
        import pyarrow.parquet as pq

        # Arrow batches in the reader's schema, as _range_batches yields
        # them: the file's physical types vary (an INT96 timestamp reads
        # back ns and naive, an int64 one us and UTC-adjusted)
        tbl = pq.read_table(partition.path, columns=self.arrow_schema.names)
        yield from tbl.cast(self.arrow_schema).to_batches()

    def commit(self, end):
        pass


def register_lakehouse_stream(spark) -> None:
    spark.dataSource.register(LakehouseStreamDataSource)
