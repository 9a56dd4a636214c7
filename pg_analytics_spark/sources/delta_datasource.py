"""Native Delta tables as a first-class Spark DataSource — batch AND
structured streaming — via Spark 4's Python DataSource API.

``spark.read.format("delta_native").option("path", p).load()`` and
``spark.readStream.format("delta_native")…`` work against the tables
this repo's zero-dependency protocol writer mints, with NO JVM
extension and no delta-spark jar: the log replay happens in Python on
the driver, and executors receive self-contained partitions (file
path + the deletion vector's roaring blob + typed partition values +
the target Arrow schema).  The worker-side ``read`` needs pyarrow
plus — only when a DV is present — the package's roaring decoder,
reached through the same ``_ensure_importable`` repo-root fallback
every planning method uses (the round-8 executor-closure lesson; on
a real cluster the package ships via ``--py-files`` like any Python
dependency).

Streaming semantics mirror delta-spark's streaming source (public
docs, "Delta table as a source"):

- the FIRST batch is the table's current snapshot at stream start
  (active files, deletion vectors applied);
- each later batch is the ADD actions of the commits since the last
  consumed version — O(new data) per trigger, never a rescan;
- a commit that REMOVES files is refused loudly unless
  ``ignoreDeletes`` (data-retention deletes are skipped) or
  ``ignoreChanges`` (rewritten files re-emit their rows — downstream
  must tolerate duplicates), exactly the delta-spark option contract;
- offsets are ``{"version": N, "index": i}`` positions (index −1 =
  commit fully consumed; a non-negative index is a sub-commit file
  position minted by ``maxFilesPerTrigger``), so checkpoint recovery
  resumes at the exact next unconsumed file.

Table state: every reader and the sink read one ``delta.snapshot`` —
the same context-free replay and type decoder ``load_source(path,
"delta")`` uses, so both surfaces return one schema for one table
(a Delta ``timestamp`` is ``TimestampType``, ``timestamp_ntz``
``TimestampNTZType``).  A batch read and a stream run are bound to
the snapshot they planned from; the sink commits at that snapshot's
version + 1, put-if-absent, and takes its SetTransaction watermark
and protocol from it.

Scale: ``latestOffset``/``partitions`` are metadata-sized driver work
(one log listing / replay); data reading is one task per file.  The
batch reader pushes partition-column EqualTo/In filters into the file
listing (hive-style pruning against each add action's
``partitionValues``), and Spark re-applies every filter afterwards so
pushdown is purely an I/O saving.

Reference scope: the reference FDW exposes foreign SCANS of Delta
tables through DuckDB's delta extension (src/fdw/handler.rs — format
routing); this module is the Spark-native equivalent surface plus the
streaming tail the reference does not have.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from pg_analytics_spark.errors import UnsupportedFormat

#: Spark runs DataSource planning (schema/partitions/offsets) in a
#: SEPARATE python worker process that knows this module's file but
#: NOT the driver's sys.path mutations — a vanilla session (driver-sim)
#: therefore cannot lazily import the package there.  Same structural
#: fix as arrow_part._REPO_ROOT: the repo root travels with the
#: module and re-enters sys.path on demand.
_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _ensure_importable() -> None:
    try:
        import pg_analytics_spark  # noqa: F401
    except ModuleNotFoundError:
        import sys

        if _REPO_ROOT not in sys.path:
            sys.path.append(_REPO_ROOT)


class _DeltaFilePartition(InputPartition):
    """Everything one task needs, pickled BY VALUE.  The deletion
    vector travels as the table's own roaring blob (``dv_blob`` —
    KB-scale for millions of deleted rows), never as a decoded
    ``list[int]`` (megabytes of pickled ints per task)."""

    def __init__(
        self,
        file_path: str,
        dv_blob: bytes | None,
        part_values: dict[str, str | None],
        phys_of: dict[str, str],
        arrow_schema,
        dv_card: int | None = None,
    ) -> None:
        self.file_path = file_path
        self.dv_blob = dv_blob
        self.part_values = part_values
        self.phys_of = phys_of
        self.arrow_schema = arrow_schema
        #: descriptor cardinality — verified against the decoded blob
        #: (inline DVs carry no CRC; a truncated payload must raise,
        #: not silently resurrect deleted rows)
        self.dv_card = dv_card


def _read_file_partition(part: _DeltaFilePartition):
    """Worker-side read: pyarrow + the roaring decoder.  Yields
    RecordBatches conformed to the declared schema — physical→logical
    rename (column mapping), missing columns null-filled (ADD COLUMN
    evolution), partition constants materialized from the add action's
    partitionValues, deletion-vector rows decoded from the shipped
    roaring blob and dropped by physical index."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(part.file_path)
    n = t.num_rows
    if part.dv_blob:
        _ensure_importable()
        from pg_analytics_spark.sources.delta_dv import (
            decode_roaring_array,
        )

        rows = decode_roaring_array(part.dv_blob)
        if part.dv_card is not None and part.dv_card != len(rows):
            raise ValueError(
                f"deletion vector cardinality {part.dv_card} != "
                f"decoded {len(rows)} for {part.file_path}"
            )
        keep = [True] * n
        for r in rows:
            keep[r] = False
        t = t.filter(pa.array(keep))
        n = t.num_rows
    cols = []
    names = set(t.column_names)
    for field in part.arrow_schema:
        if field.name in part.part_values:
            v = part.part_values[field.name]
            if v is None:
                arr = pa.nulls(n, field.type)
            else:
                arr = pa.array([v] * n, type=pa.string()).cast(field.type)
        else:
            phys = part.phys_of.get(field.name, field.name)
            if phys in names:
                arr = t[phys]
                if arr.type != field.type:
                    arr = arr.cast(field.type)
            else:
                arr = pa.nulls(n, field.type)
        cols.append(arr)
    out = pa.table(cols, schema=part.arrow_schema)
    yield from out.to_batches()


def _snapshot(path: str, version: int | None = None):
    """``delta.snapshot`` from the DataSource plan worker (no
    SparkContext there; the package may need the repo-root path)."""
    _ensure_importable()
    from pg_analytics_spark.sources.delta import snapshot

    return snapshot(path, version)


def _partitions_for_adds(
    snap, adds: dict[str, dict], part_filters: list | None = None
) -> list[_DeltaFilePartition]:
    """One task per add of ``snap``'s table, conformed to its schema."""
    _ensure_importable()
    from pg_analytics_spark.sources.delta import _abs_file
    from pg_analytics_spark.sources.delta_dv import dv_blob

    path, part_cols, phys_of = snap.path, snap.part_cols, snap.phys_of
    arrow_schema = _arrow_schema_for(snap.schema)
    out = []
    for add in adds.values():
        pv_raw = add.get("partitionValues") or {}
        pv = {c: pv_raw.get(phys_of.get(c, c)) for c in part_cols}
        if part_filters and not all(
            f(pv) for f in part_filters
        ):
            continue
        abs_path = _abs_file(path, add["path"])
        dv = add.get("deletionVector")
        blob = dv_blob(path, dv) if dv else None
        card = dv.get("cardinality") if dv else None
        out.append(
            _DeltaFilePartition(
                abs_path,
                blob,
                pv,
                phys_of,
                arrow_schema,
                int(card) if card is not None else None,
            )
        )
    return out


def _arrow_schema_for(schema):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema)


_RANGE_OPS = {
    "GreaterThan": lambda a, b: a > b,
    "GreaterThanOrEqual": lambda a, b: a >= b,
    "LessThan": lambda a, b: a < b,
    "LessThanOrEqual": lambda a, b: a <= b,
}


def _part_value_parser(dtype):
    """Parser enabling TYPED range comparison of a hive-encoded
    partition value: accepts both the log's string encoding and the
    pushed filter's Python literal.  Returns None for types whose
    string encoding can't be compared reliably (timestamps — zone and
    format variance); such filters simply don't prune, and Spark
    re-applies them regardless."""
    from pyspark.sql import types as T

    if dtype is None:
        return None
    if isinstance(
        dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        return int
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        import math

        # Spark SQL orders NaN GREATER than every double (and equal to
        # itself); Python NaN comparisons are all False, which would
        # wrongly prune NaN partitions from > / >= ranges.  Compare
        # through a (is_nan, value) key that reproduces Spark's order.
        return lambda v: (
            (1, 0.0)
            if math.isnan(float(v))
            else (0, float(v))
        )
    if isinstance(dtype, T.DecimalType):
        from decimal import Decimal

        return lambda v: Decimal(str(v))
    if isinstance(dtype, T.StringType):
        return str
    if isinstance(dtype, T.DateType):
        import datetime as _dt

        return lambda v: (
            v
            if isinstance(v, _dt.date)
            else _dt.date.fromisoformat(str(v))
        )
    return None


class _DeltaBatchReader(DataSourceReader):
    def __init__(self, path: str, version: int | None) -> None:
        self._snap = _snapshot(path, version)
        self._part_filters: list = []

    def pushFilters(self, filters):
        """Hive-style partition pruning: EqualTo/In AND range
        predicates (>=/>/</<= — how every real pipeline filters a
        date-partitioned table) on a partition column prune files by
        the add actions' partitionValues.  EVERY filter is returned as
        unsupported — Spark re-applies them all, so pruning is an I/O
        saving, never a semantics change.  Equality/In compare as the
        string encodings (exact for identity values); ranges compare
        TYPED — the partition string parses under the column's
        declared type, because '9' > '10' lexicographically.  A NULL
        partition value satisfies no predicate (SQL 3VL; Spark's
        re-applied filter agrees)."""
        types_of = dict(self._snap.part_types)
        for f in filters:
            if isinstance(f, EqualTo) and len(f.attribute) == 1:
                c = f.attribute[0]
                if c in self._snap.part_cols:
                    want = str(f.value)
                    self._part_filters.append(
                        lambda pv, c=c, want=want: pv.get(c) == want
                    )
            elif isinstance(f, In) and len(f.attribute) == 1:
                c = f.attribute[0]
                if c in self._snap.part_cols:
                    wants = {str(v) for v in f.value}
                    self._part_filters.append(
                        lambda pv, c=c, wants=wants: pv.get(c) in wants
                    )
            elif (
                isinstance(
                    f,
                    (
                        GreaterThan,
                        GreaterThanOrEqual,
                        LessThan,
                        LessThanOrEqual,
                    ),
                )
                and len(f.attribute) == 1
            ):
                c = f.attribute[0]
                parse = _part_value_parser(types_of.get(c))
                if c in self._snap.part_cols and parse is not None:
                    try:
                        rhs = parse(f.value)
                    except Exception:
                        yield f
                        continue
                    op = _RANGE_OPS[type(f).__name__]

                    def _keep(pv, c=c, rhs=rhs, op=op, parse=parse):
                        # NULL satisfies no range predicate (3VL);
                        # a partition string that fails to parse
                        # under the declared type KEEPS the file —
                        # pruning must never fail a scan the
                        # re-applied filter would have handled
                        if pv.get(c) is None:
                            return False
                        try:
                            return op(parse(pv[c]), rhs)
                        except Exception:
                            return True

                    self._part_filters.append(_keep)
            yield f  # all filters re-applied by Spark

    def partitions(self):
        return _partitions_for_adds(
            self._snap, self._snap.active, self._part_filters
        )

    def read(self, partition):
        yield from _read_file_partition(partition)


class _DeltaStreamReader(DataSourceStreamReader):
    def __init__(self, path: str, options: dict) -> None:
        self._path = path
        self._ignore_deletes = (
            str(options.get("ignoredeletes", "false")).lower() == "true"
        )
        self._ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        #: rate limits — bounded micro-batches, the operational levers
        #: delta-spark exposes.  maxCommitsPerTrigger caps whole
        #: commits per trigger; maxFilesPerTrigger caps ADD FILES per
        #: trigger with SUB-COMMIT offsets ({"version": v, "index": i}
        #: = commit v consumed through its first i dataChange adds;
        #: index −1 = fully consumed — the delta-spark
        #: DeltaSourceOffset shape).  None = consume everything.  Both
        #: limits are per-run: the first batch of a run (and the
        #: initial snapshot) is whole — partitions() plans from the
        #: CHECKPOINTED start, so correctness never depends on them.
        mct = options.get("maxcommitspertrigger")
        self._max_commits = int(mct) if mct else None
        mft = options.get("maxfilespertrigger")
        self._max_files = int(mft) if mft else None
        for label, lim in (
            ("maxCommitsPerTrigger", self._max_commits),
            ("maxFilesPerTrigger", self._max_files),
        ):
            if lim is not None and lim < 1:
                raise UnsupportedFormat(
                    f"{label} must be a positive integer"
                )
        self._last_end: dict | None = None
        #: the snapshot (and so the schema) this RUN is bound to — a
        #: mid-stream metaData action that changes it fails the stream
        #: (delta-spark's contract; see partitions()), and a restart
        #: re-binds here
        self._snap = _snapshot(path)

    def _latest_version(self) -> int:
        log_dir = os.path.join(self._path, "_delta_log")
        vs = [
            int(f[:20])
            for f in os.listdir(log_dir)
            if f.endswith(".json") and f[:20].isdigit()
        ]
        if not vs:
            raise UnsupportedFormat(f"empty Delta log: {self._path}")
        return max(vs)

    def initialOffset(self) -> dict:
        return {"version": -1}

    @staticmethod
    def _pos_key(v: int, i: int) -> tuple[int, int]:
        """Sortable stream position: index −1 (commit fully consumed)
        orders AFTER any partial index within the same version."""
        return (v, (1 << 62) if i < 0 else i)

    def _n_adds(self, version: int) -> int:
        return sum(
            1
            for a in self._commit_actions(version)
            if "add" in a and a["add"].get("dataChange", True)
        )

    def latestOffset(self) -> dict:
        latest = self._latest_version()
        if self._last_end is None or (
            self._max_commits is None and self._max_files is None
        ):
            # first batch of the run (the initial snapshot / restart
            # catch-up baseline) is whole, as documented
            self._last_end = {"version": latest, "index": -1}
            return dict(self._last_end)
        last_v = int(self._last_end["version"])
        last_i = int(self._last_end.get("index", -1))
        budget = self._max_files
        end_v, end_i = last_v, last_i
        commits = 0
        v = last_v if last_i >= 0 else last_v + 1
        while v <= latest:
            if (
                self._max_commits is not None
                and commits >= self._max_commits
            ):
                break
            if budget is None:
                # commit-count limit only: pure arithmetic walk, no
                # commit-log reads (partitions() reads them once)
                end_v, end_i = v, -1
                commits += 1
                v += 1
                continue
            start_i = last_i if (v == last_v and last_i >= 0) else 0
            remaining = max(0, self._n_adds(v) - start_i)
            if remaining > budget:
                end_v, end_i = v, start_i + budget
                budget = 0
                break
            end_v, end_i = v, -1
            budget -= remaining
            commits += 1
            if budget == 0:
                break
            v += 1
        self._last_end = {"version": end_v, "index": end_i}
        return dict(self._last_end)

    def _commit_actions(self, version: int) -> list[dict]:
        log_dir = os.path.join(self._path, "_delta_log")
        p = os.path.join(log_dir, f"{version:020d}.json")
        if not os.path.isfile(p):
            # replayed from the initial snapshot instead (checkpointed
            # logs may clean early commits); refuse mid-stream gaps
            raise UnsupportedFormat(
                f"delta stream: commit {version} is missing from the "
                f"log at {self._path} (cleaned up?) — restart the "
                "stream to re-baseline from the current snapshot"
            )
        with open(p) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def partitions(self, start: dict, end: dict):
        sv, ev = int(start["version"]), int(end["version"])
        si = int(start.get("index", -1))
        ei = int(end.get("index", -1))
        if self._pos_key(ev, ei) <= self._pos_key(sv, si):
            return []
        if sv < 0:
            # initial snapshot AT the end version: active files with
            # DVs applied — the stream's baseline batch
            return _partitions_for_adds(
                self._snap, _snapshot(self._path, ev).active
            )
        adds: dict[str, dict] = {}
        first_v = sv if si >= 0 else sv + 1
        for v in range(first_v, ev + 1):
            commit_adds: list[dict] = []
            actions = self._commit_actions(v)
            for a in actions:
                md = a.get("metaData")
                if md is None:
                    continue
                # delta-spark contract: a mid-stream schema change
                # (ALTER TABLE ADD COLUMN / overwriteSchema) FAILS the
                # stream — the run is bound to the schema it started
                # with, and silently projecting old-schema batches
                # would drop the new column (or worse on a type
                # change).  A RESTART re-binds to the CURRENT schema
                # and replays this commit cleanly (old files
                # null-fill missing columns — see
                # _read_file_partition), which is delta-spark's
                # documented recovery (restart / schemaTrackingLocation).
                from pg_analytics_spark.sources.delta import (
                    _schema_fields,
                )

                if (
                    _schema_fields(md) != self._snap.fields
                    or list(md.get("partitionColumns") or [])
                    != self._snap.part_cols
                ):
                    raise UnsupportedFormat(
                        f"delta stream: detected schema change in "
                        f"commit {v} — the streaming source cannot "
                        "continue with the schema it started from. "
                        "Restart the query to pick up the new "
                        "schema (reads resume from the checkpoint; "
                        "pre-evolution files null-fill added columns)."
                    )
            # dataChange=false removes rearrange data (OPTIMIZE): no
            # row left the table, so the stream has nothing to refuse
            removes = [
                a
                for a in actions
                if "remove" in a and a["remove"].get("dataChange", True)
            ]
            if removes and not (
                self._ignore_deletes or self._ignore_changes
            ):
                raise UnsupportedFormat(
                    f"delta stream: commit {v} contains remove actions "
                    "(UPDATE/DELETE/OVERWRITE). Streaming sources are "
                    "append-only — set ignoreDeletes to skip deletes, "
                    "or ignoreChanges to re-emit rewritten files "
                    "(downstream must tolerate duplicates), or use the "
                    "change feed (read_table_changes) for row-level "
                    "changes."
                )
            if removes and not self._ignore_changes:
                # delta-spark contract: ignoreDeletes covers PURE
                # deletes (retention drops of whole files).  A commit
                # carrying removes AND dataChange adds is a
                # copy-on-write rewrite (UPDATE/MERGE) — emitting the
                # rewritten files would silently duplicate rows
                # already streamed, so it requires ignoreChanges.
                if any(
                    "add" in a and a["add"].get("dataChange", True)
                    for a in actions
                ):
                    raise UnsupportedFormat(
                        f"delta stream: commit {v} rewrites data "
                        "(remove + add in one commit — UPDATE/MERGE). "
                        "ignoreDeletes only skips pure file deletes; "
                        "set ignoreChanges to re-emit rewritten files "
                        "(downstream must tolerate duplicates), or "
                        "consume the change feed."
                    )
            for a in actions:
                add = a.get("add")
                if add is None or not add.get("dataChange", True):
                    continue  # compaction re-adds are not new data
                if add.get("deletionVector") and not self._ignore_changes:
                    raise UnsupportedFormat(
                        f"delta stream: commit {v} re-adds a file with "
                        "a deletion vector (merge-on-read DML) — set "
                        "ignoreChanges or consume the change feed"
                    )
                commit_adds.append(add)
            # sub-commit slicing (maxFilesPerTrigger offsets): a
            # partially-consumed boundary commit contributes only its
            # [start index, end index) adds, in log order
            lo = si if (v == first_v and si >= 0) else 0
            hi = ei if (v == ev and ei >= 0) else len(commit_adds)
            for add in commit_adds[lo:hi]:
                adds[add["path"]] = add
        return _partitions_for_adds(self._snap, adds)

    def read(self, partition):
        yield from _read_file_partition(partition)

    def commit(self, end: dict) -> None:
        pass


class _DeltaWriteMessage(WriterCommitMessage):
    def __init__(self, files: list):
        #: (rel path, size bytes, mtime ms, stats json|None,
        #:  partitionValues dict)
        self.files = files


def _write_task_files(path: str, schema, part_cols: list[str], iterator):
    """Worker-side: this task's Arrow batches through the Delta write
    kernel (``delta_write._delta_files``): one parquet file per
    distinct partition tuple (one file when unpartitioned), partition
    columns in Hive directories and dropped from the files, footer
    stats per file.  A task meeting more than 256 tuples refuses
    loudly — repartition by the partition columns upstream.  Returns
    the commit message; the files only become visible if the DRIVER
    commit publishes them."""
    import uuid as _uuid

    _ensure_importable()
    from pg_analytics_spark.sources.delta_write import (
        _delta_files,
        _partition_values,
    )

    files = _delta_files(
        iterator,
        path,
        [f.name for f in schema.fields],
        part_cols,
        lambda: f"part-{_uuid.uuid4().hex}.c000.parquet",
        schema,
        max_open=256,
    )
    return _DeltaWriteMessage(
        [
            (rel, size, mtime_ms, stats, _partition_values(rel))
            for rel, stats, size, mtime_ms, _rows in files
        ]
    )


def _commit_files(
    path: str,
    schema,
    messages,
    overwrite: bool,
    txn: tuple[str, int] | None = None,
    part_cols: list[str] | None = None,
) -> None:
    """Driver-side commit: publish the tasks' staged files as ONE
    put-if-absent Delta commit (adds + removes for overwrite +
    metaData when creating/replacing + SetTransaction for streaming
    exactly-once).  Mirrors write_delta's semantics for the flat
    (unpartitioned) layout the DataSource writer stages."""
    _ensure_importable()
    import time as _time
    import uuid as _uuid

    from pg_analytics_spark.sources.delta_write import (
        _encode_log_path,
        _removes,
        _schema_shape,
        _write_commit,
    )

    log_dir = os.path.join(path, "_delta_log")
    snap = _snapshot(path) if os.path.isdir(log_dir) else None
    if txn is not None and snap is not None:
        last = snap.txns.get(txn[0])
        if last is not None and int(txn[1]) <= last[0]:
            _abort_files(path, messages)  # replayed epoch: drop stage
            return
    part_cols = list(part_cols or [])
    files = [
        f for m in messages if m is not None for f in m.files
    ]
    now_ms = int(_time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "WRITE",
                "operationParameters": {
                    "mode": "Overwrite" if overwrite else "Append"
                },
                "engineInfo": "pg_analytics_spark-delta_native-sink",
            }
        }
    ]
    if txn is not None:
        actions.append(
            {"txn": {"appId": txn[0], "version": int(txn[1])}}
        )
    replace_schema = False
    if snap is not None:
        # enforcement features need a SparkSession to evaluate their
        # expressions over the batch — which the DataSource commit
        # worker does not have.  Silently skipping them would commit
        # WRONG data (unvalidated constraints / ungenerated columns),
        # so such tables refuse this writer outright.
        cfg = snap.configuration
        if any(k.startswith("delta.constraints.") for k in cfg):
            raise UnsupportedFormat(
                "delta_native writer cannot enforce this table's CHECK "
                "constraints (no SparkSession in the DataSource commit "
                "path) — write via write_delta / INSERT instead"
            )
        if any(
            (f.get("metadata") or {}).get("delta.generationExpression")
            for f in snap.fields
        ):
            raise UnsupportedFormat(
                "delta_native writer cannot compute/validate this "
                "table's GENERATED COLUMNS (no SparkSession in the "
                "DataSource commit path) — write via write_delta / "
                "INSERT instead"
            )
        if cfg.get("delta.columnMapping.mode", "none") != "none":
            raise UnsupportedFormat(
                "delta_native writer does not stage under column-"
                "mapping physical names — write via write_delta"
            )
        if str(cfg.get("delta.enableRowTracking", "")).lower() == "true":
            raise UnsupportedFormat(
                "delta_native writer does not allocate row-tracking "
                "ids (baseRowId / the domainMetadata high-water mark) "
                "— write via write_delta, which assigns them"
            )
        have = set(_schema_shape(snap.fields))
        want = set(_schema_shape(schema.jsonValue()["fields"]))
        if have != want and not overwrite:
            raise UnsupportedFormat(
                "delta_native append schema mismatch — evolve via "
                "write_delta(mergeSchema) or overwrite"
            )
        if snap.part_cols != part_cols:
            raise UnsupportedFormat(
                f"delta_native partition mismatch: table is "
                f"partitioned by {snap.part_cols}, "
                f"write requested {part_cols}"
            )
        if have != want and overwrite:
            replace_schema = True  # replace: mint fresh metaData below
        # exactly ONE protocol action per commit (Delta spec): an
        # existing table's protocol is CARRIED — including on a
        # schema-replacing overwrite, which must never downgrade the
        # protocol external readers negotiated features from.
        actions.append({"protocol": snap.protocol})
    else:
        actions.append(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        )
    if snap is None or replace_schema:
        actions.append(
            {
                "metaData": {
                    "id": str(_uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema.json(),
                    "partitionColumns": part_cols,
                    "configuration": {},
                    "createdTime": now_ms,
                }
            }
        )
    if overwrite and snap is not None:
        actions += _removes(snap.active, now_ms)
    for fname, size, mtime_ms, stats, pv in files:
        actions.append(
            {
                "add": {
                    "path": _encode_log_path(fname),
                    "partitionValues": pv,
                    "size": size,
                    "modificationTime": mtime_ms,
                    "dataChange": True,
                    **({"stats": stats} if stats else {}),
                }
            }
        )
    version = 0 if snap is None else snap.version + 1
    _write_commit(path, log_dir, version, actions)


def _abort_files(path: str, messages) -> None:
    for m in messages or []:
        if m is None:
            continue
        for fname, *_rest in m.files:
            try:
                os.remove(os.path.join(path, fname))
            except OSError:
                pass


class _DeltaBatchWriter(DataSourceArrowWriter):
    def __init__(
        self, path: str, schema, overwrite: bool, part_cols: list[str]
    ) -> None:
        self._path = path
        self._schema = schema
        self._overwrite = overwrite
        names = {f.name for f in schema.fields}
        missing = [c for c in part_cols if c not in names]
        if missing:
            raise UnsupportedFormat(
                f"partitionBy column(s) {missing} not in the written "
                "schema"
            )
        self._part_cols = part_cols

    def write(self, iterator):
        return _write_task_files(
            self._path, self._schema, self._part_cols, iterator
        )

    def commit(self, messages):
        _commit_files(
            self._path,
            self._schema,
            messages,
            self._overwrite,
            part_cols=self._part_cols,
        )

    def abort(self, messages):
        _abort_files(self._path, messages)


class _DeltaStreamWriter(DataSourceStreamArrowWriter):
    """Exactly-once streaming sink: each epoch commits with a
    SetTransaction (txn) action keyed by ``txnAppId`` (option;
    defaults to 'delta_native_sink') and the epoch id — a replayed
    epoch finds the watermark and publishes NOTHING (its staged files
    are removed), the delta-spark idempotent-sink contract."""

    def __init__(
        self,
        path: str,
        schema,
        overwrite: bool,
        app_id: str,
        part_cols: list[str],
    ):
        if overwrite:
            raise UnsupportedFormat(
                "delta_native streaming sink supports append output "
                "mode only"
            )
        self._path = path
        self._schema = schema
        self._app_id = app_id
        self._part_cols = part_cols

    def write(self, iterator):
        return _write_task_files(
            self._path, self._schema, self._part_cols, iterator
        )

    def commit(self, messages, batchId: int):
        _commit_files(
            self._path,
            self._schema,
            messages,
            overwrite=False,
            txn=(self._app_id, int(batchId)),
            part_cols=self._part_cols,
        )

    def abort(self, messages, batchId: int):
        _abort_files(self._path, messages)


class DeltaNativeDataSource(DataSource):
    """``format("delta_native")`` — batch + streaming reads AND writes
    of this repo's native Delta tables through the Python DataSource
    API."""

    @classmethod
    def name(cls) -> str:
        return "delta_native"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise UnsupportedFormat(
                "delta_native needs .option('path', …) or load(path)"
            )
        return p

    def _as_of_version(self) -> int | None:
        """Resolve versionAsOf / timestampAsOf to one log version —
        shared by schema() and reader() so the DECLARED schema always
        matches the version the partitions conform batches to (an ADD
        COLUMN after the as-of point must not leak into the scan
        schema)."""
        version = (
            int(self.options["versionasof"])
            if "versionasof" in self.options
            else None
        )
        if "timestampasof" in self.options:
            # delta-spark's timestampAsOf: latest commit at-or-before
            # the timestamp (epoch millis or ISO datetime, naive=UTC)
            if version is not None:
                raise UnsupportedFormat(
                    "specify either versionAsOf or timestampAsOf, "
                    "not both"
                )
            _ensure_importable()
            from pg_analytics_spark.sources.delta import (
                _resolve_timestamp,
                _ts_ms,
            )

            version = _resolve_timestamp(
                os.path.join(self._path(), "_delta_log"),
                _ts_ms(self.options["timestampasof"]),
            )
        return version

    def schema(self):
        return _snapshot(self._path(), self._as_of_version()).schema

    def reader(self, schema):
        return _DeltaBatchReader(self._path(), self._as_of_version())

    def streamReader(self, schema):
        return _DeltaStreamReader(self._path(), dict(self.options))

    def _part_cols(self) -> list[str]:
        raw = self.options.get("partitionby", "")
        return [c.strip() for c in raw.split(",") if c.strip()]

    def writer(self, schema, overwrite: bool):
        return _DeltaBatchWriter(
            self._path(), schema, overwrite, self._part_cols()
        )

    def streamWriter(self, schema, overwrite: bool):
        return _DeltaStreamWriter(
            self._path(),
            schema,
            overwrite,
            self.options.get("txnappid", "delta_native_sink"),
            self._part_cols(),
        )


def register_native_datasources(spark) -> None:
    """Idempotently register the native-format DataSources on a
    session (safe to call many times; latest registration wins).
    Also enables Python-DataSource filter pushdown — a runtime SQL
    conf that is off by default and REQUIRED once a reader defines
    ``pushFilters`` (Spark refuses the mismatch loudly)."""
    from pg_analytics_spark.sources.iceberg_datasource import (
        IcebergNativeDataSource,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(DeltaNativeDataSource)
    spark.dataSource.register(IcebergNativeDataSource)
