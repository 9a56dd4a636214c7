"""Task-side partitioned Parquet writing for the native lake writers.

Every native Delta and Iceberg write (DML, CTAS, compaction, CDC files,
and the ``delta_native``/``iceberg_native`` batch and streaming sinks)
writes its data files through :func:`write_partitioned`, the one
Parquet-writing loop in the package outside the Iceberg upsert
staging.  A call site supplies only what is specific to its format:
which columns are keys and which are data, how a file is named, and
what it does with each finished file (Delta footer stats, Iceberg
Appendix-D bounds).  The pieces it is built from:

- :func:`transform_array` — the vectorized twin of
  ``iceberg_prune.transform_value`` (the READER's reference
  semantics).  Temporal transforms are integer arithmetic on the
  array's epoch representation (``day(ts)`` = micros // 86.4e9 after
  a tz-normalizing cast — Arrow stores tz-aware timestamps as UTC
  instants, so casting to naive ``timestamp[us]`` IS the
  ``astimezone(utc).replace(tzinfo=None)`` the scalar path performs);
  ``truncate[w]`` on strings is ``utf8_slice_codeunits`` (codepoint
  slicing, same as Python ``str[:w]``); ``truncate[w]`` on ints is
  floor arithmetic in numpy (numpy ``%`` floors toward -inf like
  Python's, unlike Arrow's truncating integer divide).  ``bucket[N]``
  and any future transform fall back to dictionary-encoding the
  column and murmur3-hashing only the DISTINCT values through the
  scalar ``transform_value``, then a C-side ``take`` maps them back,
  so a clustered column costs O(distinct) Python calls.
- :func:`group_take` — distinct-tuple grouping via Arrow's hash
  group-by (``list`` aggregation over a row-index column).  Yields
  ``(key_tuple, row_indices)`` sorted by stringified key for
  deterministic file ordering.
- :class:`BoundedGroupBuffer` — per-tuple accumulation into large row
  groups under a global per-task byte cap.
- :func:`hive_path` — the one Hive directory encoding of a Delta
  partition value (``__HIVE_DEFAULT_PARTITION__`` for NULL,
  ``true``/``false`` for booleans, percent-quoted ``str`` otherwise).
- :func:`map_files` — the driver side of a direct write: one
  ``mapInArrow`` job runs the task and collects one record per file,
  on a local master only (:func:`require_local_master`).

Parity of :func:`transform_array` with the scalar path is pinned
property-style in
``tests/test_properties.py::test_transform_array_matches_scalar``;
``tests/test_plan_lint.py`` pins the ``ParquetWriter(`` census.

Reference scope: the reference writes no lake formats (read-only FDW,
src/fdw/handler.rs); this backs the repo's parity-plus native writers.
"""

from __future__ import annotations

import os
from typing import Any, Iterator, NamedTuple


def transform_array(transform: str, arr, src_type: str):
    """Vectorized ``transform_value`` over an Arrow (chunked) array.

    Returns a plain ``pyarrow.Array`` aligned with ``arr``; nulls map
    to nulls (the scalar path's ``None -> None``).
    """
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if transform == "identity":
        return arr
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if src_type in ("int", "long"):
            return _floor_truncate(arr, w)
        if src_type == "string":
            import pyarrow.compute as pc

            return pc.utf8_slice_codeunits(arr, 0, w)
        return _via_distinct(transform, arr, src_type)
    if transform in ("year", "month", "day", "hour"):
        return _temporal_transform(transform, arr, src_type)
    # bucket[N] and anything the spec adds later: per-batch-distinct
    return _via_distinct(transform, arr, src_type)


def _floor_truncate(arr, w: int):
    """``v - (v mod w)`` with mod flooring toward -inf (Iceberg spec;
    Python/numpy semantics, NOT Arrow's truncating integer ops)."""
    import numpy as np
    import pyarrow as pa

    vals = arr.cast(pa.int64()).fill_null(0).to_numpy(
        zero_copy_only=False
    )
    out = vals - (vals % np.int64(w))
    return pa.array(out, type=pa.int64(), mask=_null_mask(arr))


def _temporal_transform(transform: str, arr, src_type: str):
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if src_type == "date":
        days = arr.cast(pa.int32())
        if transform == "day":
            return days.cast(pa.int64())
        if transform in ("year", "month"):
            y = pc.subtract(pc.year(arr), 1970)
            if transform == "year":
                return y.cast(pa.int64())
            return pc.add(
                pc.multiply(y, 12), pc.subtract(pc.month(arr), 1)
            ).cast(pa.int64())
        return _via_distinct(transform, arr, src_type)  # hour(date): n/a
    if src_type.startswith("timestamp"):
        # tz-aware -> naive cast keeps the UTC instant (Arrow stores
        # epoch micros), matching the scalar path's astimezone(utc)
        naive = arr.cast(pa.timestamp("us"))
        if transform in ("day", "hour"):
            us = naive.cast(pa.int64()).fill_null(0).to_numpy(
                zero_copy_only=False
            )
            div = 86_400_000_000 if transform == "day" else 3_600_000_000
            out = us // np.int64(div)  # numpy // floors (pre-epoch ok)
            return pa.array(out, type=pa.int64(), mask=_null_mask(arr))
        y = pc.subtract(pc.year(naive), 1970)
        if transform == "year":
            return y.cast(pa.int64())
        return pc.add(
            pc.multiply(y, 12), pc.subtract(pc.month(naive), 1)
        ).cast(pa.int64())
    return _via_distinct(transform, arr, src_type)


def _null_mask(arr):
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if arr.null_count == 0:
        return None
    return pc.is_null(arr).to_numpy(zero_copy_only=False).astype(
        np.bool_
    )


def _via_distinct(transform: str, arr, src_type: str):
    """Dictionary-encode, run the scalar reference transform over the
    DISTINCT values only, map back with a C-side take.  Null source
    rows get null dictionary indices, so take yields null — same as
    the scalar path's ``None -> None``."""
    import pyarrow as pa

    from pg_analytics_spark.sources.iceberg_prune import transform_value

    enc = arr.dictionary_encode()
    mapped = [
        transform_value(transform, v, src_type)
        for v in enc.dictionary.to_pylist()
    ]
    if not mapped:
        return pa.nulls(len(arr))
    return pa.array(mapped).take(enc.indices)


#: global per-task cap on buffered Arrow bytes across ALL partition
#: accumulators in a write task (a spill risk otherwise): the per-tuple
#: flush threshold alone lets a task holding hundreds of tuples
#: accumulate tuples × threshold bytes before any flush.  Crossing the
#: cap flushes the LARGEST accumulator first — large row groups are
#: preserved for the hot tuples, cold tuples keep buffering.
TASK_BUFFER_CAP = 256 << 20

#: per-tuple row-group flush size of :func:`write_partitioned`
FLUSH_BYTES = 128 << 20


class BoundedGroupBuffer:
    """Per-key accumulate-and-flush of Arrow tables with BOTH a per-key
    flush threshold (large row groups, guide §6.2) and a global cap on
    total buffered bytes (guide §5).  ``flush_fn(key, table)`` receives
    the concatenated buffered slices for one key; callers own writer
    management inside it.  ``max_buffered`` records the high-water mark
    of total buffered bytes (instrumentation for the bound's test)."""

    def __init__(self, flush_fn, key_flush_bytes: int,
                 total_cap_bytes: int | None = None) -> None:
        self._flush_fn = flush_fn
        self._key_flush = int(key_flush_bytes)
        self._cap = int(
            TASK_BUFFER_CAP if total_cap_bytes is None else total_cap_bytes
        )
        self._acc: dict = {}
        self._nbytes: dict = {}
        self._total = 0
        self.max_buffered = 0

    def add(self, key, table) -> None:
        self._acc.setdefault(key, []).append(table)
        b = table.nbytes
        self._nbytes[key] = self._nbytes.get(key, 0) + b
        self._total += b
        if self._total > self.max_buffered:
            self.max_buffered = self._total
        if self._nbytes[key] >= self._key_flush:
            self.flush(key)
        while self._total >= self._cap and self._nbytes:
            self.flush(max(self._nbytes, key=self._nbytes.get))

    def flush(self, key) -> None:
        import pyarrow as pa

        tabs = self._acc.pop(key, None)
        self._total -= self._nbytes.pop(key, 0)
        if not tabs:
            return
        t = tabs[0] if len(tabs) == 1 else pa.concat_tables(tabs)
        self._flush_fn(key, t)

    def close(self) -> None:
        for key in list(self._acc):
            self.flush(key)


def group_take(
    key_arrays: list, num_rows: int
) -> Iterator[tuple[tuple, Any]]:
    """Yield ``(key_tuple, row_indices: pa.Int64Array)`` per distinct
    key tuple via Arrow's hash group-by — no per-row Python, no
    per-tuple O(rows) mask pass.  Tuples are Python-native values
    (``to_pylist`` of the per-group key row); iteration order is
    sorted by stringified tuple for deterministic file naming."""
    import numpy as np
    import pyarrow as pa

    if num_rows == 0:
        return
    names = [f"__k{i}" for i in range(len(key_arrays))]
    kt = pa.table(
        dict(
            zip(names, key_arrays),
            __idx=pa.array(np.arange(num_rows, dtype=np.int64)),
        )
    )
    agg = kt.group_by(names).aggregate([("__idx", "list")])
    keys = list(zip(*(agg[n].to_pylist() for n in names)))
    idx_col = agg["__idx_list"].combine_chunks()
    order = sorted(
        range(len(keys)), key=lambda j: tuple(map(str, keys[j]))
    )
    for j in order:
        yield keys[j], idx_col[j].values


class WrittenFile(NamedTuple):
    """One finished data file of :func:`write_partitioned`."""

    key: tuple  #: the partition tuple (``()`` when unpartitioned)
    rel: str  #: path relative to the write root
    dst: str  #: absolute path
    size: int
    mtime: int  #: milliseconds
    rows: int


def stat_columns(schema) -> list[str]:
    """Parquet column paths of the non-floating-point leaves of Arrow
    ``schema``: the ``write_statistics`` of every data file the native
    writers produce.  Arrow leaves NaN out of a float column's footer
    min/max (``[1.0, NaN, 3.0]`` records [1.0, 3.0]), and Spark's
    Parquet filter pushdown trusts those bounds, so a float column
    carries no statistics at all."""
    import pyarrow as pa

    out: list[str] = []

    def walk(path: str, t) -> None:
        if pa.types.is_struct(t):
            for f in t:
                walk(f"{path}.{f.name}", f.type)
        elif pa.types.is_map(t):
            walk(f"{path}.key_value.key", t.key_type)
            walk(f"{path}.key_value.value", t.item_type)
        elif pa.types.is_list(t) or pa.types.is_large_list(t):
            walk(f"{path}.list.element", t.value_type)
        elif not pa.types.is_floating(t):
            out.append(path)

    for f in schema:
        walk(f.name, f.type)
    return out


def hive_path(cols: list[str], key: tuple, fname: str) -> str:
    """``c1=v1/c2=v2/fname``: the Hive directories of one Delta
    partition tuple.  The decode side (``delta_write._partition_values``)
    is ``urllib.parse.unquote``, so every %XX escape round-trips."""
    from urllib.parse import quote

    def _value(v):
        if v is None:
            return "__HIVE_DEFAULT_PARTITION__"
        if isinstance(v, bool):
            return "true" if v else "false"
        return quote(str(v), safe="")

    dirs = [f"{quote(c, safe='')}={_value(v)}" for c, v in zip(cols, key)]
    return "/".join([*dirs, fname])


def shippable(fn):
    """What a write task's closure should capture for the module-level
    function ``fn``: ``fn`` itself when it has been replaced by a local
    function (test instrumentation, which cloudpickle ships by value),
    else ``(module, name)`` for :func:`resolve` to import in the worker
    (a module function in a closure pickles by reference and dies on
    workers without the driver's ``sys.path``)."""
    if "<locals>" in fn.__qualname__:
        return fn
    return fn.__module__, fn.__name__


def resolve(ref):
    """The worker-side inverse of :func:`shippable`."""
    if callable(ref):
        return ref
    import importlib

    return getattr(importlib.import_module(ref[0]), ref[1])


def write_partitioned(
    batches,
    root: str,
    *,
    data_idx: list[int] | None,
    key_fn=None,
    name_of,
    max_open: int | None = None,
    compression: str = "snappy",
) -> Iterator[WrittenFile]:
    """Write one task's Arrow batches as one Parquet file per
    partition tuple under ``root``; yield a :class:`WrittenFile` per
    file once all input is consumed.

    ``data_idx`` are the batch columns that go into the files (None:
    all of them); ``key_fn(batch)`` returns the key arrays (None:
    unpartitioned, one file); ``name_of(key)`` gives a file's path
    relative to ``root``.  Rows of a tuple accumulate into ``FLUSH_BYTES`` row
    groups under the global ``TASK_BUFFER_CAP``.  Every file is
    written as ``.tmp`` and moved into place with ``os.replace``, so a
    crash never leaves a half-file under a data name.  Floating-point
    columns carry no footer statistics (:func:`stat_columns`).  ``max_open``
    refuses a task that meets more distinct tuples than that.  Empty
    input writes no file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    open_files: dict[tuple, list] = {}  # key -> [writer, rel, rows]

    def _flush(key, t):
        got = open_files.get(key)
        if got is None:
            if max_open is not None and len(open_files) >= max_open:
                from pg_analytics_spark.errors import UnsupportedFormat

                raise UnsupportedFormat(
                    f"partitioned write: >{max_open} distinct partition "
                    "tuples in one task — repartition by the partition "
                    "columns first"
                )
            rel = name_of(key)
            dst = os.path.join(root, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            w = pq.ParquetWriter(
                dst + ".tmp", t.schema, compression=compression,
                write_statistics=stat_columns(t.schema),
            )
            got = open_files[key] = [w, rel, 0]
        got[0].write_table(t)
        got[2] += t.num_rows

    buf = BoundedGroupBuffer(_flush, FLUSH_BYTES)
    for b in batches:
        if b.num_rows == 0:
            continue
        data = pa.Table.from_batches(
            [b if data_idx is None else b.select(data_idx)]
        )
        keys = None if key_fn is None else key_fn(b)
        groups = group_take(keys, b.num_rows) if keys else [((), None)]
        for key, idx in groups:
            buf.add(tuple(key), data if idx is None else data.take(idx))
    buf.close()
    for key, (w, rel, rows) in open_files.items():
        w.close()
        dst = os.path.join(root, rel)
        os.replace(dst + ".tmp", dst)
        st = os.stat(dst)
        yield WrittenFile(
            key, rel, dst, st.st_size, int(st.st_mtime * 1000), rows
        )


#: repo root, pickled BY VALUE into :func:`map_files` closures: a
#: vanilla driver (cwd elsewhere, repo on the DRIVER's sys.path only)
#: ships them by value, and the tasks' lazy package imports would die
#: on Python workers without this path (round-8 driver-sim find; on a
#: real cluster with a shipped package the import just succeeds).
_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def require_local_master(sc, target: str) -> None:
    """A direct write's tasks write files under ``target`` that the
    driver then reads, stats and commits.  That needs the driver and
    the executors to share one filesystem, which only a local master
    (``local`` or ``local[...]``) guarantees; on any other master the
    write fails here, before a task runs, instead of committing files
    the driver cannot see."""
    master = sc.master
    if master != "local" and not master.startswith("local["):
        from pg_analytics_spark.errors import EngineError

        raise EngineError(
            f"direct lake write to {target!r} needs a local master "
            f"(local or local[...]); master {master!r} runs tasks whose "
            "files the driver cannot see"
        )


def map_files(df, task, target: str) -> list:
    """Run ``task(batches)`` over every partition of ``df`` in ONE
    ``mapInArrow`` job and return the records it yields (picklable
    values, one per written file under ``target``).  The task runs with
    the repo root on ``sys.path``, so it imports the package lazily."""
    import pickle

    require_local_master(df.sparkSession.sparkContext, target)
    root = _REPO_ROOT

    def _run(batches):
        import pickle as _pickle
        import sys as _sys

        import pyarrow as _pa

        if root not in _sys.path:
            _sys.path.insert(0, root)
        recs = [_pickle.dumps(r) for r in task(batches)]
        if recs:
            yield _pa.RecordBatch.from_pydict(
                {"rec": _pa.array(recs, _pa.binary())}
            )

    rows = df.mapInArrow(_run, "rec BINARY").collect()
    return [pickle.loads(r["rec"]) for r in rows]


def write_empty(schema, dst: str, compression: str = "snappy") -> None:
    """One 0-row, schema-only Parquet file for Spark ``schema``.  An
    empty UNPARTITIONED commit of either writer publishes one, as the
    Spark staged write did (Iceberg readers treat a snapshot with no
    live data file as corrupt)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    pq.write_table(
        to_arrow_schema(schema).empty_table(), dst, compression=compression
    )
