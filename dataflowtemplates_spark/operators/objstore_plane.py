"""Distributed parquet data plane over registered object-store
backends (the fsio seam), for schemes Spark's own datasources cannot
reach in this environment.

The KeyedTable engine (operators/mutations.py) separates METADATA
(commit-log JSON, always through fsio and its conditional-put CAS)
from DATA (immutable parquet under ``data/vNNNNN-uuid/kb=N/``). On
``file://``/HDFS paths Spark's native parquet source reads and writes
the data; on an object-store scheme a production cluster would mount
the native connector (s3a / the GCS Hadoop connector) for the same
effect. This sandbox ships neither connector jar, so this module
provides the pure-Python equivalent — and it is a real distributed
plane, not a driver shim:

* **Write** (:func:`write_partitioned`): ``mapInArrow`` over the
  staged slice — each EXECUTOR task serializes its partition's rows
  to parquet bytes per bucket (pyarrow, snappy) and PUTs them
  straight to the store through the pickled backend
  (``S3HttpBackend``/``GcsHttpBackend`` pickle by configuration).
  Part objects are named ``part-{partition:05d}-{seq:04d}.parquet``
  and rotate at an exact ROW count (``flush_rows``), sliced
  independently of arrow batch boundaries — so the seq SET a task
  writes is a pure function of its partition's (deterministic) row
  multiset, never of compression ratios. CALLER CONTRACT: the
  within-partition row ORDER must also be a pure function of that
  multiset — arrival order out of a shuffle is not deterministic
  across task attempts, so the caller sorts each partition by a total
  order first (KeyedTable sorts by bucket, cluster order, then the
  unique table keys — mutations._apply_clustering). With that, a task
  retry or speculative attempt overwrites exactly the same object
  names with the same row sets, leaving no stale higher-seq debris to
  duplicate rows — the idempotence Spark's own committers get from
  task-attempt promotion. Backends exposing a streaming sink
  (S3 multipart upload via ``open_write``) get row groups streamed
  through BOUNDED memory (one in-flight part, default 8 MB) however
  large the object; buffer-and-PUT is the fallback for backends
  without one, bounded by ``flush_rows`` x row width. A multipart
  retry is still safe: parts stage invisibly under an UploadId and
  only CompleteMultipartUpload materializes the (deterministically
  named) object, overwriting like a plain PUT.
* **Read** (:func:`read_parquet`): the driver lists the snapshot's
  leaf directories through the backend (bucket pruning happened
  upstream in the ``_owners`` fold — the file list IS the pruned
  scan), then ``mapInArrow`` over a one-file-per-partition path frame
  fetches and decodes each object executor-side, conforming to the
  table schema (missing columns null-fill: the engine's
  schema-evolution rule, same as parquet's missing-column semantics).

Scale notes: both directions are map-only (no shuffle, no
driver-side data movement; the driver handles O(files) strings).
Snapshot listing issues one paginated LIST per commit dir — from the
driver for small snapshots, from EXECUTOR tasks (one per commit dir,
``_DIST_LIST_MIN_DIRS`` threshold) when a long-lived table's snapshot
spans many commit dirs, so the round trips parallelize instead of
serializing on the driver.
Column pruning pushes into this plane through the EXPLICIT
``columns=`` projection (``KeyedTable.read(columns=...)`` plumbs it):
the task then fetches only the parquet footer plus the projected
chunks' byte ranges via HTTP ``Range:`` GETs
(operators/rangedparquet.py) — the native connector's economics for
a narrow projection over a wide table. An EXPLICIT ``predicate=``
additionally skips row groups whose footer statistics refute it
(their chunk bytes are never fetched), with the exact residual
filter applied executor-side. What does NOT push down is
Catalyst-INFERRED pruning (a ``select``/``filter`` above
``mapInArrow`` cannot reach inside the Python stage) — callers that
want it without the explicit arguments need the native connector;
this remains the documented residual cost of the pure-Python seam,
bounded by rewrite-granularity object sizes (n_buckets sizing,
SCALE.md).
"""

from __future__ import annotations

import os
import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: rotate part objects at exactly this many rows (see the module
#: docstring: a ROW-count boundary is deterministic across task
#: attempts, a byte boundary is not). 256k rows of ~100-500 B keeps
#: objects in the tens-of-MB range and executor buffers bounded.
_FLUSH_ROWS = 1 << 18


def _arrow_schema(spark_schema: T.StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def write_partitioned(staged: DataFrame, data_dir: str, bucket_col: str,
                      backend, flush_rows: int = _FLUSH_ROWS,
                      part_bytes: int = 8 * 1024 * 1024) -> None:
    """Write ``staged`` (which carries ``bucket_col``) as
    ``data_dir/{bucket_col}={b}/part-*.parquet`` objects via
    ``backend``, from executor tasks. Mirrors
    ``df.write.partitionBy(bucket_col).parquet(data_dir)``: the bucket
    column lives in the directory name, not in the files. Every part
    object holds EXACTLY ``flush_rows`` rows except a bucket's last —
    which makes retries overwrite instead of duplicate PROVIDED the
    caller delivers each partition's rows in a deterministic total
    order (see the module docstring's caller contract)."""
    out_schema = T.StructType(
        [f for f in staged.schema.fields if f.name != bucket_col])
    arrow_out = _arrow_schema(out_schema)

    def task(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        state: dict[int, dict] = {}
        next_seq: dict[int, int] = {}
        manifest: list[tuple[int, str, int]] = []
        # backends exposing a streaming sink (S3 multipart upload) get
        # rows streamed through bounded memory; others buffer the
        # whole (rotation-bounded) object and PUT once
        streaming = hasattr(backend, "open_write")

        def fresh(b, seq):
            key = posixpath.join(
                data_dir, f"{bucket_col}={b}",
                f"part-{pid:05d}-{seq:04d}.parquet")
            sink = backend.open_write(key, part_bytes=part_bytes) \
                if streaming else pa.BufferOutputStream()
            return {"sink": sink, "key": key, "rows": 0, "seq": seq,
                    "writer": pq.ParquetWriter(sink, arrow_out,
                                               compression="snappy")}

        def flush(b, st):
            st["writer"].close()
            if streaming:
                st["sink"].close()  # finalize (idempotent if the
                #                     parquet writer closed it already)
            else:
                backend.write_bytes(
                    st["key"], st["sink"].getvalue().to_pybytes())
            manifest.append((b, st["key"], st["rows"]))

        try:
            for batch in batches:
                tbl = pa.Table.from_batches([batch])
                kb = tbl.column(bucket_col)
                for b in pc.unique(kb).to_pylist():
                    part = (tbl.filter(pc.equal(kb, b))
                            .drop_columns([bucket_col])
                            .cast(arrow_out))
                    # slice at exact flush_rows boundaries, independent
                    # of arrow batch framing: object row counts (and so
                    # the seq set) depend only on the partition's row
                    # multiset
                    while part.num_rows:
                        if b not in state:  # lazily, so a flush at an
                            #   exact boundary never opens an unused
                            #   sink
                            state[b] = fresh(b, next_seq.get(b, 0))
                        st = state[b]
                        take = min(part.num_rows,
                                   flush_rows - st["rows"])
                        st["writer"].write_table(part.slice(0, take))
                        st["rows"] += take
                        part = part.slice(take)
                        if st["rows"] >= flush_rows:
                            flush(b, st)
                            del state[b]
                            next_seq[b] = st["seq"] + 1
            for b, st in state.items():
                if st["rows"]:
                    flush(b, st)
        except BaseException:
            if streaming:
                # abort every staged upload/session this task opened:
                # incomplete uploads are invisible to LIST, so no
                # later directory cleanup could find them
                for st in state.values():
                    try:
                        st["sink"].abandon()
                    except Exception:  # noqa: BLE001 - best-effort
                        pass
            raise
        yield pa.RecordBatch.from_arrays(
            [pa.array([m[0] for m in manifest], pa.int64()),
             pa.array([m[1] for m in manifest], pa.string()),
             pa.array([m[2] for m in manifest], pa.int64())],
            names=["bucket", "key", "rows"])

    # the collect() is the ACTION that runs the distributed write;
    # the manifest is O(part files), driver-safe
    staged.mapInArrow(task, "bucket long, key string, rows long") \
        .collect()


#: snapshots spanning at least this many distinct commit dirs list
#: them from EXECUTORS (one task per commit dir) instead of
#: serializing the paginated LIST round trips on the driver; below
#: it, a Spark job costs more than the listing saves
_DIST_LIST_MIN_DIRS = 8

#: Partition packing: target bytes of parquet objects per scan task.
#: One object per task matches the native source's file-split
#: granularity when objects are tens of MB (the n_buckets /
#: flush_rows sizing), but a small-object layout then pays the
#: per-task constant PER TINY OBJECT: scheduling plus a reused Python
#: worker's set-up before the UDF runs (workers are forked once and
#: reused, so it is not spin-up). That set-up measured 0.31-0.34
#: CPU-s per task while every task re-parsed pyspark.zip, and ~0.05
#: CPU-s since the engine's worker daemon stopped it (pyspark/
#: daemon.py; local[4], trivial mapInArrow); whether packing still
#: pays at the smaller constant is not measured yet.
#: Packing bins objects into ~this many bytes per task, floored at
#: the cluster's default parallelism so a small scan still fills
#: every core; object sizes ride the snapshot LIST for free.
#: Env-tunable for deployments with different object economics.
_PACK_TARGET_BYTES = int(os.environ.get(
    "SPARK_GRAFT_PLANE_PACK_BYTES", str(32 << 20)))


def _pack_files(sized_files: list, target_bytes: int,
                floor_bins: int) -> list[list[str]]:
    """Deterministic greedy (longest-processing-time) packing of
    ``(path, size)`` pairs into ``max(ceil(total/target), floor)``
    bins — never more bins than files. Unknown sizes (None) assume
    ``target_bytes`` so they land in their own bin. Returns each
    bin's paths sorted; the bin list itself is a pure function of the
    input multiset (sorted input, stable tie-break), so retried
    plans pack identically."""
    if not sized_files:
        return []
    sized = [(p, (target_bytes if s is None else int(s)))
             for p, s in sorted(sized_files)]
    total = sum(s for _, s in sized)
    n_bins = max(1, min(len(sized),
                        max(-(-total // target_bytes), floor_bins)))
    if n_bins >= len(sized):
        return [[p] for p, _ in sized]
    import heapq

    heap = [(0, i) for i in range(n_bins)]
    heapq.heapify(heap)
    bins: list[list[str]] = [[] for _ in range(n_bins)]
    for p, s in sorted(sized, key=lambda x: (-x[1], x[0])):
        load, i = heapq.heappop(heap)
        bins[i].append(p)
        heapq.heappush(heap, (load + s, i))
    return [sorted(b) for b in bins if b]


def _group_leaf_dirs(leaf_dirs: list[str]) -> dict[str, set[str]]:
    """Leaves group under their commit directory
    (``.../data/vNNNNN-x/kb=B``) -> {commit_dir: {leaf names}}."""
    from collections import defaultdict

    by_parent: dict[str, set[str]] = defaultdict(set)
    for d in leaf_dirs:
        parent, _, leaf = d.rstrip("/").rpartition("/")
        by_parent[parent].add(leaf)
    return by_parent


def _list_commit_dir(backend, parent: str, leaves) -> list[tuple]:
    """ONE paginated listing of a commit dir, filtered to the wanted
    bucket leaves — O(1) round trips per commit dir, not O(buckets)
    HEAD+LIST pairs. Returns ``(path, size_bytes)`` pairs (size rides
    the same listing for free — S3 <Size> / GCS size — and feeds the
    partition PACKING that amortizes per-task overhead over small
    objects; None when a server omits it)."""
    scheme = parent.split("://", 1)[0]
    bucket, key = backend._split(parent)
    # bucket-root parent (leaf dirs one level under the bucket) lists
    # with an empty prefix, not "/"
    p = key.rstrip("/") + "/" if key else ""
    return [(f"{scheme}://{bucket}/{item}", size)
            for kind, item, _, size in backend._list(bucket, p, None)
            if kind == "key" and item.endswith(".parquet")
            and item[len(p):].split("/", 1)[0] in leaves]


def _list_leaf_files(leaf_dirs: list[str], backend,
                     spark: SparkSession | None = None) -> list[tuple]:
    """``(path, size)`` listing for the snapshot's leaf dirs. Small
    snapshots list from the driver (no job-scheduling latency); a
    snapshot spanning many commit dirs — a long-lived 100 TB table
    between rebuckets — distributes the per-commit-dir LISTs to
    executors so the round trips parallelize instead of serializing
    on the driver (same ``mapInArrow`` trick as the data path; the
    driver still only ever holds O(files) strings)."""
    by_parent = _group_leaf_dirs(leaf_dirs)
    if (spark is not None and getattr(backend, "distributed", False)
            and len(by_parent) >= _DIST_LIST_MIN_DIRS):
        return _list_leaf_files_distributed(spark, by_parent, backend)
    return [f for parent, leaves in by_parent.items()
            for f in _list_commit_dir(backend, parent, leaves)]


def _list_leaf_files_distributed(spark: SparkSession,
                                 by_parent: dict[str, set[str]],
                                 backend) -> list[tuple]:
    """One executor task per commit dir issues that dir's paginated
    LIST through the pickled backend; the collected result is the
    same O(files) ``(path, size)`` manifest the driver path
    produces."""
    def task(batches):
        import pyarrow as pa

        for batch in batches:
            out: list[tuple] = []
            for parent, leaves in zip(
                    batch.column("parent").to_pylist(),
                    batch.column("leaves").to_pylist()):
                out.extend(_list_commit_dir(backend, parent,
                                            set(leaves)))
            yield pa.RecordBatch.from_arrays(
                [pa.array([f for f, _ in out], pa.string()),
                 pa.array([(-1 if s is None else s) for _, s in out],
                          pa.int64())],
                names=["file", "size"])

    items = sorted((p, sorted(ls)) for p, ls in by_parent.items())
    frame = spark.createDataFrame(
        items, "parent string, leaves array<string>")
    rows = (frame.repartition(len(items))
            .mapInArrow(task, "file string, size long").collect())
    return [(r["file"], (None if r["size"] < 0 else int(r["size"])))
            for r in rows]


def read_parquet(spark: SparkSession, leaf_dirs: list[str],
                 schema: T.StructType, backend,
                 columns: list[str] | None = None,
                 predicate: list[tuple] | None = None) -> DataFrame:
    """Distributed read of the given leaf directories' parquet objects
    through ``backend``, conformed to ``schema`` (missing columns
    null-fill — the engine's schema-evolution rule).

    ``columns`` projects the read down to the named top-level columns
    (result column order = request order). On backends exposing
    ranged reads (the HTTP stores — operators/httpstore.py) the task
    then fetches only the parquet FOOTER plus the projected columns'
    chunk byte ranges (operators/rangedparquet.py) instead of whole
    objects — the native connector's column-pruning economics, over
    plain ``Range:`` GETs. Backends without ranged reads still fetch
    whole objects and project after decode (correct, full-bytes).

    ``predicate`` ([(column, op, value)] conjunction, op in
    ``rangedparquet.PREDICATE_OPS``) filters rows EXACTLY (SQL
    three-valued semantics: a null comparison never matches) and, on
    the ranged path, additionally skips row groups whose footer
    statistics refute it — those groups' chunk bytes are never
    fetched, the native reader's row-group predicate pruning. A
    predicate column absent from an evolved file null-fills, so no
    row of that file matches."""
    known = {f.name for f in schema.fields}
    if predicate is not None:
        from dataflowtemplates_spark.operators.rangedparquet import (
            PREDICATE_OPS,
        )
        for name, op, _ in predicate:
            if name not in known:
                raise ValueError(f"unknown predicate column {name!r}")
            if op not in PREDICATE_OPS:
                raise ValueError(f"unsupported predicate op {op!r}; "
                                 f"have {PREDICATE_OPS}")
    out_names = list(columns) if columns is not None else None
    if columns is not None:
        bad = [c for c in columns if c not in known]
        if bad:
            raise ValueError(f"unknown columns {bad}; "
                             f"have {sorted(known)}")
        if predicate is not None:
            # the residual filter evaluates executor-side on the
            # fetched table: predicate columns ride the fetch and are
            # dropped again after filtering
            columns = columns + [
                n for n in dict.fromkeys(n for n, _, _ in predicate)
                if n not in columns]
        schema = T.StructType([schema[c] for c in columns])
    if hasattr(backend, "_list") and hasattr(backend, "_split"):
        sized = _list_leaf_files(leaf_dirs, backend, spark)
    else:  # minimal-contract backend: per-leaf recursive listing,
        #    no sizes — packing assumes target-sized objects
        sized = [(f, None) for d in leaf_dirs
                 for f in backend.list_files(d, suffix=".parquet")]
    final_schema = (T.StructType([schema[c] for c in out_names])
                    if out_names is not None else schema)
    if not sized:
        return spark.createDataFrame([], final_schema)
    arrow_schema = _arrow_schema(schema)
    ranged = (columns is not None and hasattr(backend, "read_tail")
              and hasattr(backend, "read_range"))
    names = list(schema.names)
    final_names = list(final_schema.names)

    def task(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if ranged:
            from dataflowtemplates_spark.operators import rangedparquet

        cmp_fn = {"==": pc.equal, "<=": pc.less_equal,
                  ">=": pc.greater_equal, "<": pc.less,
                  ">": pc.greater}
        for batch in batches:
            flat = (p for bin_paths in batch.column("paths").to_pylist()
                    for p in bin_paths)
            for path in flat:
                if ranged:
                    tbl = rangedparquet.fetch_table(
                        backend, path, names, predicate=predicate)
                else:
                    raw = backend.read_bytes(path)
                    tbl = pq.read_table(pa.BufferReader(raw))
                cols = []
                for field in arrow_schema:
                    if field.name in tbl.column_names:
                        cols.append(tbl.column(field.name)
                                    .cast(field.type))
                    else:
                        cols.append(pa.nulls(tbl.num_rows, field.type))
                out = pa.table(dict(zip(arrow_schema.names, cols)),
                               schema=arrow_schema)
                if predicate:
                    # the EXACT residual filter: statistics pruned
                    # groups, not rows (and the non-ranged path never
                    # pruned at all) — three-valued null semantics
                    mask = None
                    for pname, op, val in predicate:
                        c = cmp_fn[op](out.column(pname),
                                       pa.scalar(val))
                        mask = (c if mask is None
                                else pc.and_kleene(mask, c))
                    out = out.filter(
                        pc.fill_null(mask, False))
                if final_names != list(out.column_names):
                    out = out.select(final_names)
                yield from out.to_batches()

    # bins of ~_PACK_TARGET_BYTES per task (floored at the cluster's
    # parallelism): one tiny object per task would pay the per-task
    # constant (see _PACK_TARGET_BYTES) per object; large objects
    # still get a task each, matching the native source's split
    # granularity
    bins = _pack_files(sized, _PACK_TARGET_BYTES,
                       spark.sparkContext.defaultParallelism)
    paths = spark.createDataFrame([(b,) for b in bins],
                                  "paths array<string>")
    return paths.repartition(len(bins)).mapInArrow(task, final_schema)
