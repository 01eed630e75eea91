"""Spark-native Python DataSource (V2) for the snapshot tables — T211.

The lakehouse layer (sources/snapshots.py) becomes a first-class Spark
format, so a user writes plain DataFrame code against it:

    spark.dataSource.register(SnapshotDataSource)
    df = spark.read.format("pdor_snapshot").load(root)          # current
    df = (spark.read.format("pdor_snapshot")
          .option("version", 3).load(root))                     # VERSION AS OF
    df.write.format("pdor_snapshot").mode("append").save(root)  # distributed
    s = spark.readStream.format("pdor_snapshot").load(root)     # tail appends

and Catalyst drives OUR planner through the engine's own hooks instead
of a side API:

- **Filter pushdown** (``pushFilters``, Spark 4.1's Python-source filter
  API, gated on ``spark.sql.python.filterPushdown.enabled``): supported
  conjuncts (== / > / >= / < / <= along a single column) feed
  :func:`plan_scan` — manifest min/max bounds, hidden-partition tuples
  and per-file bloom sidecars prune data files at PLAN time, from
  manifest JSON alone.  Pruning stays provable-only: every filter is
  returned to Spark as "not fully pushed", so Spark re-applies the
  predicate row-wise and pruning can change cost, never values (the
  :func:`read_snapshot` contract, now enforced by the engine boundary).
- **One InputPartition per data file** — the Iceberg task model.  Each
  task is self-described (file name, field-id projection, delete masks,
  applicable equality-delete entries), so executors never read the
  manifest; the driver ships O(files) small tuples, not O(manifest).
- **Arrow batches end-to-end**: tasks yield ``pyarrow.RecordBatch``
  directly (never per-row Python objects), projected by FIELD ID onto
  the snapshot's logical schema with widening casts — rename / widen /
  add / drop resolve identically to :func:`read_snapshot`.  Position
  deletes mask row indexes; equality deletes apply per the strict
  ``seq <`` scoping rule, null-safe, against the (small by contract)
  entry key sets.
- **Distributed write**: each task stages one parquet file
  (``DataSourceArrowWriter`` — Arrow batches in, never rows), and the
  driver's ``commit`` registers the staged files through
  :func:`commit_staged_files` — footer harvest + manifest commit, the
  exact append/overwrite semantics of :func:`append_snapshot` /
  :func:`overwrite_snapshot` but with the data written ONCE by
  executors (no driver collect, no second job).  Tasks stage
  dot-prefixed files in the data dir; only files named in commit
  messages are registered, and crash/retry debris is reclaimed by the
  table's own ``remove_orphan_files`` lifecycle (the Iceberg model).
- **Streaming source**: offsets are snapshot ids (monotonic by
  construction), ``partitions(start, end)`` plans the files each append
  commit added by walking the lineage (the incremental-append contract
  of :func:`read_appends_between`: non-append commits in range raise,
  or are skipped with ``skipNonAppends`` — upstream's skip-overwrite
  semantics), and rows project onto the schema the stream STARTED with
  (Spark pins a streaming query's schema; a restart picks up evolution).
- **Streaming sink**: ``commit(messages, batchId)`` lands each
  micro-batch as one append snapshot whose manifest summary carries
  ``(stream_id, batch_id)`` — the same in-manifest exactly-once replay
  guard as streaming/snapshot_sink.py (T193), now behind
  ``df.writeStream.format("pdor_snapshot")``.

Scale notes: plan-time work is one manifest JSON read (the 10⁶-file
property); per-task work is one parquet file + its masks/entries; the
only driver⇄executor traffic is task descriptors and commit messages
(file names).  This is the same plan :func:`read_snapshot` builds, but
produced through Spark's own source API so filters arrive from Catalyst
instead of a parallel argument list.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

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
from pyspark.sql.types import StructType

from .snapshots import (
    _data_dir,
    _file_projection,
    _schema_meta,
    _struct_of,
    commit_staged_files,
    current_snapshot_id,
    plan_scan,
    read_manifest,
    resolve_ref,
    snapshot_as_of,
)

_FILTER_OPS = {
    EqualTo: "==",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


def _resolve_sid(options) -> tuple[str, int]:
    """(root, snapshot_id) from reader options — at most one of
    version / ref / asOfTimestamp, exactly read_snapshot's contract.
    Resolution happens ONCE per load(): the returned DataFrame is pinned
    to one snapshot (snapshot isolation — concurrent commits never shear
    a running query)."""
    root = options.get("path")
    if not root:
        raise ValueError("pdor_snapshot needs a table path: .load(root)")
    picked = [
        k for k in ("version", "ref", "asoftimestamp") if options.get(k)
    ]
    if len(picked) > 1:
        raise ValueError(
            f"pass at most one of version/ref/asOfTimestamp, got {picked}"
        )
    if options.get("version") is not None:
        return root, int(options["version"])
    if options.get("ref"):
        return root, resolve_ref(root, options["ref"])
    if options.get("asoftimestamp") is not None:
        return root, snapshot_as_of(root, float(options["asoftimestamp"]))
    sid = current_snapshot_id(root)
    if sid is None:
        raise ValueError(f"table at {root} has no committed snapshot")
    return root, sid


def _arrow_schema(fields: list[dict]):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(_struct_of(fields))


def _norm_key(v):
    """Key-tuple element normalization: None stays None (to_pylist gives
    None for nulls on both sides, so tuple equality IS null-safe), and a
    float NaN maps to a sentinel — Spark's join semantics treat
    NaN == NaN as TRUE, while Python's nan != nan would silently diverge
    from the JVM eqNullSafe path read_snapshot takes."""
    if isinstance(v, float) and v != v:
        return "__nan__"
    return v


@dataclass
class _ScanTask(InputPartition):
    """One self-described scan task = one data file (the Iceberg model):
    field-id projection pairs, position-delete mask files, and the
    indexes of the equality-delete entries whose sequence outranks this
    file's.  Executors need nothing else — no manifest read per task."""

    fname: str
    proj: tuple  # ((physical_name | None, logical_name), ...)
    dels: tuple  # position-delete file names
    eq_key: tuple  # indexes into the reader's entry list


def _project_batches(tab, proj, arrow_schema):
    """Project one file's arrow table onto the logical schema: resolve by
    the precomputed (physical, logical) pairs, NULL-fill predating
    fields, cast widened types — then force the exact arrow schema Spark
    expects (names, order, types)."""
    import pyarrow as pa

    cols, names = [], []
    for (pn, ln), fld in zip(proj, arrow_schema):
        if pn is None:
            cols.append(pa.nulls(tab.num_rows, type=fld.type))
        else:
            cols.append(tab.column(pn).cast(fld.type))
        names.append(ln)
    return pa.table(dict(zip(names, cols))).cast(arrow_schema)


def _read_task_table(data_dir: str, task: _ScanTask, arrow_schema):
    """The executor scan core shared by the batch and streaming readers:
    read the file's physical columns, mask position-deleted rows, project
    by field id onto the logical arrow schema."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .snapshots import _deleted_positions

    phys = [pn for pn, _ln in task.proj if pn is not None]
    tab = pq.read_table(os.path.join(data_dir, task.fname), columns=phys)
    if task.dels:
        dead = _deleted_positions(data_dir, list(task.dels))
        if dead.size:
            keep = np.ones(tab.num_rows, dtype=bool)
            keep[dead[dead < tab.num_rows]] = False
            tab = tab.filter(pa.array(keep))
    return _project_batches(tab, task.proj, arrow_schema)


class SnapshotBatchReader(DataSourceReader):
    """Batch reader: plan-time pruning through plan_scan, one task per
    kept file, Arrow batches out."""

    def __init__(self, options):
        self.root, self.sid = _resolve_sid(options)
        man = read_manifest(self.root, self.sid)
        self.data_dir = _data_dir(self.root)
        schemas, cur_sid, _fs, _last = _schema_meta(man)
        self.cur_fields = schemas[cur_sid]
        self.arrow = _arrow_schema(self.cur_fields)
        # equality-delete entry descriptors, made executor-cheap: refs +
        # per-entry key column resolution to CURRENT logical names/types
        by_id = {f["id"]: f for f in self.cur_fields}
        self.eq_entries = []
        for e in man.get("eq_deletes", []):
            fids = sorted(int(i) for i in e["field_ids"])
            self.eq_entries.append(
                {
                    "refs": list(e["refs"]),
                    "phys": [e["cols"][str(fid)] for fid in fids],
                    "logical": [by_id[fid]["name"] for fid in fids],
                }
            )
        self.filters: list[tuple] = []

    def pushFilters(self, filters):
        """Collect prunable conjuncts for plan_scan; return EVERY filter
        as not-fully-pushed so Spark re-applies the predicate row-wise —
        pruning stays provable-only (cost changes, values never)."""
        for f in filters:
            op = _FILTER_OPS.get(type(f))
            if op is not None and len(f.attribute) == 1:
                self.filters.append((f.attribute[0], op, f.value))
            elif isinstance(f, In) and len(f.attribute) == 1:
                # IN-list pruning (the shape a runtime filter / DPP
                # rewrite produces): keep a file iff ANY value survives
                self.filters.append((f.attribute[0], "in", list(f.value)))
        return filters

    def partitions(self):
        man = read_manifest(self.root, self.sid)
        kept, _skipped = plan_scan(self.root, self.sid, self.filters or None)
        dels = man.get("delete_files", {})
        eq = man.get("eq_deletes", [])
        seqs = man.get("seqs", {})
        tasks = []
        for f in kept:
            key = tuple(
                i
                for i, e in enumerate(eq)
                if int(seqs.get(f, 0)) < int(e["seq"])
            )
            tasks.append(
                _ScanTask(
                    f,
                    tuple(_file_projection(man, f)),
                    tuple(dels.get(f, ())),
                    key,
                )
            )
        # a fully-pruned (or empty) scan still needs one no-op task:
        # Spark runs a single default partition when the list is empty
        return tasks or [_ScanTask("", (), (), ())]

    def _eq_key_set(self, idx: int):
        """Key-tuple set for entry *idx*, built once per executor process
        (entries are O(deleted keys) by the T208 contract — small)."""
        cache = self.__dict__.setdefault("_eq_cache", {})
        if idx not in cache:
            import pyarrow.parquet as pq

            e = self.eq_entries[idx]
            tuples: set[tuple] = set()
            for ref in e["refs"]:
                t = pq.read_table(
                    os.path.join(self.data_dir, ref), columns=e["phys"]
                )
                cols = [
                    [_norm_key(v) for v in t.column(c).to_pylist()]
                    for c in e["phys"]
                ]
                tuples.update(zip(*cols))
            cache[idx] = tuples
        return cache[idx]

    def read(self, partition: _ScanTask):
        if partition is None or not partition.fname:
            return
        tab = _read_task_table(self.data_dir, partition, self.arrow)
        if partition.eq_key:
            import pyarrow as pa

            keep = None
            for idx in partition.eq_key:
                e = self.eq_entries[idx]
                dead = self._eq_key_set(idx)
                # to_pylist() yields None for nulls on BOTH sides, so
                # tuple equality IS null-safe matching (IS NOT DISTINCT
                # FROM), as the Iceberg spec requires
                rows = zip(
                    *(
                        [_norm_key(v) for v in tab.column(c).to_pylist()]
                        for c in e["logical"]
                    )
                )
                mask = [t not in dead for t in rows]
                keep = mask if keep is None else [
                    a and b for a, b in zip(keep, mask)
                ]
            if keep is not None:
                tab = tab.filter(pa.array(keep, type=pa.bool_()))
        yield from tab.to_batches()


class SnapshotStreamReader(DataSourceStreamReader):
    """Tail-the-table streaming source: offsets are snapshot ids; each
    micro-batch reads exactly the files the commits in (start, end]
    added.  ``startingVersion`` = "earliest" (default: deliver every
    retained commit), "latest", or a snapshot id (deliver commits AFTER
    it).  Non-append commits in range raise unless ``skipNonAppends``
    (upstream's skip-overwrite/skip-delete opt-in).  Rows project onto
    the schema captured at stream start.

    ``maxCommitsPerTrigger`` caps each micro-batch to N source commits
    (admission control — backfilling a 10⁶-commit table in bounded
    batches instead of one giant first batch).  The cap applies relative
    to the highest offset this reader has seen planned or committed; on
    a restart the first batch replays whatever the checkpoint already
    planned (exactly Spark's contract) and the cap re-engages from the
    next trigger."""

    def __init__(self, options):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("pdor_snapshot needs a table path: .load(root)")
        self.data_dir = _data_dir(self.root)
        self.skip_non_appends = (
            str(options.get("skipnonappends", "false")).lower() == "true"
        )
        self.start_opt = str(options.get("startingversion", "earliest"))
        cap = options.get("maxcommitspertrigger")
        self.max_commits = int(cap) if cap is not None else None
        if self.max_commits is not None and self.max_commits < 1:
            raise ValueError("maxCommitsPerTrigger must be >= 1")
        # rate-cap floor: initialized HERE because the engine may latch
        # latestOffset before ever calling initialOffset (AvailableNow
        # does); planning/commit advance it monotonically
        if self.start_opt == "earliest":
            self._floor = 0
        elif self.start_opt == "latest":
            self._floor = current_snapshot_id(self.root) or 0
        else:
            self._floor = int(self.start_opt)
        cur = current_snapshot_id(self.root)
        man = read_manifest(self.root, cur) if cur else None
        if man is None:
            raise ValueError(
                f"table at {self.root} has no committed snapshot yet"
            )
        schemas, cur_sid, _fs, _last = _schema_meta(man)
        self.cur_fields = schemas[cur_sid]
        self.arrow = _arrow_schema(self.cur_fields)

    def initialOffset(self) -> dict:
        if self.start_opt == "earliest":
            off = 0
        elif self.start_opt == "latest":
            off = current_snapshot_id(self.root) or 0
        else:
            off = int(self.start_opt)
        return {"snapshot_id": off}

    def latestOffset(self) -> dict:
        cur = current_snapshot_id(self.root) or 0
        if self.max_commits is not None:
            cur = min(cur, self._floor + self.max_commits)
        return {"snapshot_id": cur}

    def commit(self, end: dict) -> None:
        # offsets live in the checkpoint; the table needs no ack — but
        # the rate cap advances from the committed watermark
        self._floor = max(self._floor or 0, int(end["snapshot_id"]))

    def partitions(self, start: dict, end: dict):
        s, e = int(start["snapshot_id"]), int(end["snapshot_id"])
        self._floor = max(self._floor or 0, s)
        tasks: list[_ScanTask] = []
        by_id_cur = {f["id"]: f["name"] for f in self.cur_fields}
        sid = e
        while sid > s:
            man = read_manifest(self.root, sid)
            op = man["operation"]
            parent = man["parent_id"] or 0
            if op in ("append",):
                pfiles = (
                    set(read_manifest(self.root, parent)["files"])
                    if parent
                    else set()
                )
                schemas, cur_sid, file_sids, _ = _schema_meta(man)
                for f in man["files"]:
                    if f in pfiles:
                        continue
                    file_fields = schemas[file_sids.get(f, cur_sid)]
                    phys_by_id = {x["id"]: x["name"] for x in file_fields}
                    proj = tuple(
                        (phys_by_id.get(lf["id"]), lf["name"])
                        for lf in self.cur_fields
                    )
                    # appended rows deliver AS WRITTEN (no later masks) —
                    # the incremental-append contract
                    tasks.append(_ScanTask(f, proj, (), ()))
            elif op in ("alter-schema", "compute-stats"):
                pass  # metadata-only: adds no rows, crossed silently
            elif not self.skip_non_appends:
                raise ValueError(
                    f"snapshot {sid} is '{op}' — streaming reads are "
                    f"defined across append commits only (set "
                    f"skipNonAppends=true for upstream's skip semantics)"
                )
            sid = parent
        tasks.reverse()  # oldest commit's files first
        return tasks or [_ScanTask("", (), (), ())]

    def read(self, partition: _ScanTask):
        if partition is None or not partition.fname:
            return iter(())
        tab = _read_task_table(self.data_dir, partition, self.arrow)
        return iter(tab.to_batches())


@dataclass
class _WriteResult(WriterCommitMessage):
    path: str | None


class _StagedWriterMixin:
    """Task half shared by the batch and streaming writers: each
    non-empty task stages ONE dot-prefixed parquet file directly in the
    table's data dir (same filesystem as the final name, so the commit's
    ``os.replace`` is atomic).  Only files named in commit messages are
    ever registered; a speculative / retried / crashed task's stray
    stage file is invisible to readers (reads go by manifest file lists,
    never directory listings) and is reclaimed by the table's own
    :func:`remove_orphan_files` lifecycle — the Iceberg debris model,
    with no shared staging-directory state between the writer instances
    Spark creates on the driver, the executors, and the commit runner
    (which are NOT the same object)."""

    def _write_staged(self, iterator):
        import pyarrow.parquet as pq

        data_dir = _data_dir(self.root)
        os.makedirs(data_dir, exist_ok=True)
        path = os.path.join(data_dir, f".dstmp-{uuid.uuid4().hex}.parquet")
        writer = None
        try:
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(path, batch.schema)
                writer.write_batch(batch)
        finally:
            if writer is not None:
                writer.close()
        return _WriteResult(path if writer is not None else None)

    def _drop_staged(self, messages):
        for m in messages or ():
            if m is not None and m.path:
                try:
                    os.remove(m.path)
                except OSError:
                    pass


class SnapshotDataWriter(DataSourceArrowWriter, _StagedWriterMixin):
    """``df.write.format("pdor_snapshot").mode("append"|"overwrite")`` —
    tasks stage in parallel, the driver commits ONE manifest."""

    def __init__(self, root: str, schema: StructType, overwrite: bool):
        self.root = root
        self.schema_json = schema.json()
        self.overwrite = overwrite

    def write(self, iterator):
        return self._write_staged(iterator)

    def commit(self, messages):
        paths = [m.path for m in messages if m is not None and m.path]
        commit_staged_files(
            self.root,
            paths,
            StructType.fromJson(json.loads(self.schema_json)),
            operation="overwrite" if self.overwrite else "append",
        )

    def abort(self, messages):
        self._drop_staged(messages)


class SnapshotStreamWriter(DataSourceStreamArrowWriter, _StagedWriterMixin):
    """``df.writeStream.format("pdor_snapshot")`` — one append snapshot
    per micro-batch, exactly once per (stream_id, batch_id) via the
    in-manifest replay guard (T193's contract): the guard commits
    atomically WITH the data, so a crash between table commit and
    checkpoint commit replays the batch and the guard skips it."""

    def __init__(self, root: str, schema: StructType, options):
        self.root = root
        self.schema_json = schema.json()
        self.stream_id = options.get("streamid", "default")

    def write(self, iterator):
        return self._write_staged(iterator)

    def commit(self, messages, batchId: int):
        from ..streaming.snapshot_sink import committed_batch_ids

        paths = [m.path for m in messages if m is not None and m.path]
        if int(batchId) in committed_batch_ids(self.root, self.stream_id):
            # replay after a crash between table commit and checkpoint
            # commit: the batch already landed — drop the re-staged files
            self._drop_staged(messages)
            return
        commit_staged_files(
            self.root,
            paths,
            StructType.fromJson(json.loads(self.schema_json)),
            operation="append",
            properties={
                "streaming_batch_id": int(batchId),
                "stream_id": self.stream_id,
            },
        )

    def abort(self, messages, batchId: int):
        self._drop_staged(messages)


class SnapshotDataSource(DataSource):
    """The snapshot lakehouse as a registered Spark format."""

    @classmethod
    def name(cls) -> str:
        return "pdor_snapshot"

    def schema(self):
        root, sid = _resolve_sid(self.options)
        man = read_manifest(root, sid)
        schemas, cur_sid, _fs, _last = _schema_meta(man)
        return _struct_of(schemas[cur_sid])

    def reader(self, schema: StructType):
        return SnapshotBatchReader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        root = self.options.get("path")
        if not root:
            raise ValueError("pdor_snapshot needs a table path: .save(root)")
        return SnapshotDataWriter(root, schema, overwrite)

    def streamReader(self, schema: StructType):
        return SnapshotStreamReader(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool):
        root = self.options.get("path")
        if not root:
            raise ValueError("pdor_snapshot needs a table path: .start(root)")
        return SnapshotStreamWriter(root, schema, self.options)


def register(spark) -> None:
    """Idempotently register the format with *spark*."""
    spark.dataSource.register(SnapshotDataSource)
