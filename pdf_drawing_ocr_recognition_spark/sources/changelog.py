"""Row-level changelog over the snapshot table — T210, Iceberg's
``create_changelog_view``: the inserts and deletes between two snapshots
as a DataFrame, derived from MANIFEST METADATA (which files were added /
removed / newly masked per commit), never by diffing unrelated data.

Change derivation per commit kind (the made-current order — every commit
became current the moment it landed, so a rollback's reversal shows up as
changes, consistent with ``snapshot_as_of``):

* ``append`` — rows of the added files → ``insert``;
* ``delete`` (position) — each new ``del-*.parquet`` holds exactly the
  NEWLY dead positions (:func:`~.snapshots.delete_from` subtracts prior
  masks at write time), so the deleted rows are read surgically from the
  affected files → ``delete``;
* ``eq-delete`` — the rows visible at the parent snapshot matching the
  new entry's keys (null-safe semi-join, broadcast) → ``delete``;
* ``upsert`` — the eq-delete part (old versions) → ``delete``, plus the
  batch's files → ``insert``;
* ``replace`` / ``compute-stats`` / ``alter-schema`` — NOTHING: these are
  row-preserving by construction in this table format (compaction,
  stats, metadata-only schema changes; pytest-pinned), so "no changes" is
  exact and free — stronger than Iceberg's hash-based carry-over removal;
* ``overwrite`` / ``merge`` / ``rollback`` (anything that rewrites) —
  removed files' visible rows → ``delete``, added files' rows →
  ``insert``, then NETTED (``exceptAll`` both ways) so rows a rewrite
  carried unchanged cancel — Iceberg's net-changes mode, with cost
  bounded by the rewritten slice, never the table.

Every row is projected onto the END snapshot's logical schema by field id
(rename/widen/add resolve exactly as reads do), with ``_change_type``
(``insert`` | ``delete``) and ``_commit_snapshot_id`` appended.  Like
Iceberg without identifier fields, an update surfaces as a delete +
insert pair under the same commit id.

At 10¹²-doc scale the derivation reads only changed files: an append
reads its appended files, a delete reads the masked files' newly-dead
positions, an equality delete reads the parent's visible rows once
(bounded by the entry's file scope), a compaction reads nothing.

Reference analogue: none (single-file reference) — this rounds out the
lakehouse surface the north rule's Iceberg framing implies.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .snapshots import (
    _apply_eq_deletes,
    _data_dir,
    _deleted_positions,
    _eq_entry_keys,
    _file_projection,
    _read_file_set,
    _schema_meta,
    current_snapshot_id,
    read_files_projected,
    read_manifest,
)

# row-preserving by construction: compaction/mask-rewrite ("replace"),
# stats commits, metadata-only schema changes — zero row changes, exactly
_ROW_PRESERVING = ("replace", "compute-stats", "alter-schema")


def _with_to_schema(man: dict, man_to: dict) -> dict:
    """*man* with the END snapshot's logical schema grafted in (the schema
    LOG is append-only and field ids are permanent, so man_to's log covers
    every file's physical schema id; man's own file_schemas entries are
    kept for files man_to no longer lists)."""
    out = dict(man)
    out["schema"] = man_to["schema"]
    if "schemas" in man_to:
        out["schemas"] = man_to["schemas"]
        out["current_schema_id"] = man_to["current_schema_id"]
        out["last_field_id"] = man_to["last_field_id"]
        out["file_schemas"] = {
            **man_to.get("file_schemas", {}),
            **man.get("file_schemas", {}),
        }
    return out


def _read_newly_dead(
    spark: SparkSession,
    root: str,
    man: dict,
    new_dels: dict[str, list[str]],
) -> DataFrame:
    """The rows at the positions recorded by *new_dels* (file → the delete
    files a ``delete`` commit just added) — the inverse of the merge-read:
    KEEP exactly the newly-masked positions.  One executor task per
    affected file; driver traffic is file names."""
    from pyspark.sql import functions as F  # noqa: F401 (parity w/ sibling)

    schema = StructType.fromJson(man["schema"])
    data_dir = _data_dir(root)
    names = [f.name for f in schema.fields]
    tasks = [
        (
            f,
            json.dumps(dels),
            json.dumps(_file_projection(man, f)),
        )
        for f, dels in sorted(new_dels.items())
    ]
    n_parts = max(1, min(len(tasks), spark.sparkContext.defaultParallelism))
    plan = spark.createDataFrame(
        tasks, "file string, dels string, proj string"
    ).repartition(n_parts, "file")

    def scan(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        for pdf in batches:
            for fname, dels_json, proj_json in zip(
                pdf["file"], pdf["dels"], pdf["proj"]
            ):
                proj = json.loads(proj_json)
                phys = [pn for pn, _ln in proj if pn is not None]
                tab = pq.read_table(
                    os.path.join(data_dir, fname), columns=phys
                )
                dead = _deleted_positions(data_dir, json.loads(dels_json))
                keep = np.zeros(tab.num_rows, dtype=bool)
                keep[dead[dead < tab.num_rows]] = True
                tab = tab.filter(pa.array(keep))
                raw = tab.to_pandas()
                out = pd.DataFrame(index=raw.index)
                for pn, ln in proj:
                    out[ln] = raw[pn] if pn is not None else None
                yield out

    return plan.mapInPandas(scan, schema=schema)


def _eq_deleted_rows(
    spark: SparkSession,
    root: str,
    prev_synth: dict,
    entries: list[dict],
) -> DataFrame | None:
    """Rows visible at the parent snapshot that *entries* (all new in this
    commit) delete: the parent's visible read, null-safe semi-joined with
    the entries' keys.  Scope is all parent files (every one was written
    before the entry — strict ``seq <`` holds trivially)."""
    from pyspark.sql import functions as F

    if not prev_synth.get("files"):
        return None
    df = _read_file_set(spark, root, prev_synth, prev_synth["files"])
    schemas, cur_sid, _fs, _last = _schema_meta(prev_synth)
    by_id = {f["id"]: f for f in schemas[cur_sid]}
    parts = []
    for e in entries:
        keys = _eq_entry_keys(spark, root, prev_synth, [e])
        names = [
            by_id[fid]["name"]
            for fid in sorted(int(i) for i in e["field_ids"])
        ]
        k = keys.select(
            *[F.col(n).alias(f"__eqk_{i}") for i, n in enumerate(names)]
        )
        cond = None
        for i, n in enumerate(names):
            c = F.col(n).eqNullSafe(F.col(f"__eqk_{i}"))
            cond = c if cond is None else (cond & c)
        parts.append(df.join(F.broadcast(k), cond, "left_semi"))
    out = parts[0]
    for p in parts[1:]:
        # a row matching several entries is still ONE deletion
        out = out.unionByName(p)
    return out.distinct() if len(parts) > 1 else out


def read_changelog(
    spark: SparkSession, root: str, from_id: int, to_id: int | None = None
) -> DataFrame:
    """The row-level changes between snapshot *from_id* (exclusive) and
    *to_id* (inclusive; default current) — see the module docstring for
    per-commit derivation.  ``from_id=0`` means "since table creation".
    Raises if the range crosses an expired snapshot (changelogs only reach
    retained history, as Iceberg)."""
    from pyspark.sql import functions as F

    if to_id is None:
        to_id = current_snapshot_id(root)
        if to_id is None:
            raise ValueError(f"table at {root} has no committed snapshot")
    if not 0 <= from_id < to_id:
        raise ValueError(f"need 0 <= from_id < to_id, got {from_id}, {to_id}")
    try:
        man_to = read_manifest(root, to_id)
    except FileNotFoundError:
        raise ValueError(f"snapshot {to_id} does not exist in {root}")

    def tag(df: DataFrame, kind: str, sid: int) -> DataFrame:
        return df.select(
            "*",
            F.lit(kind).alias("_change_type"),
            F.lit(sid).cast("long").alias("_commit_snapshot_id"),
        )

    parts: list[DataFrame] = []
    prev: dict | None = None
    for sid in range(from_id + 1, to_id + 1):
        try:
            man = read_manifest(root, sid)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot {sid} is expired — the changelog range "
                f"({from_id}, {to_id}] only reaches retained history"
            )
        if prev is None and sid > 1:
            prev = read_manifest(root, sid - 1)
        cur_synth = _with_to_schema(man, man_to)
        prev_synth = _with_to_schema(prev, man_to) if prev else {
            "files": [], "schema": man_to["schema"],
        }
        op = man["operation"]
        prev_files = set(prev_synth.get("files", ()))
        added = [f for f in man["files"] if f not in prev_files]
        removed = [
            f for f in prev_synth.get("files", ()) if f not in set(man["files"])
        ]
        if op in _ROW_PRESERVING:
            pass
        elif op == "append":
            if added:
                parts.append(
                    tag(
                        read_files_projected(spark, root, cur_synth, added),
                        "insert", sid,
                    )
                )
        elif op == "delete":
            # the delete files THIS commit added hold exactly the newly
            # dead positions; exclude rows an older eq entry already hid
            pdels = (prev or {}).get("delete_files", {})
            new_dels = {
                f: [d for d in ds if d not in set(pdels.get(f, ()))]
                for f, ds in man.get("delete_files", {}).items()
            }
            new_dels = {f: ds for f, ds in new_dels.items() if ds}
            if new_dels:
                eq_prev = (prev or {}).get("eq_deletes", [])
                seqs_prev = (prev or {}).get("seqs", {})
                # group masked files by the parent entries in scope for
                # them (same seq-strict grouping as the reader), so an
                # already-eq-hidden row is not re-reported while a row in
                # a file NEWER than an entry is never wrongly excluded
                groups: dict[tuple, dict[str, list[str]]] = {}
                for f, ds in new_dels.items():
                    key = tuple(
                        i for i, e in enumerate(eq_prev)
                        if int(seqs_prev.get(f, 0)) < int(e["seq"])
                    )
                    groups.setdefault(key, {})[f] = ds
                for key in sorted(groups):
                    dead = _read_newly_dead(
                        spark, root, cur_synth, groups[key]
                    )
                    if key:
                        dead = _apply_eq_deletes(
                            spark, root, prev_synth, dead,
                            [eq_prev[i] for i in key],
                        )
                    parts.append(tag(dead, "delete", sid))
        elif op in ("eq-delete", "upsert"):
            new_entries = [
                e for e in man.get("eq_deletes", []) if int(e["seq"]) == sid
            ]
            if new_entries:
                gone = _eq_deleted_rows(spark, root, prev_synth, new_entries)
                if gone is not None:
                    parts.append(tag(gone, "delete", sid))
            if added:
                parts.append(
                    tag(
                        read_files_projected(spark, root, cur_synth, added),
                        "insert", sid,
                    )
                )
        else:
            # overwrite / merge / rollback — rewritten slice, netted
            ins = (
                read_files_projected(spark, root, cur_synth, added)
                if added else None
            )
            dels = (
                _read_file_set(spark, root, prev_synth, removed)
                if removed else None
            )
            if ins is not None and dels is not None:
                parts.append(tag(ins.exceptAll(dels), "insert", sid))
                parts.append(tag(dels.exceptAll(ins), "delete", sid))
            elif ins is not None:
                parts.append(tag(ins, "insert", sid))
            elif dels is not None:
                parts.append(tag(dels, "delete", sid))
        prev = man
    if not parts:
        out_schema = StructType.fromJson(man_to["schema"])
        from pyspark.sql.types import LongType, StringType

        out_schema = out_schema.add("_change_type", StringType()).add(
            "_commit_snapshot_id", LongType()
        )
        return spark.createDataFrame([], out_schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
