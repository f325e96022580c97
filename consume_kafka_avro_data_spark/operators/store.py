"""ManifestTable — one parquet table under the manifest-commit protocol.

Generalized from the graph sink (operators/graph.GraphStore, the
engine's stand-in for the reference's Postgres tables,
``src/Database.cpp:26-78``) so any keyed, append-only, idempotent store
— graph vertices/edges, the streaming dedup signature store — shares
one implementation.

**Protocol** (mini transaction log): readers only see files listed in
the table's ``_manifest.json``; writers stage new parquet files into
the table directory first and then publish them with a single atomic
rename of the manifest.  A crash mid-write therefore leaves invisible
orphan files, never partial state — the batch-level analogue of the
reference's per-row transactions, and the same commit-by-metadata-swap
idea Delta/Iceberg use at 100 TB (there the manifest write is a
conditional object-store PUT; locally it is an atomic rename).  Single
writer per table, matching the reference's single consumer thread.

**Filesystems**: data goes through Spark (any cluster filesystem);
manifest IO goes through :mod:`consume_kafka_avro_data_spark.fsio` —
POSIX for schemeless local paths, the Hadoop FileSystem API for
``file://``/``hdfs://``/any configured scheme, a clear error for
unconfigured ones.  The commit rename is atomic on local FS and HDFS;
see fsio's module docstring for the S3 caveat.

**Snapshots / time travel**: every publish also records itself as
``_manifest.v{N}.json``, and ``read(version=k)`` reconstructs the
table exactly as of commit k — free, because merges only ADD files, so
an old manifest's file list stays valid on disk.  ``compact()``
rewrites the data and prunes the history (old snapshots' files are
gone — the same trade Delta's VACUUM makes).  This is what debugging a
100 TB ingest actually needs: "what did the signature store look like
before batch 17" is a metadata read, not a restore.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from consume_kafka_avro_data_spark.fsio import fs_for


class ManifestTable:
    """Parquet table with manifest commits and idempotent keyed merge."""

    MANIFEST = "_manifest.json"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: StructType,
        keys: list[str],
    ):
        self.spark = spark
        self.path = path
        self.schema = schema
        self.keys = list(keys)
        self._io = fs_for(spark, path)

    # -- manifest ------------------------------------------------------------

    def _manifest_doc(self, version: int | None = None) -> dict:
        mf = os.path.join(self.path, self.MANIFEST)
        if not self._io.is_file(mf):
            current = {"files": [], "version": 0}
        else:
            current = json.loads(self._io.read_bytes(mf))
            current.setdefault("version", 0)  # pre-versioning manifests
        if version is None or version == current["version"]:
            # the POINTER is authoritative for the current version: its
            # snapshot file may not exist yet (crash between the pointer
            # swap and the snapshot rename) and must not shadow it
            return current
        vf = os.path.join(self.path, f"_manifest.v{version}.json")
        if not self._io.is_file(vf):
            raise FileNotFoundError(
                f"version {version} of {self.path} is not available "
                "(never existed, or its history was pruned by compact())"
            )
        doc = json.loads(self._io.read_bytes(vf))
        doc.setdefault("version", version)
        return doc

    def files(self, version: int | None = None) -> list[str]:
        return list(self._manifest_doc(version)["files"])

    def version(self) -> int:
        """The current committed snapshot version (0 = empty table)."""
        return int(self._manifest_doc()["version"])

    def versions(self) -> list[int]:
        """Snapshot versions still readable (compact() prunes history —
        it deletes the data files old snapshots reference, the same
        reason Delta's VACUUM truncates time travel).  The current
        pointer's version is always included even if its snapshot file
        is missing (crash window between pointer swap and snapshot
        rename) — the pointer itself serves it."""
        import re

        out = set()
        for name in self._io.list_names(self.path):
            m = re.fullmatch(r"_manifest\.v(\d+)\.json", name)
            if m:
                out.add(int(m.group(1)))
        cur = self.version()
        if cur:
            out.add(cur)
        return sorted(out)

    def publish(self, files: list[str]) -> None:
        """Commit a new snapshot: atomically replace the current
        pointer (the single commit point), then record the snapshot as
        ``_manifest.v{N}.json`` (the time-travel entry).  See the
        in-body comment for why the pointer goes first."""
        self._io.mkdirs(self.path)
        current = self._manifest_doc()
        # BACKFILL: a crash in a PREVIOUS publish's window (pointer
        # swapped, snapshot rename never ran) left the then-current
        # version without its _manifest.v{N}.json; the pointer served
        # it until now, but advancing the pointer would lose that
        # committed version from time travel permanently.  Re-derive
        # the snapshot file from the pointer before moving on.
        cur_v = int(current["version"])
        if cur_v:
            cur_vf = os.path.join(self.path, f"_manifest.v{cur_v}.json")
            if not self._io.is_file(cur_vf):
                tmp_bf = cur_vf + ".tmp"
                self._io.write_bytes(tmp_bf, json.dumps(current).encode())
                self._io.rename_overwrite(tmp_bf, cur_vf)
        doc = {"files": sorted(files), "version": cur_v + 1}
        payload = json.dumps(doc).encode()
        tmp = os.path.join(self.path, self.MANIFEST + ".tmp")
        # POINTER FIRST, snapshot second — both via write-temp + rename.
        # Pointer-first means a crash between the two renames leaves a
        # committed current version whose snapshot file is missing
        # (served by the pointer via _manifest_doc's fallback, and
        # backfilled by the NEXT publish above) rather than a snapshot
        # file advertising an UNCOMMITTED version whose identity a
        # post-restart retry would silently overwrite.
        self._io.write_bytes(tmp, payload)
        self._io.write_bytes(tmp + ".v", payload)
        self._io.rename_overwrite(tmp, os.path.join(self.path, self.MANIFEST))
        vf = os.path.join(self.path, f"_manifest.v{doc['version']}.json")
        self._io.rename_overwrite(tmp + ".v", vf)

    def stage(self, df: DataFrame) -> list[str]:
        """Write df's parquet files into the table dir WITHOUT
        publishing them; returns the new (unique, uuid-named) files."""
        stage = os.path.join(self.path, "_stage")
        df.write.mode("overwrite").parquet(stage)
        self._io.mkdirs(self.path)
        moved = []
        for name in self._io.list_names(stage):
            if name.endswith(".parquet"):
                self._io.rename(
                    os.path.join(stage, name), os.path.join(self.path, name)
                )
                moved.append(name)
        self._io.delete(stage, recursive=True)
        return moved

    # -- reads ---------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """The table at a committed snapshot (``version=None`` →
        current).  Old snapshots stay readable because merges only ADD
        files — until compact() rewrites the data and prunes history."""
        files = self.files(version)
        if not files:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(
            *[os.path.join(self.path, f) for f in files]
        )

    def lookup(self, value, *columns: str) -> list[dict]:
        """``columns`` of the current snapshot's rows whose leading key
        equals ``value`` (SQL ``=``: a ``None`` value matches nothing),
        read on the driver with no Spark job — the reference's indexed
        point SELECT (``Database.cpp:26-39``).

        Each file's footer is read through ``fsio.open_read``; a row
        group is read only if its min/max statistics for the key can
        hold ``value``, and then only the key and ``columns``, filtered
        exactly.  On a compacted table (key-range-partitioned files)
        that is one file; on an uncompacted one, every file whose key
        range spans ``value`` (see SCALING.md)."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if value is None:
            return []
        key = self.keys[0]
        out: list[dict] = []
        for name in self.files():
            with self._io.open_read(os.path.join(self.path, name)) as f:
                pf = pq.ParquetFile(f)
                meta = pf.metadata
                col = [
                    meta.schema.column(i).path for i in range(meta.num_columns)
                ].index(key)
                groups = [
                    g
                    for g in range(pf.num_row_groups)
                    if _may_hold(meta.row_group(g).column(col).statistics, value)
                ]
                if groups:
                    want = list(dict.fromkeys((key, *columns)))
                    t = pf.read_row_groups(groups, columns=want)
                    t = t.filter(pc.equal(t[key], value)).select(list(columns))
                    out.extend(t.to_pylist())
        return out

    # -- idempotent writes ---------------------------------------------------

    def merge_new(self, batch: DataFrame) -> int:
        """ON CONFLICT DO NOTHING, set-oriented: append only key-new rows.

        Returns the number of rows appended (the reference's boolean
        per-row insert result, aggregated).
        """
        existing = self.read().select(*self.keys)
        # NULL-SAFE anti-join: plain `on=keys` compiles to EqualTo, under
        # which NULL never equals NULL — a NULL-keyed row (a decoded
        # record with a NULL subject/object survives PERMISSIVE mode)
        # would re-append on EVERY replay, breaking the idempotence
        # invariant that dropDuplicates (which treats NULLs as equal)
        # appears to promise.  eqNullSafe matches Postgres' NULLS NOT
        # DISTINCT semantics for the dedup key.
        deduped = batch.dropDuplicates(self.keys).alias("b")
        ex = existing.alias("e")
        cond = None
        for k in self.keys:
            c = F.col(f"b.{k}").eqNullSafe(F.col(f"e.{k}"))
            cond = c if cond is None else cond & c
        new_rows = deduped.join(ex, on=cond, how="left_anti")
        # ONE Spark job: write the delta, then take its row count from
        # the staged parquet FOOTERS (driver-side metadata, file-count-
        # sized) instead of a separate cache+count action.  Streaming
        # hot loops call this per micro-batch, so a count-then-write
        # shape would cost an extra job per call — pure scheduler
        # overhead at any scale.
        staged = self.stage(
            new_rows.select(*[f.name for f in self.schema.fields])
        )
        n = sum(
            self._io.parquet_num_rows(os.path.join(self.path, f))
            for f in staged
        )
        if n:
            self.publish(self.files() + staged)
        else:
            for name in staged:  # empty delta: GC the zero-row files
                self._io.delete(os.path.join(self.path, name))
        return n

    # -- maintenance ---------------------------------------------------------

    def compact(self, target_rows_per_file: int = 4_000_000) -> int:
        """Rewrite the table into ~evenly sized files; returns the file
        count after (0 for an empty table, which is left untouched).

        Append-per-micro-batch writers grow file counts linearly — the
        classic small-file problem that degrades 100 TB scans (footer/
        open overhead per file, under-filled scan partitions).  Read,
        range-partition by the keys to a size target, atomically swap
        via the manifest publish, then GC the superseded files — readers
        never observe a mixed state.  The files then cover disjoint key
        ranges, so :meth:`lookup` prunes to one file by footer statistics.
        """
        old_files = self.files()
        if not old_files:
            # still sweep crash orphans: a merge_new that staged files
            # and died before its first publish leaves unreferenced
            # parquet in an officially-empty table
            self._gc_orphans(keep=set())
            return 0
        df = self.read()
        # size from parquet FOOTERS, not a df.count() job: the count
        # would scan every file this compaction exists to clean up,
        # doubling its cost for a number the metadata already holds
        n_rows = sum(
            self._io.parquet_num_rows(os.path.join(self.path, f))
            for f in old_files
        )
        n_files = max(1, -(-n_rows // target_rows_per_file))  # ceil
        staged = self.stage(df.repartitionByRange(n_files, *self.keys))
        self.publish(staged)
        # prune time-travel history: the data files every older snapshot
        # references are deleted just below, so keeping their manifests
        # would advertise unreadable versions (Delta's VACUUM makes the
        # same trade)
        current = self.version()
        for v in self.versions():
            if v < current:
                self._io.delete(
                    os.path.join(self.path, f"_manifest.v{v}.json")
                )
        # GC only after the commit point: the superseded files AND any
        # crash orphans (staged by a merge_new that died before its
        # publish — the replayed batch re-stages fresh uuid-named files,
        # so without this sweep every crash-retry leaks a batch of
        # invisible parquet forever; AnnIndex sweeps the same way)
        self._gc_orphans(keep=set(staged))
        return len(staged)

    def _gc_orphans(self, keep: set[str]) -> None:
        """Delete every parquet file in the table dir that no surviving
        manifest references.  Only called from compact(), AFTER history
        is pruned to the current snapshot — so ``keep`` is exactly the
        current file list, and everything else is superseded data or a
        stage()-then-crash leftover.  Safe under the single-writer
        contract: no other stage() can be in flight."""
        for name in self._io.list_names(self.path):
            if name.endswith(".parquet") and name not in keep:
                self._io.delete(os.path.join(self.path, name))


def _may_hold(stats, value) -> bool:
    """Whether a row group whose column statistics are ``stats`` can
    hold ``value`` (no statistics: it can).  Parquet orders strings by
    unsigned UTF-8 bytes, which is Python's code-point order."""
    if stats is None or not stats.has_min_max:
        return True
    return stats.min <= value <= stats.max
