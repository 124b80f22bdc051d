"""Parquet-backed index catalog with atomic snapshot commits.

The reference gets segment atomicity from Lucene's commit protocol —
per-segment files with headers/footers/checksums created by the writer ctor
and sealed by ``finish()`` (``CuVS2510GPUVectorsWriter.java:121-155,514-529``,
SURVEY.md I4/I5). Spark-first equivalent: every table write lands in a new
snapshot directory and becomes visible only when ``manifest.json`` is
atomically replaced (``os.replace``) to point at it — an Iceberg-style
snapshot commit without needing the Iceberg runtime jars (not present in
this image; a real deployment would swap this class for
``spark.read.format("iceberg")`` with zero changes elsewhere).

The manifest also records per-stage checkpoints and per-partition lineage
(north rule: "resumable from checkpoint with per-partition lineage +
metrics").
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

MANIFEST = "manifest.json"

ROW_GROUP_BYTES = 4 * 1024 * 1024  # parquet row-group target of every write

# manifest format versioning (O12/I5: the reference checks codec
# header versions on open, CuVS2510GPUVectorsReader.checkVersion:589-601)
VERSION_START = 1
VERSION_CURRENT = 1

# DERIVED sidecar tables whose commits cannot change corpus/posting
# statistics: the positional sidecar is built FROM the committed docs,
# and the global dictionary is an aggregate OF the per-segment terms —
# whenever either could be stale, segdata/tombstones were rewritten too
# (and bump the version themselves). Excluding them from the statistics
# version keeps the query-side caches (corpus stats, term-df memo, norms
# broadcast, impact cache) valid across e.g. a build_positions commit —
# without this, every query after a positions build re-ran the full
# corpus-stats aggregate and per-term df lookups (2+ extra Spark jobs
# per query, measured at sf1.0).
STATS_SIDECAR_TABLES = frozenset({"positions", "terms_global"})


def stats_version(manifest: dict) -> float:
    """Monotone version of everything that can affect corpus/posting
    statistics: max committed_at over non-sidecar tables."""
    return max(
        (
            e.get("committed_at", 0)
            for t, e in manifest.get("tables", {}).items()
            if t not in STATS_SIDECAR_TABLES
        ),
        default=0,
    )


def _put_arrow(at: pa.Table, out: str, sort_by: list[str] | None) -> None:
    """Write ``at`` as the one parquet file of the new directory ``out``
    (replacing what a failed earlier attempt left there), sorted as Spark's
    ``sortWithinPartitions`` sorts (ascending, nulls first), in row groups
    of about ``ROW_GROUP_BYTES``."""
    if sort_by:
        at = at.sort_by([(c, "ascending") for c in sort_by], null_placement="at_start")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rows = max(1, ROW_GROUP_BYTES * at.num_rows // max(at.nbytes, 1))
    pq.write_table(at, os.path.join(out, "part-00000.parquet"), row_group_size=rows)


class IndexCatalog:
    """One index root directory holding versioned parquet tables + manifest."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # serializes manifest read-modify-write sections so INDEPENDENT
        # tables can be written from concurrent driver threads (guide
        # §2.6 overlap independent jobs — the ANN build/merge commit
        # several derived tables whose Spark jobs can run at once); the
        # parquet writes themselves run OUTSIDE the lock. Concurrent
        # writers of the SAME table remain unsupported.
        self._mlock = threading.RLock()

    # ------------------------------------------------------------- manifest
    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def read_manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"tables": {}, "stages": {}, "config": {}, "version": VERSION_CURRENT}
        with open(p) as f:
            m = json.load(f)
        v = m.get("version", 0)
        if not (VERSION_START <= v <= VERSION_CURRENT):
            raise ValueError(
                f"index manifest version {v} unsupported "
                f"(expected {VERSION_START}..{VERSION_CURRENT}): {p}"
            )
        return m

    COMMIT_RETENTION = 8  # commit points kept (IndexDeletionPolicy analogue)

    def _write_manifest(self, m: dict) -> None:
        # every manifest swap IS a commit point (Lucene: each IndexWriter
        # commit creates an IndexCommit); keep a numbered copy so readers
        # can be pinned to a past commit (reader_at)
        m["commit_n"] = int(m.get("commit_n", 0)) + 1
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        cdir = os.path.join(self.root, "_commits")
        os.makedirs(cdir, exist_ok=True)
        shutil.copyfile(tmp, os.path.join(cdir, f"manifest-{m['commit_n']:06d}.json"))
        os.replace(tmp, self._manifest_path())  # atomic snapshot swap
        for name in sorted(os.listdir(cdir))[: -self.COMMIT_RETENTION]:
            os.remove(os.path.join(cdir, name))

    # -------------------------------------------------------- commit points
    def commit_points(self) -> list[int]:
        """Retained commit ids, oldest first — the Lucene
        ``DirectoryReader.listCommits`` analogue."""
        cdir = os.path.join(self.root, "_commits")
        if not os.path.isdir(cdir):
            return []
        return sorted(
            int(n[len("manifest-"):-len(".json")])
            for n in os.listdir(cdir)
            if n.startswith("manifest-")
        )

    def reader_at(self, commit_n: int) -> "CommitPointReader":
        """Point-in-time READ-ONLY view of the index at a past commit
        (``DirectoryReader.open(IndexCommit)``): queries against it see the
        table set, appends, tombstones, and dropped-segment filters exactly
        as they were — later writes are invisible. Retention: the last
        ``COMMIT_RETENTION`` commits and each table's last 5 snapshots; a
        pinned reader whose data files were pruned raises
        FileNotFoundError (Lucene deletes unreferenced files the same
        way once no deletion policy retains their commit)."""
        p = os.path.join(self.root, "_commits", f"manifest-{commit_n:06d}.json")
        if not os.path.exists(p):
            raise FileNotFoundError(
                f"commit point {commit_n} not retained (have {self.commit_points()})"
            )
        with open(p) as f:
            return CommitPointReader(self.root, json.load(f))

    # --------------------------------------------------------------- tables
    def table_dir(self, table: str) -> str | None:
        """Resolve the current base snapshot directory of a table."""
        m = self.read_manifest()
        ent = m["tables"].get(table)
        if ent is None:
            return None
        return os.path.join(self.root, table, ent["snapshot"])

    def table_dirs(self, table: str) -> list[str]:
        """All live directories of a table: base snapshot + appended
        increments (streaming micro-batch segments land as appends)."""
        ent = self.read_manifest()["tables"].get(table)
        return [] if ent is None else self._entry_dirs(table, ent)

    def _entry_dirs(self, table: str, ent: dict) -> list[str]:
        return [os.path.join(self.root, table, s)
                for s in [ent["snapshot"], *ent.get("appends", [])]]

    def write(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        sort_within_partitions: list[str] | None = None,
        lineage: dict[str, Any] | None = None,
        extra_entry: dict | None = None,
    ) -> str:
        """Write ``df`` as a NEW snapshot of ``table`` and commit atomically."""

        def put(out: str) -> None:
            w = df
            if sort_within_partitions:
                w = w.sortWithinPartitions(*sort_within_partitions)
            writer = w.write.mode("overwrite")
            # small row groups: with sorted-within-partition data, parquet
            # row-group min/max stats become an effective skip index for
            # the pushed term/kind/segment filters — a selective query then
            # reads a few MB instead of decompressing whole files (the same
            # role file-level stats play in Iceberg)
            writer = writer.option("parquet.block.size", ROW_GROUP_BYTES)
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(out)

        return self._commit_snapshot(table, put, lineage, extra_entry)

    def write_arrow(
        self,
        at: pa.Table,
        table: str,
        sort_by: list[str] | None = None,
        lineage: dict[str, Any] | None = None,
        extra_entry: dict | None = None,
    ) -> str:
        """:meth:`write` of a driver-held Arrow table: one parquet file
        written by pyarrow, then the same commit."""
        return self._commit_snapshot(
            table, lambda out: _put_arrow(at, out, sort_by), lineage, extra_entry
        )

    def _commit_snapshot(self, table: str, put, lineage, extra_entry) -> str:
        """``put(out)`` writes the new snapshot directory; then one manifest
        swap makes it the table's snapshot, and snapshots past the retained
        history are pruned. A failure before the swap leaves nothing
        visible."""
        with self._mlock:
            m = self.read_manifest()
            prev = m["tables"].get(table)
            if prev is not None and prev.get("view"):
                prev = None if prev.get("snapshot") is None else prev
            snap_n = (prev["n"] + 1) if prev else (m["tables"].get(table, {}).get("n", 0) + 1)
        snap = f"snap-{snap_n:06d}"
        out = os.path.join(self.root, table, snap)
        put(out)
        hist = (prev.get("history", []) if prev else [])
        if prev:
            hist = hist + [prev["snapshot"]]
        with self._mlock:
            # RE-READ at commit time: a concurrent writer of another
            # table may have advanced the manifest while our parquet job
            # ran — committing the stale copy would drop its entry
            m = self.read_manifest()
            m["tables"][table] = {
                "snapshot": snap,
                "n": snap_n,
                "history": hist[-5:],
                "committed_at": time.time(),
                "lineage": lineage or {},
                **(extra_entry or {}),
            }
            self._write_manifest(m)
        # prune snapshots that fell off the retained history
        keep = set(hist[-5:]) | {snap}
        tdir = os.path.join(self.root, table)
        for d in os.listdir(tdir):
            if d.startswith("snap-") and d not in keep:
                shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
        return out

    def read(
        self, spark: SparkSession, table: str, merge_schema: bool = False
    ) -> DataFrame:
        """``merge_schema``: resolve the UNION schema across the base
        snapshot and appended increments (needed when a format upgrade
        added columns — e.g. ann_graph's layer/stride — and pre-upgrade
        snapshots coexist with new appends; old rows surface the new
        columns as NULL instead of the schema being whichever file Spark
        sampled first)."""
        ent = self.read_manifest()["tables"].get(table)
        if ent is not None and ent.get("view"):
            v = ent["view"]
            return self.read(spark, v["of"]).where(v["where"]).selectExpr(*v["select"])
        dirs = self.table_dirs(table)
        if not dirs:
            raise FileNotFoundError(f"table {table!r} not committed in {self.root}")
        dropped = tuple(ent.get("dropped_segments") or ()) if ent else ()
        # memoize the INFERRED SCHEMA per immutable snapshot state: every
        # schemaless spark.read.parquet runs a driver-side footer job, so
        # repeat queries against an unchanged table were paying one small
        # Spark job per cat.read. Passing the cached schema skips that
        # job while still minting a FRESH DataFrame (fresh expression
        # ids) per call — memoizing the DataFrame itself would alias
        # self-joined reads into ambiguous-column errors. Snapshot dirs
        # are immutable once committed (appends/rewrites mint NEW dirs →
        # new key), so a cached schema can never go stale.
        key = (
            spark.sparkContext.applicationId, table, tuple(dirs),
            bool(merge_schema),
        )
        memo = self.__dict__.setdefault("_schema_memo", {})
        schema = memo.get(key)
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(*dirs)
        if schema is None:
            # superseded snapshot states of the same table can never be
            # read again — drop their entries (bounds the memo at one per
            # table). list() snapshots the keys first: concurrent reads
            # from the commit thread pool may insert while we prune.
            for k in [k for k in list(memo) if k[1] == table and k != key]:
                memo.pop(k, None)
            memo[key] = df.schema
        # logical segment drops (incremental merge): merged-away segments
        # stay on disk until a compaction rewrite but are filtered at every
        # read — the Lucene deleted-segment / Iceberg delete-manifest model
        if dropped:
            df = df.filter(~df["segment_id"].isin([int(x) for x in dropped]))
        return df

    def define_views(self, views: dict, of_table: str) -> None:
        """Register ``views`` ({name: (where, select)}) as filtered /
        projected views of ``of_table`` in ONE atomic manifest commit, so
        the view set can never be observed half-updated. The fused segment
        flush writes ONE unified table; the logical tables — postings,
        doc_map, norms, terms, segment_stats — are kind-filtered views of
        it. A later ``write`` of a view's name (e.g. by a merge)
        materializes the table and replaces the view."""
        with self._mlock:
            m = self.read_manifest()
            for name, (where, select) in views.items():
                m["tables"][name] = {
                    "view": {"of": of_table, "where": where, "select": select},
                    "snapshot": None,
                    "n": m["tables"].get(name, {}).get("n", 0),
                }
            self._write_manifest(m)

    def append(
        self,
        df: DataFrame,
        table: str,
        tag: str | None = None,
        extra_entry: dict | None = None,
    ) -> str:
        """Append an increment to ``table`` (streaming micro-batch epochs).
        New directory + atomic manifest commit; a later full ``write``
        collapses increments into one snapshot.

        With ``tag``, the append is IDEMPOTENT: re-appending the same tag
        (a replayed streaming epoch — foreachBatch is at-least-once)
        REPLACES the previous increment instead of duplicating it. The new
        increment is written and committed BEFORE the old directory is
        removed, so a crash at any point leaves a readable snapshot."""

        def put(out: str) -> None:
            df.write.mode("overwrite").option(
                "parquet.block.size", ROW_GROUP_BYTES
            ).parquet(out)

        return self._commit_append(table, put, lambda: self.write(df, table), tag, extra_entry)

    def append_arrow(
        self,
        at: pa.Table,
        table: str,
        sort_by: list[str] | None = None,
        tag: str | None = None,
        extra_entry: dict | None = None,
    ) -> str:
        """:meth:`append` of a driver-held Arrow table: one parquet file
        written by pyarrow, then the same commit."""
        return self._commit_append(
            table, lambda out: _put_arrow(at, out, sort_by),
            lambda: self.write_arrow(at, table, sort_by), tag, extra_entry,
        )

    def _commit_append(self, table: str, put, first, tag, extra_entry) -> str:
        """``put(out)`` writes the increment's directory, then one manifest
        swap adds it (replacing the increment of the same ``tag``) and the
        replaced directory is removed; ``first()`` writes the table instead
        when it does not exist yet."""
        with self._mlock:
            m = self.read_manifest()
            ent = m["tables"].get(table)
            if ent is not None and ent.get("view") and ent.get("snapshot") is None:
                raise ValueError(
                    f"{table!r} is a view; append to {ent['view']['of']!r}"
                )
            n = (ent["n"] + 1) if ent is not None else 0
        if ent is None:
            return first()
        snap = f"snap-{n:06d}"
        out = os.path.join(self.root, table, snap)
        put(out)
        with self._mlock:
            # RE-READ at commit time (see _commit_snapshot): keep entries a
            # concurrent writer of another table committed meanwhile
            m = self.read_manifest()
            ent = m["tables"][table]
            tags = ent.get("append_tags", {})
            prev = tags.get(tag) if tag is not None else None
            ent["n"] = n
            ent["appends"] = [s for s in ent.get("appends", []) if s != prev] + [snap]
            if tag is not None:
                tags[tag] = snap
                ent["append_tags"] = tags
            if extra_entry:
                # e.g. dropped_segments: committed in the SAME manifest
                # write as the new increment, so merged data and its
                # drops flip together
                ent.update(extra_entry)
            ent["committed_at"] = time.time()
            self._write_manifest(m)  # commit point: new increment visible, old gone
        if prev:
            shutil.rmtree(os.path.join(self.root, table, prev), ignore_errors=True)
        return out

    def read_arrow(
        self, table: str, columns: list[str] | None = None, where: pc.Expression | None = None
    ) -> pa.Table:
        """The committed rows of the stored table ``table`` read by
        ``pyarrow.dataset`` over its live directories — no Spark job — less
        its dropped segments. ``where`` filters (parquet row-group
        statistics prune on it: segdata's ``kind`` leads its sort, so
        ``pc.field("kind") == "doc"`` reads doc_map's rows only),
        ``columns`` projects. Views are not resolved: callers name the
        stored table and the kind a view filters on."""
        ent = self.read_manifest()["tables"].get(table)
        if ent is None or ent.get("snapshot") is None:
            raise FileNotFoundError(f"table {table!r} not committed in {self.root}")
        dropped = [int(s) for s in ent.get("dropped_segments") or ()]
        if dropped:
            keep = ~pc.field("segment_id").isin(dropped)
            where = keep if where is None else where & keep
        files = sorted(
            os.path.join(d, f) for d in self._entry_dirs(table, ent) for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        return ds.dataset(files, format="parquet").to_table(columns=columns, filter=where)

    def committed_bytes(self, table: str) -> int:
        """Bytes of ``table``'s live directories on disk (0 for a view or
        an absent table) — file sizes only, no Spark job."""
        ent = self.read_manifest()["tables"].get(table)
        if ent is None or ent.get("snapshot") is None:
            return 0
        return sum(
            os.path.getsize(os.path.join(d, f))
            for top in self._entry_dirs(table, ent) for d, _, fs in os.walk(top) for f in fs
        )

    def table_lineage(self, table: str) -> dict:
        """Per-table lineage metrics recorded at write time (e.g. row
        counts) — lets query paths answer 'is this table empty?' from the
        manifest without a Spark job."""
        return self.read_manifest()["tables"].get(table, {}).get("lineage", {}) or {}

    def exists(self, table: str) -> bool:
        ent = self.read_manifest()["tables"].get(table)
        if ent is None:
            return False
        return bool(ent.get("view")) or ent.get("snapshot") is not None

    # --------------------------------------------------------- stage resume
    def stage_done(self, stage: str) -> bool:
        return self.read_manifest()["stages"].get(stage, {}).get("status") == "done"

    def mark_stage(self, stage: str, status: str = "done", **metrics: Any) -> None:
        with self._mlock:
            m = self.read_manifest()
            m["stages"][stage] = {"status": status, "at": time.time(), **metrics}
            self._write_manifest(m)

    def set_config(self, cfg: dict) -> None:
        with self._mlock:
            m = self.read_manifest()
            m["config"] = cfg
            self._write_manifest(m)


class CommitPointReader(IndexCatalog):
    """Read-only :class:`IndexCatalog` pinned to one past manifest — the
    point-in-time reader every query operator accepts in place of the live
    catalog (same ``read``/``read_manifest``/``exists`` surface). Any
    mutation raises."""

    def __init__(self, root: str, manifest: dict):
        self.root = root  # no mkdir: never touches disk
        self._pinned = manifest

    def read_manifest(self) -> dict:
        return self._pinned

    def _write_manifest(self, m: dict) -> None:
        raise PermissionError("commit-point reader is read-only")

    def write(self, *a, **kw):
        raise PermissionError("commit-point reader is read-only")

    def append(self, *a, **kw):
        raise PermissionError("commit-point reader is read-only")

    write_arrow = write
    append_arrow = append

    def mark_stage(self, *a, **kw):
        raise PermissionError("commit-point reader is read-only")

    def set_config(self, cfg: dict) -> None:
        raise PermissionError("commit-point reader is read-only")
