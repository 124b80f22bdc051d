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

A commit can span tables: inside ``with cat.transaction() as tx:`` every
write, append, stage mark and config change lands in a working copy of
the manifest (reads through ``tx`` see it), and the block's end swaps the
manifest once — the Delta Lake one-log-version-per-transaction model, and
the reference's per-segment format files sealed together at commit. A bare
``cat.write`` is a transaction of one action. A failure inside the block
swaps nothing: the directories its puts wrote are referenced by no
manifest, a retry overwrites them, and the table's next write prunes them.

The manifest also records per-stage checkpoints and per-partition lineage
(north rule: "resumable from checkpoint with per-partition lineage +
metrics").
"""

from __future__ import annotations

import contextlib
import copy
import functools
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

ANN_FORMAT_VERSION = 3  # the ANN tables' layout: centroid rows carry the
                        # segment's vector count, BQ centroids are float64,
                        # graph rows carry layer/stride, the manifest lists
                        # the segments with no IVF index, and every write
                        # keeps the thin ann_ids map beside ann_flat

# DERIVED sidecar tables whose commits cannot change corpus/posting
# statistics: the positional sidecar is built FROM the committed docs,
# and the global dictionary is an aggregate OF the per-segment terms —
# whenever either could be stale, segdata/tombstones were rewritten too
# (and bump the version themselves). Excluding them from the statistics
# version keeps the query-side caches (corpus stats, term-df memo, norms
# broadcast) valid across e.g. a build_positions commit —
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


def check_format(m: dict, where: str) -> dict:
    """Refuse a manifest whose tables an older writer laid out (Lucene's
    ``IndexFormatTooOldException``): an ANN catalog (any ``ann_`` table or
    config key) must record ``ann_format`` = ``ANN_FORMAT_VERSION``, and a
    text catalog must keep ``postings`` as a view of the unified
    ``segdata`` table and record the ``term_buckets`` its postings were
    written with. Returns ``m``."""
    tables, config = m["tables"], m.get("config", {})
    if any(k.startswith("ann_") for k in (*tables, *config)):
        found = config.get("ann_format")
        if found != ANN_FORMAT_VERSION:
            raise ValueError(
                f"ANN index format {found} is not supported (this version reads "
                f"format {ANN_FORMAT_VERSION}); delete the index and rebuild it: {where}"
            )
    if "postings" in tables or "segdata" in tables:
        view = (tables.get("postings") or {}).get("view") or {}
        if ("postings" in tables and view.get("of") != "segdata") or "term_buckets" not in config:
            raise ValueError(
                "text index layout is not supported (this version reads postings as a "
                "view of segdata, with term_buckets in the config); delete the index and "
                f"rebuild it: {where}"
            )
    return m


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


def _put(df: DataFrame | pa.Table, sort_by: list[str] | None):
    """The writer of ``df`` into a new directory ``out``: an Arrow table as
    one parquet file by pyarrow (:func:`_put_arrow`), a DataFrame by
    Spark's parquet write; either sorted by ``sort_by`` within each file
    (Spark's ``sortWithinPartitions``)."""
    if isinstance(df, pa.Table):
        return lambda out: _put_arrow(df, out, sort_by)

    def put(out: str) -> None:
        w = df.sortWithinPartitions(*sort_by) if sort_by else df
        # small row groups: with sorted-within-partition data, parquet
        # row-group min/max stats become an effective skip index for the
        # pushed term/kind/segment filters — a selective query then reads
        # a few MB instead of decompressing whole files (the same role
        # file-level stats play in Iceberg)
        w.write.mode("overwrite").option("parquet.block.size", ROW_GROUP_BYTES).parquet(out)

    return put


def transactional(op):
    """Run ``op(spark, cat, ...)`` over ``cat.transaction()``: every write
    it makes, through ``cat``, commits in one manifest swap (or joins the
    caller's transaction)."""

    @functools.wraps(op)
    def run(spark, cat: "IndexCatalog", *args, **kwargs):
        with cat.transaction() as tx:
            return op(spark, tx, *args, **kwargs)

    return run


class IndexCatalog:
    """One index root directory holding versioned parquet tables + manifest."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # serializes manifest swaps: each re-reads the live manifest and
        # applies only its own transaction's entries, so transactions over
        # INDEPENDENT tables may run from concurrent driver threads.
        # Concurrent writers of the SAME table remain unsupported.
        self._mlock = threading.RLock()

    @contextlib.contextmanager
    def transaction(self):
        """A catalog over a working copy of the manifest: ``write`` /
        ``append`` / ``mark_stage`` / ``set_config`` / ``define_views``
        stage into it, and ``read`` / ``exists`` / ``read_manifest`` see
        what is staged. The block's end
        swaps the manifest once (one commit point) and then prunes the
        directories no entry references any more; an exception swaps
        nothing. A transaction inside a transaction joins it."""
        tx = _Transaction(self)
        yield tx
        tx._publish()

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
        return check_format(m, p)

    COMMIT_RETENTION = 8  # commit points kept (IndexDeletionPolicy analogue)

    def _write_manifest(self, m: dict) -> None:
        # every manifest swap — one per transaction — IS a commit point
        # (Lucene: each IndexWriter commit creates an IndexCommit); keep a
        # numbered copy so readers can be pinned to a past commit (reader_at)
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
            return CommitPointReader(self.root, check_format(json.load(f), p))

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
        df: DataFrame | pa.Table,
        table: str,
        sort_by: list[str] | None = None,
        lineage: dict[str, Any] | None = None,
        extra_entry: dict | None = None,
    ) -> str:
        """Write ``df`` — a Spark DataFrame, or an Arrow table the driver
        holds (:func:`_put`) — as a NEW snapshot of ``table`` and commit
        atomically."""
        with self.transaction() as tx:
            return tx._put_snapshot(table, _put(df, sort_by), lineage, extra_entry)

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """The committed rows of ``table`` (a view resolved over the table
        it views) less its dropped segments, as one Spark scan of its live
        directories. Every directory of a table holds one schema — the
        catalog reads one format (:func:`check_format`) — so the scan
        takes it from any one file."""
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
        key = (spark.sparkContext.applicationId, table, tuple(dirs))
        memo = self.__dict__.setdefault("_schema_memo", {})
        schema = memo.get(key)
        reader = spark.read if schema is None else spark.read.schema(schema)
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
        with self.transaction() as tx, tx._mlock:
            tables = tx._work["tables"]
            for name, (where, select) in views.items():
                tables[name] = {
                    "view": {"of": of_table, "where": where, "select": select},
                    "snapshot": None,
                    "n": tables.get(name, {}).get("n", 0),
                }

    def append(
        self,
        df: DataFrame | pa.Table,
        table: str,
        sort_by: list[str] | None = None,
        tag: str | None = None,
        extra_entry: dict | None = None,
    ) -> str:
        """Append an increment (a Spark DataFrame or an Arrow table, as
        :meth:`write` takes) to ``table`` (streaming micro-batch epochs).
        New directory + atomic manifest commit; a later full ``write``
        collapses increments into one snapshot.

        With ``tag``, the append is IDEMPOTENT: re-appending the same tag
        (a replayed streaming epoch — foreachBatch is at-least-once)
        REPLACES the previous increment instead of duplicating it. The new
        increment is written and committed BEFORE the old directory is
        removed, so a crash at any point leaves a readable snapshot."""
        with self.transaction() as tx:
            return tx._put_append(table, _put(df, sort_by),
                                  lambda: tx.write(df, table, sort_by), tag, extra_entry)

    def read_arrow(self, table: str, columns: list[str] | None = None,
                   where: pc.Expression | None = None, tables: dict | None = None,
                   appends: tuple | None = None) -> pa.Table:
        """The committed rows of the stored table ``table`` read by
        ``pyarrow.dataset`` over its live directories — no Spark job — less
        its dropped segments. ``where`` filters (parquet row-group
        statistics prune on it: segdata's ``kind`` leads its sort, so
        ``pc.field("kind") == "doc"`` reads doc_map's rows only),
        ``columns`` projects. ``tables`` is a manifest's ``tables`` the
        caller already read: the rows are that manifest's, whatever commit
        has swapped it since. ``appends`` reads only those append
        directories of the entry. Views are not resolved: callers name the
        stored table and the kind a view filters on."""
        ent = (self.read_manifest()["tables"] if tables is None else tables).get(table)
        if ent is None or ent.get("snapshot") is None:
            raise FileNotFoundError(f"table {table!r} not committed in {self.root}")
        dropped = [int(s) for s in ent.get("dropped_segments") or ()]
        if dropped:
            keep = ~pc.field("segment_id").isin(dropped)
            where = keep if where is None else where & keep
        dirs = (self._entry_dirs(table, ent) if appends is None
                else [os.path.join(self.root, table, s) for s in appends])
        files = sorted(
            os.path.join(d, f) for d in dirs for f in os.listdir(d)
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
        with self.transaction() as tx, tx._mlock:
            tx._work["stages"][stage] = {"status": status, "at": time.time(), **metrics}

    def set_config(self, cfg: dict) -> None:
        with self.transaction() as tx, tx._mlock:
            tx._work["config"] = cfg


class _Transaction(IndexCatalog):
    """The catalog :meth:`IndexCatalog.transaction` yields: reads see the
    working manifest ``_work``; puts write their directories at once and
    stage the entries that name them; :meth:`_publish` commits."""

    def __init__(self, cat: IndexCatalog):
        self.root = cat.root
        self._cat = cat
        self._mlock = threading.RLock()  # guards _work (concurrent puts)
        self._base = cat.read_manifest()
        self._work = copy.deepcopy(self._base)
        self._schema_memo = cat.__dict__.setdefault("_schema_memo", {})

    def transaction(self):
        return contextlib.nullcontext(self)

    def read_manifest(self) -> dict:
        with self._mlock:
            return copy.deepcopy(self._work)

    def _put_snapshot(self, table: str, put, lineage, extra_entry) -> str:
        """``put(out)`` writes the new snapshot directory, then the table's
        staged entry names it, keeping the last 5 snapshots as history."""
        with self._mlock:
            ent = self._work["tables"].get(table)
            prev = None if ent is None or ent.get("snapshot") is None else ent
            snap_n = (ent or {}).get("n", 0) + 1
        snap = f"snap-{snap_n:06d}"
        out = os.path.join(self.root, table, snap)
        put(out)
        hist = (prev.get("history", []) + [prev["snapshot"]]) if prev else []
        with self._mlock:
            self._work["tables"][table] = {
                "snapshot": snap,
                "n": snap_n,
                "history": hist[-5:],
                "lineage": lineage or {},
                **(extra_entry or {}),
            }
        return out

    def _put_append(self, table: str, put, first, tag, extra_entry) -> str:
        """``put(out)`` writes the increment's directory, then the table's
        staged entry adds it (replacing the increment of the same ``tag``);
        ``first()`` writes the table instead when it does not exist yet."""
        with self._mlock:
            ent = self._work["tables"].get(table)
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
            ent = self._work["tables"][table]
            tags = ent.get("append_tags", {})
            prev = tags.get(tag) if tag is not None else None
            ent["n"] = n
            ent["appends"] = [s for s in ent.get("appends", []) if s != prev] + [snap]
            if tag is not None:
                tags[tag] = snap
                ent["append_tags"] = tags
            if extra_entry:
                # e.g. dropped_segments: committed in the SAME manifest
                # swap as the new increment, so merged data and its drops
                # flip together
                ent.update(extra_entry)
        return out

    def _publish(self) -> None:
        """The commit: under the catalog's lock, re-read the live manifest
        (a concurrent transaction over other tables may have advanced it),
        apply this transaction's changed table, stage and config entries
        (each stored table's ``committed_at`` the swap's time, so
        ``stats_version`` grows with every swap), and swap once; nothing
        changed, nothing swaps. Then remove the
        directories of the changed tables their entries no longer name:
        snapshots past the retained history, tag-replaced increments, and
        what a failed transaction or this one's superseded puts left."""
        def changed(key: str) -> dict:
            return {k: v for k, v in self._work[key].items() if self._base[key].get(k) != v}

        tables, stages = changed("tables"), changed("stages")
        config = self._work["config"] != self._base["config"]
        if not (tables or stages or config):
            return
        with self._cat._mlock:
            now = time.time()
            for ent in tables.values():
                if ent.get("snapshot") is not None:
                    ent["committed_at"] = now
            m = self._cat.read_manifest()
            m["tables"].update(tables)
            m["stages"].update(stages)
            if config:
                m["config"] = self._work["config"]
            self._cat._write_manifest(m)
        for table, ent in tables.items():
            tdir = os.path.join(self.root, table)
            if ent.get("snapshot") is None or not os.path.isdir(tdir):
                continue  # a view
            keep = {ent["snapshot"], *ent.get("history", []), *ent.get("appends", [])}
            for d in os.listdir(tdir):
                if d.startswith("snap-") and d not in keep:
                    shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)


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

    def transaction(self, *_):
        raise PermissionError("commit-point reader is read-only")

    _write_manifest = transaction
