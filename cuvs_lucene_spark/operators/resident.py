"""The resident pack: one catalog's tables held in the serving process.

Lucene's ``IndexSearcher`` scores each leaf inside the serving process
(PAPER.md §0, Layer B); the engine's resident tiers do the same over one
pack per catalog. Its entries:

- ANN: ``ann_flat``, ``ann_sq``, ``ann_bq``, ``ann_ivf``, ``ann_pq``,
  ``ann_ivfpq``, ``ann_graph`` (``ann._Resident``);
- text: ``segdata`` — postings and norms per leaf, and the sorted
  dictionary (``bm25._resident_scored``, prefix and fuzzy expansion) —
  and ``positions`` (``positions._resident_phrase``);
- both: ``tombstones``, ``tomb_aux`` (the Spark tier's packed tombstone
  rows) and the ``("bytes", table)`` committed-size memos.

Each entry is
read into the driver by ``IndexCatalog.read_arrow`` (pyarrow, no Spark
job) at its first use, from the directories of the manifest entry it is
keyed by (:func:`entry_key`), and kept until that entry changes. When a
commit only appended directories to the table or dropped segments from it
(an epoch, a merge), the entry is extended: only the new directories are
read, and the dropped segments are filtered out of what the pack holds.
Any other change (a rewrite, a compaction, a replayed epoch) reads the
table again.

A resident tier serves a catalog while its tables' committed bytes fit
its budget (ANN: ``RESIDENT_MAX_BYTES``; text: ``TEXT_RESIDENT_MAX_BYTES``
over segdata, and over segdata plus positions for phrase queries); above
it, the Spark tier runs.
"""

from __future__ import annotations

import threading

from cuvs_lucene_spark.sources.catalog import IndexCatalog

RESIDENT_MAX_BYTES = 768 << 20  # ANN's resident tier serves while the ANN
                                # tables' committed bytes fit
# Measured on fixtures.generate_embeddings (64-d) on local[4]: the resident
# tier was faster in exact, ivf and graph mode at 105k, 420k and 1.01M
# vectors (75.6, 304 and 734 MB committed). No crossover was found, since the
# Spark tier re-reads the tables per query, so the budget is the largest
# measured size, rounded up.
RESIDENT_JOIN_MAX_QUERIES = 512  # knn_join_ivf's resident tier serves
                                 # query sides of at most this many rows
# The driver scores a join on one core, the Spark tier over the executors.
# Measured on fixtures.generate_embeddings_pdf vectors (64-d, default
# IndexConfig, k=10, local[4], BLAS pools of one thread, warm medians of 3-5
# batches, resident/Spark s, identical rows): at the largest catalog the ANN
# budget admits (1,014,523 vectors, 15 segments) 32 queries 0.71/2.64, 256
# 1.71/2.95, 512 2.76/3.80, 768 4.02/3.36, 1,024 5.35/4.05; at 104,757
# vectors (2 segments) 512 0.83/1.79, 1,024 1.10/2.05. The crossover at the
# largest catalog lies between 512 and 768 queries, so the bound is 512.
TEXT_RESIDENT_MAX_BYTES = 173 << 20  # BM25's resident tier serves while
                                     # segdata's committed bytes fit
# The largest text index measured (fixtures.generate_documents_pdf, local[4],
# see CHANGES.md): 400k docs, 181.5 MB committed, read into a 339.8 MB pack
# (about 1.85x) with a 2.28 GB driver peak RSS; the resident tier was faster
# for every query kind there and at 100k docs. Above it the pack's size, its
# fill and the driver's memory are unmeasured, so the budget stops at that
# size, rounded down.


def _grown(old: tuple, new: tuple) -> tuple | None:
    """The append directories ``new`` adds to ``old`` (entry keys, see
    :func:`entry_key`) when the table only gained appends and dropped
    segments since ``old``; else None."""
    if old[0] != new[0] or new[1][: len(old[1])] != old[1] or not set(old[2]) <= set(new[2]):
        return None
    return new[1][len(old[1]):]


class Pack:
    """One catalog's driver-resident state. Each entry is read once, at
    its first use, and keyed by its table's own manifest entry, so a commit
    to another table (a delete's tombstones, a new sidecar) leaves it
    valid. Each entry name has its own lock, held while it is read, so
    concurrent first queries read each table once, and a read of one
    table does not hold up hits on the others; ``lock`` guards only the
    two dicts. A refill drops the superseded entry before reading."""

    def __init__(self):
        self.lock = threading.Lock()
        self.entries: dict = {}  # name -> (key, value, nbytes)
        self.locks: dict = {}  # name -> the lock held while it is read

    def get(self, name, key, fill, usable=lambda value: True, extend=None):
        """The entry ``name`` at ``key``; ``fill() -> (value, nbytes)``
        replaces it when it is missing, superseded or not ``usable``. With
        ``extend(value, snaps, dropped) -> (value, nbytes) | None``, an
        entry whose table only gained the append directories ``snaps`` and
        dropped segments (``dropped``: the whole drop list) since it was
        read is extended instead (``nbytes``: what the extension read;
        None: fill after all)."""
        with self.lock:
            entry_lock = self.locks.setdefault(name, threading.Lock())
        with entry_lock:
            with self.lock:
                hit = self.entries.get(name)
                if hit is not None and hit[0] == key and usable(hit[1]):
                    return hit[1]
                self.entries.pop(name, None)
            grown = None
            if hit is not None and extend is not None and usable(hit[1]):
                snaps = _grown(hit[0], key)
                grown = None if snaps is None else extend(hit[1], snaps, key[2])
            if grown is None:
                value, nbytes = fill()
            else:
                value, nbytes = grown[0], grown[1] + hit[2]
            with self.lock:
                self.entries[name] = (key, value, nbytes)
            return value

    def drop(self, pred) -> None:
        with self.lock:
            for name in [n for n, e in self.entries.items() if pred(n, e[1])]:
                del self.entries[name]

    def nbytes(self) -> int:
        """Arrow bytes read into the pack's current entries."""
        with self.lock:
            return sum(e[2] for e in self.entries.values())


def pack(cat: IndexCatalog) -> Pack:
    """The catalog's one pack (created on first use)."""
    return cat.__dict__.get("_pack") or cat.__dict__.setdefault("_pack", Pack())


def entry_key(cat: IndexCatalog, table: str, tables: dict | None = None) -> tuple:
    """What a read of ``table`` returns is fixed by its snapshot, its
    appends and its logically dropped segments (all immutable by name)."""
    e = (tables or cat.read_manifest()["tables"]).get(table) or {}
    return (e.get("snapshot"), tuple(e.get("appends", ())),
            tuple(e.get("dropped_segments", ())))


def disk_bytes(cat: IndexCatalog, table: str, tables: dict | None = None) -> int:
    """Committed bytes of ``table``, memoized per entry (no Spark job)."""
    tables = tables or cat.read_manifest()["tables"]
    return pack(cat).get(
        ("bytes", table), entry_key(cat, table, tables), lambda: (cat.committed_bytes(table), 0)
    )
