"""The warm-server skeleton shared by WandServer, PhraseServer and
TrigramServer: per-unit persisted frames over the segment store, tombstones
and metadata filters as broadcast variables, refresh by fingerprint reuse,
and gc() pins.  The subclasses add only their unit layout and their query
kernels (operators/wand.py, phrase.py, trigram.py).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _as_tombstone_df(
    spark: SparkSession, tombstones: dict[int, int] | DataFrame | None
) -> DataFrame | None:
    """Normalize the tombstones argument to a (doc_id, before_seq) frame.
    Dict input is a convenience for tests/small callers; production paths
    (query_index*, the servers' from_store) hand the on-disk frame straight
    through so churn never lands on the driver."""
    if tombstones is None:
        return None
    if isinstance(tombstones, DataFrame):
        return tombstones
    if not tombstones:
        return None
    return spark.createDataFrame(
        [(int(d), int(bs)) for d, bs in tombstones.items()],
        "doc_id long, before_seq int",
    )


def _id_sets_df(
    ids: DataFrame,
    n_doc_shards: int,
    col: str,
    units: list[int] | None = None,
    dead: bool = False,
) -> DataFrame:
    """Per-shard doc-id sets: each shard's sorted unique doc_ids as ONE
    encoded binary row named ``col`` (functions/codec.py delta+varbyte),
    computed DISTRIBUTED so no query path materializes a corpus- or
    churn-sized id set on the driver.  Shard placement replays the
    packer's pmod(xxhash64(doc_id), n_doc_shards).

    Without ``units`` the result is (shard, col) — an epoch-free set, the
    servers' metadata filters.  With ``units`` (a list of unit seqs) it is
    (unit, shard, col), one set per unit: with ``dead`` the input is the
    (doc_id, before_seq) tombstones frame and a doc is dead in unit seq iff
    before_seq > seq; otherwise every unit gets the same set (the batch
    path's allow sets, cogrouped per (unit, shard)).  Shards with no id get
    NO row."""
    shard = F.pmod(F.xxhash64("doc_id"), F.lit(int(n_doc_shards))).cast("int")
    if units is None:
        keys = ["shard"]
        parts = ids.select(shard.alias("shard"), "doc_id")
    else:
        keys = ["unit", "shard"]
        parts = None
        for seq in units:
            src = ids.filter(F.col("before_seq") > F.lit(int(seq))) if dead else ids
            pp = src.select(
                F.lit(int(seq)).alias("unit"), shard.alias("shard"), "doc_id"
            )
            parts = pp if parts is None else parts.unionByName(pp)

    def _enc(pdf: pd.DataFrame) -> pd.DataFrame:
        from bliss_rs_spark.functions.codec import encode_doc_ids

        row = {k: [int(pdf[k].iloc[0])] for k in keys}
        row[col] = [encode_doc_ids(np.unique(pdf["doc_id"].to_numpy(np.int64)))]
        return pd.DataFrame(row)

    schema = ", ".join(f"{k} int" for k in keys) + f", {col} binary"
    return parts.groupBy(*keys).applyInPandas(_enc, schema)


def _ensure_unit_cache(
    spark: SparkSession, store, kind: str, key: str, src_dir: str, pack
) -> str:
    """Pack one unit's rows (``pack``: rows frame -> packed frame) into the
    store's derived cache ``<store>/derived/<kind>/<key>`` if not already
    there; returns the cache path.  Keys are SEGMENT names (immutable), so
    a snapshot update only ever packs its delta segment — pack work across
    the store's lifetime is O(corpus), not O(corpus x snapshots).  Written
    to a temp dir and renamed into place, so concurrent first-servers race
    benignly.  gc() prunes caches of unreferenced segments."""
    import shutil
    import uuid

    from bliss_rs_spark.sources.index_store import _ensure_schema_file

    cache = os.path.join(store.path, "derived", kind, key)
    if not os.path.isdir(cache):
        tmp = cache + ".tmp-" + uuid.uuid4().hex[:8]
        packed = pack(spark.read.parquet(src_dir))
        packed.write.mode("overwrite").parquet(tmp)
        _ensure_schema_file(packed, tmp)
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        try:
            os.rename(tmp, cache)
        except OSError:
            # another server won the race; its pack is equivalent
            shutil.rmtree(tmp, ignore_errors=True)
    return cache


def _store_units(
    spark: SparkSession, store, frame: str, kind: str, pack
) -> tuple[list[tuple[int, DataFrame]], dict[int, tuple]]:
    """The CURRENT snapshot's units of one segment frame (``positional``,
    ``trigram``): one per referenced segment carrying that frame, packed
    and cached lazily under ``derived/<kind>/<segment>``, or a single unit
    keyed ``snap_<snapshot>`` for layout-1 stores.  Returns (units,
    fingerprints of the cache dirs)."""
    from bliss_rs_spark.sources.index_store import dir_fingerprint

    meta = store.meta()
    if "segments" in meta:
        sources = [
            (store.seg_seq(seg), seg, os.path.join(store.segments_dir, seg, frame))
            for seg in meta["segments"]
        ]
    else:
        sources = [
            (0, "snap_" + store.current_snapshot(),
             os.path.join(store.snapshot_dir(), frame))
        ]
    units: list[tuple[int, DataFrame]] = []
    fps: dict[int, tuple] = {}
    for seq, key, src in sources:
        if not os.path.isdir(src):
            continue
        cache = _ensure_unit_cache(spark, store, kind, key, src, pack)
        units.append((seq, spark.read.parquet(cache)))
        fps[seq] = dir_fingerprint(cache)
    return units, fps


class UnitServer:
    """Warm serving over a set of UNITS (the base pack plus one unit per
    store segment), each cached independently so an update costs its delta.

    Lifecycle contract:

    - per-unit cache: each unit's frame is hash-repartitioned ONCE by doc
      shard and persisted, so every shard lies wholly inside one partition
      BY CONSTRUCTION — a recomputed partition (executor loss) replays the
      same deterministic exchange, so correctness never depends on file
      layout.  The first unit gets full parallelism, later (small segment)
      units an eighth, so per-query task count stays bounded (maintain()
      bounds unit fan-out).  A query filters every unit's cached
      partitions and unions them (``_scan``): narrow operations only, no
      shuffle and no broadcast exchange;
    - tombstones as a broadcast variable: per-(unit, shard) dead sets are
      computed distributed over the churn-sized tombstones frame and
      shipped ONCE per (re)point as {(unit, shard): encoded dead ids}.  A
      per-query broadcast JOIN re-collected and re-shipped the same frame
      on every query (~0.6s/query measured at 1M docs / 7 units) and put
      a BroadcastExchange in the serving plan; the variable carries the
      same bytes (a broadcast hash join materializes its build side
      driver-side anyway), shipped once.  Bounded by
      maintain()'s tombstone ceilings; compact_full resets it.  Named
      metadata filters (``set_filter``) ride the same way, keyed by shard
      alone: doc ids are stable across snapshots, so a filter survives
      refresh() untouched;
    - refresh reuse by fingerprint: ``refresh(store)`` re-points the server
      at the CURRENT snapshot.  An unchanged snapshot is a no-op (no Spark
      job).  Otherwise a unit whose (relpath, inode, size) fingerprint is
      unchanged keeps its cached partitions verbatim, changed/new units
      rebuild and warm in parallel, vanished units (compaction) unpersist,
      and the dead sets rebuild;
    - gc pins: reused frames keep reading the paths they were built from
      (without a pin, gc() could expire that snapshot and a cache
      eviction/recompute would read deleted files — the live-reader
      contract Iceberg gives concurrent readers via snapshot references),
      so the server holds a gc() pin (store.pin_snapshot) on the current
      snapshot — which references every unit's segment — plus, for a
      first unit that reads the snapshot dir itself (WandServer's base
      pack), that unit's source snapshot.  close() releases them through
      store.release_pin.

    Subclass hooks: ``_list_units`` (the store's units + fingerprints),
    ``_build_unit_frame``, ``_warm_unit`` (materialize one unit; the
    result is kept in ``_unit_info``), ``_scan_predicate``, and optionally
    ``_on_refresh`` / ``_unpersist_inputs`` for state beside the units.

    Reference analogue: bliss-rs mutates its library in place and
    re-queries the same connection (src/library.rs:1040-1084); an
    immutable-snapshot engine gets the equivalent by atomically swapping
    the unit set under a warm server.
    """

    # True when the first unit's frame reads the snapshot dir itself rather
    # than a segment-keyed path (decides the gc() pin set)
    _base_reads_snapshot = False
    # modes set_filter accepts; empty: the server has no filtered queries
    _filter_modes: tuple[str, ...] = ("allow",)

    def __init__(
        self,
        spark: SparkSession,
        units: list[tuple],
        n_doc_shards: int,
        target_partitions: int | None,
        tombstones: dict[int, int] | DataFrame | None,
        store_mode: bool,
        extra_warm: tuple = (),
    ):
        self.spark = spark
        self._n_doc_shards = int(n_doc_shards)
        if target_partitions is None:
            target_partitions = spark.sparkContext.defaultParallelism
        self._target_partitions = max(int(target_partitions), 1)
        self._store_mode = store_mode  # refresh() allowed
        self._store = None  # the store holding this server's pins
        self._store_snapshot: str | None = None
        self._unit_fps: dict[int, tuple] = {}  # filled by from_store/refresh
        self._unit_snaps: dict[int, str | None] = {}  # unit -> snapshot it reads
        self._pins: dict[str, str] = {}  # snapshot -> pin file
        self._unit_info: dict[int, object] = {}  # unit -> _warm_unit result
        self._filters: dict[str, tuple] = {}  # name -> (broadcast, mode, frame)
        self._dead_bc = None  # broadcast {(unit, shard): dead bytes}
        self._tomb_df: DataFrame | None = None
        self._units = units
        self._unit_frames: dict[int, DataFrame] = {
            unit[0]: self._build_unit_frame(unit, self._unit_partitions(i))
            for i, unit in enumerate(units)
        }
        self._warm(list(self._unit_frames), extra_warm)
        self._set_tombstones(tombstones)

    # -- hooks -----------------------------------------------------------------

    @classmethod
    def _list_units(cls, spark: SparkSession, store) -> tuple[list[tuple], dict]:
        """The store's CURRENT units [(seq, frame, ...)] and {seq: fingerprint}."""
        raise NotImplementedError

    def _build_unit_frame(self, unit: tuple, n_parts: int) -> DataFrame:
        """One unit's persisted (still lazy) serving frame."""
        raise NotImplementedError

    def _warm_unit(self, seq: int) -> object:
        """Materialize one unit's cache; the result lands in _unit_info."""
        raise NotImplementedError

    def _scan_predicate(self, keys: list[str]) -> Column:
        """The per-query row filter over every unit's cached frame."""
        raise NotImplementedError

    def _on_refresh(self, store, changed: bool) -> None:
        """Re-point subclass state beside the units (``changed``: the
        snapshot moved)."""

    def _unpersist_inputs(self) -> None:
        """Release frames the subclass persisted beside the units."""

    # -- lifecycle ---------------------------------------------------------------

    def _unit_partitions(self, index_in_units: int) -> int:
        if index_in_units == 0:
            return self._target_partitions
        return max(1, self._target_partitions // 8)

    def _warm(self, seqs: list[int], extra=()) -> None:
        """Warm units (and ``extra`` independent actions) as overlapped
        jobs (guide §2.6)."""
        fns = [(lambda q=seq: self._warm_unit(q)) for seq in seqs] + list(extra)
        if fns:
            from bliss_rs_spark.sources.index_store import _run_parallel

            self._unit_info.update(zip(seqs, _run_parallel(fns)))

    def _set_tombstones(
        self, tombstones: dict[int, int] | DataFrame | None
    ) -> None:
        tomb_df = _as_tombstone_df(self.spark, tombstones)
        self._tomb_df = tomb_df
        old = self._dead_bc
        self._dead_bc = None
        if tomb_df is not None and tomb_df.limit(1).count() > 0:
            rows = _id_sets_df(
                tomb_df, self._n_doc_shards, "dead",
                units=list(self._unit_frames), dead=True,
            ).collect()
            self._dead_bc = self.spark.sparkContext.broadcast(
                {(int(r["unit"]), int(r["shard"])): bytes(r["dead"]) for r in rows}
            )
        if old is not None:
            old.unpersist()

    @staticmethod
    def _store_tombstones(spark: SparkSession, store) -> DataFrame | None:
        """The store's tombstones FRAME (never collected), None when empty."""
        return store.tombstone_frame(spark) if store.has_tombstones(spark) else None

    def _attach_store(self, store, fps: dict[int, tuple]) -> None:
        """from_store tail: remember the units' fingerprints and pin the
        snapshot they were read from."""
        snap = store.current_snapshot()
        self._store_snapshot = snap
        self._unit_fps = fps
        self._unit_snaps = {
            seq: (snap if i == 0 and self._base_reads_snapshot else None)
            for i, seq in enumerate(self._unit_frames)
        }
        self._sync_pins(store)

    def _sync_pins(self, store) -> None:
        """Hold a gc() pin on every snapshot a cached frame still reads:
        the CURRENT snapshot plus each reused unit's source snapshot."""
        self._store = store
        need = {s for s in self._unit_snaps.values() if s}
        if self._store_snapshot:
            need.add(self._store_snapshot)
        for snap in need - set(self._pins):
            self._pins[snap] = store.pin_snapshot(snap, note=type(self).__name__)
        for snap in set(self._pins) - need:
            store.release_pin(self._pins.pop(snap))

    def refresh(self, store, **kw) -> dict:
        """Re-point a live server at the store's CURRENT snapshot WITHOUT
        re-caching unchanged units (see the class docstring): a 1%-delta
        segment update costs the delta, not a full corpus re-cache.
        Returns {"reused_units": [...], "rebuilt_units": [...]}."""
        if not self._store_mode:
            raise ValueError(
                f"refresh() requires a {type(self).__name__} built by from_store()"
            )
        snap = store.current_snapshot()
        if snap == self._store_snapshot:
            # nothing committed since this server (re-)pointed here
            self._on_refresh(store, False, **kw)
            return {"reused_units": sorted(self._unit_frames), "rebuilt_units": []}
        units, fps = self._list_units(self.spark, store)
        frames: dict[int, DataFrame] = {}
        snaps: dict[int, str | None] = {}
        reused: list[int] = []
        rebuilt: list[int] = []
        for i, unit in enumerate(units):
            seq = unit[0]
            old_fp = self._unit_fps.get(seq)
            if seq in self._unit_frames and old_fp is not None and old_fp == fps.get(seq):
                frames[seq] = self._unit_frames[seq]
                snaps[seq] = self._unit_snaps.get(seq)
                reused.append(seq)
            else:
                frames[seq] = self._build_unit_frame(unit, self._unit_partitions(i))
                snaps[seq] = snap if i == 0 and self._base_reads_snapshot else None
                rebuilt.append(seq)
        for seq, f in self._unit_frames.items():
            if frames.get(seq) is not f:
                f.unpersist()
                self._unit_info.pop(seq, None)
        self._units, self._unit_frames = units, frames
        self._unit_fps, self._unit_snaps = fps, snaps
        self._store_snapshot = snap
        self._sync_pins(store)
        self._on_refresh(store, True, **kw)
        self._set_tombstones(self._store_tombstones(self.spark, store))
        self._warm(rebuilt)
        return {"reused_units": reused, "rebuilt_units": rebuilt}

    def _scan(self, keys: list[str]) -> DataFrame:
        """Per-query frame: the union of every unit's cached partitions
        filtered by ``_scan_predicate`` — union concatenates child
        partitions, so the plan stays exchange-free."""
        flt = self._scan_predicate(keys)
        u = None
        for seq in sorted(self._unit_frames):
            pf = self._unit_frames[seq].filter(flt)
            u = pf if u is None else u.unionByName(pf)
        return u

    # -- metadata filters ----------------------------------------------------------

    def set_filter(self, name: str, allow_df: DataFrame, mode: str = "allow") -> None:
        """Register a named metadata filter for the query methods'
        ``filter_name=``: ``allow_df`` is a (doc_id) frame — the permitted
        docs (mode='allow') or, where the server supports it, the EXCLUDED
        docs (mode='deny', the complement route: a non-selective predicate
        ships its small complement).  The set is encoded DISTRIBUTED, one
        blob per doc shard (_id_sets_df), and only those encoded bytes
        reach the driver; paid once per registration, shipped once as a
        broadcast variable.  Corpus stats are unchanged by design (Lucene
        filter semantics: the filter restricts candidates, it does not
        re-weight the corpus)."""
        if mode not in self._filter_modes:
            raise ValueError(
                f"{type(self).__name__} filter mode must be one of "
                f"{self._filter_modes}, got {mode!r}"
            )
        rows = _id_sets_df(allow_df, self._n_doc_shards, "allow").collect()
        self.drop_filter(name)
        self._filters[name] = (
            self.spark.sparkContext.broadcast(
                {int(r["shard"]): bytes(r["allow"]) for r in rows}
            ),
            mode,
            allow_df,
        )

    def drop_filter(self, name: str) -> None:
        old = self._filters.pop(name, None)
        if old is not None:
            old[0].unpersist()

    def _filter(self, name: str | None):
        """-> (broadcast {shard: encoded ids}, mode), or None without a
        filter — only these two ride into a kernel closure."""
        if name is None:
            return None
        if name not in self._filters:
            raise KeyError(f"unknown filter {name!r}; set_filter first")
        return self._filters[name][:2]

    def close(self) -> None:
        for f in self._unit_frames.values():
            f.unpersist()
        self._unit_frames, self._unit_info = {}, {}
        if self._dead_bc is not None:
            self._dead_bc.unpersist()
            self._dead_bc = None
        for name in list(self._filters):
            self.drop_filter(name)
        self._unpersist_inputs()
        for path in self._pins.values():  # release gc() pins
            self._store.release_pin(path)
        self._pins = {}
