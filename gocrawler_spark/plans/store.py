"""TableStore — Iceberg-style snapshot/manifest shim over parquet, and
the ONE commit path for every durable state in the package: the crawl
checkpoint (plans/crawl.py) and the three streaming sinks
(streaming/warc_stream.py, image_stream.py, corpus_stream.py). No
other module reads or writes a manifest.

North_rule: "resumable from checkpoint with per-partition lineage +
metrics". The sandbox has no Iceberg runtime jar, so this implements
the same contract on plain parquet (SURVEY.md §4: the shim):

- each state table is a list of **segments** (parquet dirs). Mutating
  tables (frontier, bloom, robots, the streamed corpus frequencies)
  are ``mode="full"``: one ``wave=%06d`` segment, rewritten per
  commit. Append-only tables (pages, signatures, logs, counters,
  streamed records) are ``mode="delta"``: writers ``append`` frames,
  and every commit adds ONLY the rows appended since the last one as
  ``seg%06d`` segments — per-commit write cost is O(delta), not
  O(state). A reader unions the segments; additively-merged tables
  (counters) are re-aggregated on load by the engine (it owns the
  merge keys).
- **tombstones** are row-level deletes for delta tables: a segment of
  keys that the sequential fold on load anti-joins against every row
  before it. ``tombstone`` flushes pending appends first, so segment
  order is the apply order.
- the **manifest** (``manifest.json``) is the single commit point,
  written LAST via tmp-file + atomic ``os.replace``: a crash anywhere
  before the rename leaves the previous manifest (and therefore the
  previous consistent snapshot) in effect — segment dirs written by
  the aborted commit are orphans, ignored by construction because
  readers only load paths the manifest names. Delta segments may be
  flushed to disk well before the manifest that names them (the
  engine flushes at compaction time to release memory pins); they
  stay invisible until committed, and a store opened on the root
  continues the committed segment numbering, so a replay overwrites
  the orphans.
- the manifest's ``wave`` is the commit id (crawl wave or streaming
  batch id): the streaming sinks skip a batch at or below it, which
  makes foreachBatch's at-least-once replays no-ops.
- per-partition lineage: every segment records its wave of origin,
  row count, and parquet part-files with sizes, plus free-form engine
  metrics on the manifest.

Resume = read manifest → union each table's named segments → hand the
DataFrames back to a fresh CrawlEngine. Kill-and-resume equivalence
is tested in tests/test_resume.py (resumed run == uninterrupted run,
byte-exact state).

Reference analog: the gob file cache checkpoint (crawler.go:103-151)
and the every-50-docs dumps (crawler.go:1285-1345); this is their
table-native generalization.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "manifest.json"


class TableStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # per delta table: appended frames not yet on disk, segment
        # entries on disk but not yet committed, and the next seg index
        # (continued after the committed count)
        self._pending: dict[str, list[DataFrame]] = {}
        self._flushed: dict[str, list[dict]] = {}
        m = self.read_manifest() or {"tables": {}}
        self._next_seg = {
            name: len(e["segments"])
            for name, e in m["tables"].items()
            if e.get("mode") == "delta"
        }

    # -- delta appends (NOT commits) -----------------------------------

    def append(self, name: str, df: DataFrame) -> None:
        """Queue rows for delta table ``name``; they are written at the
        next flush and become visible at the next commit."""
        self._pending.setdefault(name, []).append(df)

    def flush(self, wave: int) -> None:
        """Write every table's pending rows as one segment each. Safe
        at any time: flushed segments stay invisible until a commit
        names them. Callers flush before freeing anything the pending
        plans read."""
        for name, dfs in self._pending.items():
            if not dfs:
                continue
            df = dfs[0]
            for d in dfs[1:]:
                df = df.unionByName(d)
            self._add_segment(name, df, wave)
            self._pending[name] = []

    def tombstone(self, name: str, keys: DataFrame, wave: int) -> None:
        """Delete the rows of delta table ``name`` whose key (``keys``'
        one column) is in ``keys`` — every row appended before this
        call, none appended after."""
        self.flush(wave)
        self._add_segment(
            name, keys, wave, kind="tombstone", key=keys.columns[0]
        )

    def _add_segment(self, name: str, df: DataFrame, wave: int, **tags) -> None:
        k = self._next_seg.get(name, 0)
        seg = self.write_segment(name, f"seg{k:06d}", df, wave)
        if seg["row_count"] == 0:
            # nothing to record: drop the dir (the index is reused)
            shutil.rmtree(seg["path"], ignore_errors=True)
            return
        seg.update(tags)
        self._next_seg[name] = k + 1
        self._flushed.setdefault(name, []).append(seg)

    def write_segment(
        self, name: str, label: str, df: DataFrame, wave: int
    ) -> dict:
        """Write one parquet segment ``{root}/{name}/{label}/`` and
        return its manifest entry. Invisible until a later commit
        names it (crash between write and commit = ignored orphan)."""
        path = os.path.join(self.root, name, label)
        df.write.mode("overwrite").parquet(path)
        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        # count from the written files' parquet footers (metadata-only
        # scan), never by re-executing the delta plan
        n = df.sparkSession.read.parquet(path).count()
        return {
            "path": path,
            "wave": wave,
            "row_count": n,
            "partitions": [
                {"file": f, "bytes": os.path.getsize(os.path.join(path, f))}
                for f in files
            ],
        }

    # -- commit ---------------------------------------------------------

    def commit(
        self,
        wave: int,
        full_tables: dict[str, DataFrame],
        metrics: Optional[dict] = None,
    ) -> dict:
        """Atomically commit a snapshot: flush pending appends, rewrite
        the mutating tables, append the flushed delta segments to each
        delta table's committed list (carried forward from the current
        manifest), then swap the manifest in. Idempotent per wave:
        re-running a wave overwrites its full dirs and re-commits the
        same lists."""
        self.flush(wave)
        prev = self.read_manifest() or {"tables": {}}
        entries: dict[str, dict] = {}
        for name, df in full_tables.items():
            if df is None:
                continue
            seg = self.write_segment(name, f"wave={wave:06d}", df, wave)
            entries[name] = {"mode": "full", "segments": [seg]}
        # delta tables with nothing new this commit keep their
        # committed segment lists — a quiet table must not vanish
        for name, old in prev["tables"].items():
            if old.get("mode") == "delta" and name not in self._flushed:
                entries[name] = old
        for name, new_segs in self._flushed.items():
            old = prev["tables"].get(name, {})
            committed = list(old.get("segments", [])) if (
                old.get("mode") == "delta"
            ) else []
            # crash-replay hygiene: drop committed DATA segments from
            # waves the engine is re-running (their rows will be
            # re-flushed). Tombstones are exempt on both sides: a
            # tombstone's wave stamp must never clobber committed data
            # of that wave, and a committed tombstone must survive
            # replay — re-appended rows land AFTER it in segment
            # order, so the sequential fold keeps them while the
            # pre-tombstone rows stay deleted.
            replay_from = min(
                (
                    s["wave"]
                    for s in new_segs
                    if s.get("kind") != "tombstone"
                ),
                default=None,
            )
            if replay_from is not None:
                committed = [
                    s
                    for s in committed
                    if s["wave"] < replay_from
                    or s.get("kind") == "tombstone"
                ]
            entries[name] = {
                "mode": "delta",
                "segments": committed + list(new_segs),
            }
        manifest = {
            "format_version": 2,
            "wave": wave,
            "tables": entries,
            "metrics": metrics or {},
        }
        tmp = os.path.join(self.root, f".{MANIFEST}.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(self.root, MANIFEST))  # commit point
        self._flushed = {}
        # snapshot GC (AFTER the commit point, so a crash never loses a
        # committed dir): full-mode tables write a fresh wave-labelled
        # dir every checkpoint, and without cleanup every superseded
        # snapshot leaks — frontier-sized, once per wave. Keep the dirs
        # the NEW manifest names plus the previous manifest's (a lazy
        # plan created from the previous snapshot may not have
        # materialized yet); everything older is unreachable by any
        # reader and removed.
        keep = set()
        for src in (manifest, prev):
            for entry in src.get("tables", {}).values():
                if entry.get("mode") == "full":
                    for s in entry["segments"]:
                        keep.add(os.path.abspath(s["path"]))
        for name, entry in manifest["tables"].items():
            if entry.get("mode") != "full":
                continue
            tdir = os.path.join(self.root, name)
            if not os.path.isdir(tdir):
                continue
            for label in os.listdir(tdir):
                if not label.startswith("wave="):
                    continue
                p = os.path.abspath(os.path.join(tdir, label))
                if p not in keep:
                    shutil.rmtree(p, ignore_errors=True)
        return manifest

    # -- read -----------------------------------------------------------

    def read_manifest(self) -> Optional[dict]:
        p = os.path.join(self.root, MANIFEST)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def last_commit(self) -> int:
        """The last committed id (crawl wave or streaming batch id),
        -1 before the first commit."""
        m = self.read_manifest()
        return -1 if m is None else m["wave"]

    def load_snapshot(self, spark: SparkSession) -> Optional[tuple[int, dict]]:
        """(wave, {table: DataFrame}) for the last committed snapshot,
        or None if no manifest exists. Delta tables come back as the
        SEQUENTIAL fold of their segments: data segments union in
        commit order, and a tombstone segment (``kind: tombstone``,
        written by ``tombstone``) anti-joins its keys against
        everything folded so far — rows appended after the tombstone
        are untouched, the Iceberg row-level-delete apply order. The
        engine re-aggregates the additively-merged tables; tables with
        zero segments (nothing ever appended) are omitted — the engine
        keeps its typed empty base."""
        m = self.read_manifest()
        if m is None:
            return None
        tables = {}
        for name, entry in m["tables"].items():
            df = self._fold(spark, entry["segments"])
            if df is not None:
                tables[name] = df
        return m["wave"], tables

    def load_table(self, spark: SparkSession, name: str) -> Optional[DataFrame]:
        """One table of the last committed snapshot (see load_snapshot),
        or None if nothing of it is committed."""
        m = self.read_manifest()
        if m is None or name not in m["tables"]:
            return None
        return self._fold(spark, m["tables"][name]["segments"])

    @staticmethod
    def _fold(spark: SparkSession, segs: list[dict]) -> Optional[DataFrame]:
        if not segs:
            return None
        if not any(s.get("kind") == "tombstone" for s in segs):
            # fast path: one multi-path reader, no fold
            return spark.read.parquet(*[s["path"] for s in segs])
        df = None
        for s in segs:
            sdf = spark.read.parquet(s["path"])
            if s.get("kind") == "tombstone":
                if df is not None:
                    key = s.get("key", "url")
                    df = df.join(sdf.select(key), key, "left_anti")
            else:
                df = sdf if df is None else df.unionByName(sdf)
        return df
