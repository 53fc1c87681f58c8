"""Iceberg-semantics table catalog over Parquet (SURVEY.md §7.2).

This layer reproduces the Iceberg semantics the north_star depends on —
atomic snapshot commits, a manifest log, time-travel by crawl round, and
append-vs-overwrite table evolution — over plain Parquet directories, so it
needs no Iceberg runtime jar. Each operation maps 1:1 onto an Iceberg call
(the table in SCALE.md). No second backend ships: without the jar it could
be neither run nor tested.

Layout:
    base/_manifest.jsonl            -- the snapshot log (small, driver-side)
    base/<table>/snap-<n>/part-*.parquet

Commit protocol (crash-safe, like Iceberg's):
  1. Spark writes the new data files into a fresh snapshot dir.
  2. The manifest is rewritten to a temp file and atomically renamed over
     the old one (os.replace on one filesystem == atomic metadata swap).
A crash between 1 and 2 leaves orphan files but an unchanged, consistent
manifest — exactly Iceberg's failure model. Readers only ever see
manifest-listed snapshots, so resume-from-round-R is exact (north_rule:
"resumable from checkpoint with per-partition lineage").
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class _Snap:
    table: str
    round: int
    snapshot_id: str
    mode: str            # 'append' | 'overwrite'
    dirs: list[str]      # full file-dir list for this snapshot (Iceberg manifest analogue)
    committed_ts: float
    data_dir: str = ""   # the single dir this commit added (delta reads)
    compaction: bool = False  # rewrite_data_files snapshot: same rows, new files


class Catalog:
    def __init__(self, base: str) -> None:
        self.base = base
        os.makedirs(base, exist_ok=True)

    # ---- manifest ----------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.base, "_manifest.jsonl")

    def _read_manifest(self) -> list[_Snap]:
        if not os.path.exists(self._manifest_path):
            return []
        out = []
        with open(self._manifest_path, "r", encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    out.append(_Snap(**json.loads(line)))
        return out

    def _write_manifest(self, snaps: list[_Snap]) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            for s in snaps:
                f.write(json.dumps(s.__dict__) + "\n")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path)  # atomic commit point

    # ---- public API ---------------------------------------------------
    def commit(
        self, name: str, df: DataFrame, round: int, mode: str = "overwrite",
        compaction: bool = False,
    ) -> str:
        """Atomically commit a new generation of `name` for crawl `round`.

        'overwrite' snapshots replace the table; 'append' snapshots extend
        the previous snapshot's file list (no rewrite of old data — O(delta)
        per round, which is what makes a 10^10-row seen set committable).
        `compaction` marks a rewrite_data_files snapshot (same logical rows,
        new physical files) so incremental readers (load_delta) skip it."""
        snaps = self._read_manifest()
        n = sum(1 for s in snaps if s.table == name)
        snap_id = f"snap-{name}-{n:05d}-r{round}"
        data_dir = os.path.join(self.base, name, snap_id)
        # a prune() (crash rollback) can leave orphan dirs whose sequence
        # number a later commit would reuse — skip past them (Iceberg's
        # analogue: snapshot ids are never reused after expiry)
        while os.path.exists(data_dir):
            n += 1
            snap_id = f"snap-{name}-{n:05d}-r{round}"
            data_dir = os.path.join(self.base, name, snap_id)
        df.write.mode("errorifexists").parquet(data_dir)
        prev = self._latest(snaps, name, None)
        dirs = [data_dir] if mode == "overwrite" else (list(prev.dirs) if prev else []) + [data_dir]
        snaps.append(_Snap(name, round, snap_id, mode, dirs, time.time(), data_dir, compaction))
        self._write_manifest(snaps)
        return snap_id

    @staticmethod
    def _latest(snaps: list[_Snap], name: str, round: int | None) -> _Snap | None:
        cand = [s for s in snaps if s.table == name and (round is None or s.round <= round)]
        return cand[-1] if cand else None

    def load(self, spark: SparkSession, name: str, round: int | None = None) -> DataFrame:
        """Read table `name` as of crawl `round` (time-travel; latest if
        None). Reads only the manifest-listed file dirs — later snapshots
        are invisible, so a resumed run sees exactly the checkpoint."""
        s = self._latest(self._read_manifest(), name, round)
        if s is None:
            raise KeyError(f"no snapshot for table {name!r} at round {round!r}")
        return spark.read.parquet(*s.dirs)

    def load_delta(self, spark: SparkSession, name: str, round: int) -> DataFrame:
        """Read ONLY the files a specific round's commit added (an Iceberg
        incremental/changelog read). Lets a round re-read its own freshly
        written data with column pruning instead of holding a wide persist.
        Compaction snapshots are skipped: they rewrite the WHOLE table at
        the current round, so treating one as that round's delta would
        return every row ever committed (ADVICE r02)."""
        cand = [
            s for s in self._read_manifest()
            if s.table == name and s.round == round and s.data_dir
            and not s.compaction
        ]
        if not cand:
            raise KeyError(f"no delta commit for table {name!r} at round {round}")
        return spark.read.parquet(cand[-1].data_dir)

    def prune(self, keep) -> int:
        """Atomically drop every manifest snapshot for which ``keep(snap)``
        is false; returns how many were dropped. Data files stay on disk as
        orphans (Iceberg's expired-snapshot model) — readers never see them
        because reads go through the manifest only. This is the rollback
        primitive crash recovery uses to discard a partially committed
        round before re-running it (see gpse/crawl.py resume)."""
        snaps = self._read_manifest()
        kept = [s for s in snaps if keep(s)]
        if len(kept) != len(snaps):
            self._write_manifest(kept)
        return len(snaps) - len(kept)

    def compact(self, spark: SparkSession, name: str, target_partitions: int | None = None) -> str:
        """Rewrite the table's CURRENT file set as one snapshot (Iceberg's
        rewrite_data_files). Append-mode tables accumulate one directory
        per round — at 10^10 scale that is the classic small-file problem:
        every reader pays a footer read per file and partition planning
        degrades. Compaction folds the chain into a single dir; the round
        number and time-travel to PRIOR snapshots are preserved (their
        dirs are still referenced by the older manifest entries until
        expire_snapshots)."""
        snaps = self._read_manifest()
        cur = self._latest(snaps, name, None)
        if cur is None:
            raise KeyError(f"no snapshot for table {name!r}")
        df = spark.read.parquet(*cur.dirs)
        if target_partitions:
            df = df.coalesce(target_partitions)
        return self.commit(name, df, cur.round, mode="overwrite", compaction=True)

    def expire_snapshots(self, name: str, keep_last: int = 1) -> int:
        """Drop all but the last `keep_last` manifest snapshots of `name`
        and DELETE data dirs no longer referenced by any kept snapshot of
        any table (Iceberg's expire_snapshots: bounds storage growth after
        compaction). Returns the number of directories removed."""
        import shutil

        snaps = self._read_manifest()
        mine = [s for s in snaps if s.table == name]
        drop = mine[:-keep_last] if keep_last > 0 else mine
        dropped_ids = {s.snapshot_id for s in drop}
        kept = [s for s in snaps if s.snapshot_id not in dropped_ids]
        referenced = {d for s in kept for d in s.dirs}
        to_delete = [
            d for s in drop for d in s.dirs
            if d not in referenced and os.path.isdir(d)
        ]
        self._write_manifest(kept)  # atomic: readers never see a half-expire
        for d in sorted(set(to_delete)):
            shutil.rmtree(d, ignore_errors=True)
        return len(set(to_delete))

    def exists(self, name: str) -> bool:
        return self._latest(self._read_manifest(), name, None) is not None

    def latest_round(self, name: str) -> int | None:
        s = self._latest(self._read_manifest(), name, None)
        return None if s is None else s.round

    def snapshots(self, name: str | None = None) -> list[dict]:
        return [s.__dict__ for s in self._read_manifest() if name is None or s.table == name]


def snapshot_diff(
    spark: SparkSession,
    cat,
    name: str,
    round_a: int,
    round_b: int,
    key_cols: list[str],
    value_cols: list[str] | None = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Changelog between two snapshots of one table (the Iceberg
    changelog-read idiom over this catalog's time-travel): rows `added`,
    `removed`, or `changed` going from the round_a snapshot to round_b,
    keyed on key_cols and compared on value_cols (default: every shared
    non-key column).

    Both sides are read through `cat.load(spark, name, round)`, the
    catalog's time-travel.

    Scale shape: each side is reduced MAP-SIDE to key_cols plus one
    xxhash64 over the value columns before the full-outer join, so the
    join shuffles keys + 8 bytes per row, never the row bodies — diffing
    two 100 TB page snapshots moves only the key/hash projection. The
    full-outer join hash-shuffles both sides on the same key, and the
    classification is a null-pattern CASE on the two hash columns
    (whole-stage codegen, no UDF).
    """
    a = cat.load(spark, name, round_a)
    b = cat.load(spark, name, round_b)
    if value_cols is None:
        shared = [c for c in a.columns if c in set(b.columns)]
        value_cols = [c for c in shared if c not in set(key_cols)]
    # Spark's multi-column hash SKIPS null children (the accumulator
    # passes through unchanged), so xxhash64(NULL,'x') == xxhash64('x',
    # NULL) — a value MOVING between columns would read as unchanged.
    # Interleave each column's never-null isNull flag with its value so
    # every column contributes at least one accumulator update at a fixed
    # position; cast to string so a type change between snapshots can't
    # alias two different values to one hash input.
    h = (
        F.xxhash64(
            *[
                part
                for c in value_cols
                for part in (F.col(c).isNull(), F.col(c).cast("string"))
            ]
        )
        if value_cols
        else F.lit(0)
    )
    sa = a.select(*key_cols, h.alias("_ha"))
    sb = b.select(*key_cols, h.alias("_hb"))
    j = sa.join(sb, key_cols, "full_outer")
    out = j.select(
        *key_cols,
        F.when(F.col("_ha").isNull(), F.lit("added"))
        .when(F.col("_hb").isNull(), F.lit("removed"))
        .when(F.col("_ha") != F.col("_hb"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )
    if not include_unchanged:
        out = out.filter(F.col("change") != "unchanged")
    return out
