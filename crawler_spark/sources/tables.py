"""SnapshotTable — a parquet-backed stand-in for the Iceberg tables
the production deployment would use (this sandbox has no Iceberg
runtime jars). Provides the three properties the engine relies on:

  * atomic append/overwrite via versioned snapshot manifests
    (write parquet to a new snapshot dir, then atomically swap the
    manifest pointer — the same commit protocol shape as Iceberg's
    metadata pointer),
  * snapshot lineage: every commit records (snapshot_id, parent_id,
    operation, row_count, partition row counts) — the per-partition
    lineage the north rule asks for, keyed by written file and read
    from the parquet footers (no Spark job),
  * MERGE-style upsert (`merge`): WHEN MATCHED UPDATE / WHEN NOT
    MATCHED INSERT keyed on arbitrary columns, and time-travel reads
    by snapshot id,
  * maintenance: `compact()` (Iceberg rewrite_data_files — a
    resumable crawl's per-round fast-appends leave thousands of
    small files) and `expire()` (expire_snapshots — reclaim storage
    held live by time travel).

On a real cluster every call here maps 1:1 onto
`df.writeTo("catalog.db.t").append()` / `MERGE INTO` /
`VERSION AS OF` — the engine code paths would not change shape."""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.skeleton import _footer_rows


def _member_signature(member: str) -> tuple:
    """Directory-structure signature of a member rel path, from its
    NAME alone (no disk walk — read() runs on the per-round hot path).
    Spark's partition discovery requires every path in one scan to
    share a consistent layout relative to basePath; members whose
    signatures differ must go in separate scans. Three shapes exist:

      * hive members (`round=00001`, nested `sel=`/`kind=` inside) —
        written by the engine's commit_dir rounds,
      * flat members (`snap-000007`, plain part files) — written by
        overwrite / merge / insert_if_absent,
      * nested members (`compact-000009`, hive dirs INSIDE a non-hive
        dir) — written by compact().

    Hive and nested members RECOVER the same partition columns (Spark
    skips non-`key=value` segments between basePath and the files),
    but mixing them in one scan raises
    CONFLICTING_DIRECTORY_STRUCTURES — hence the grouping."""
    segs = member.split("/")
    if segs[-1].startswith("compact-"):
        return ("nested",)
    keys = tuple(s.split("=", 1)[0] for s in segs if "=" in s)
    return ("hive",) + keys if keys else ("flat",)


class SnapshotTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    # ---- manifest plumbing ----

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_manifest.json")

    def _manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"current": None, "snapshots": []}

    def _commit(self, mani: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(mani, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic pointer swap

    @staticmethod
    def _next_id(mani: dict) -> int:
        """Monotonic snapshot ids — max+1, NOT len+1: expire() removes
        manifest entries, and a reused id would corrupt time travel."""
        snaps = mani["snapshots"]
        return (max(s["id"] for s in snaps) + 1) if snaps else 1

    def _write_snapshot(self, df: DataFrame, op: str,
                        members: list[str]) -> None:
        mani = self._manifest()
        sid = self._next_id(mani)
        snap_dir = os.path.join(self.path, f"snap-{sid:06d}")
        df.write.mode("overwrite").parquet(snap_dir)
        parts = _footer_rows(snap_dir)
        mani["snapshots"].append({
            "id": sid,
            "parent": mani["current"],
            "op": op,
            "ts": time.time(),
            "rows": sum(parts.values()),
            "partition_rows": parts,
            "members": members,
        })
        mani["current"] = sid
        self._commit(mani)

    # ---- reads ----

    def read(self, snapshot_id: int | None = None,
             with_partition_columns: bool = False,
             schema=None) -> DataFrame:
        """Read a snapshot (current by default). Only COMMITTED member
        dirs are visible — a half-written dir that never reached
        commit_dir simply isn't in the manifest, which is the
        crash-consistency property the engine leans on.
        with_partition_columns=True recovers hive-style partition
        columns from member dir names (basePath read).

        `schema`: explicit file schema — skips footer-based schema
        inference, which re-reads one footer per member dir on EVERY
        read and grows O(rounds) during a crawl (a measurable slice of
        the per-round driver constant). Partition columns absent from
        the schema are still discovered and appended."""
        mani = self._manifest()
        sid = snapshot_id or mani["current"]
        if sid is None:
            raise FileNotFoundError(f"{self.path}: empty table")
        snap = next((s for s in mani["snapshots"] if s["id"] == sid), None)
        if snap is None:
            raise ValueError(
                f"{self.path}: snapshot {sid} not in manifest "
                f"(expired or never committed)")
        # basePath is always set: members use hive-style dir names
        # (round=NNNNN), and a multi-dir read without a common base
        # is rejected by the scan builder. Partition columns come for
        # free; with_partition_columns=False callers just don't
        # select them. Members with DIFFERENT directory structures
        # (hive rounds vs a compact() rewrite) cannot share one scan —
        # Spark raises CONFLICTING_DIRECTORY_STRUCTURES — so members
        # are grouped by structure signature and the group scans
        # unioned; a homogeneous snapshot (the hot engine path) stays
        # a single scan.
        groups: dict[tuple, list[str]] = {}
        for m in snap["members"]:
            groups.setdefault(_member_signature(m), []).append(m)

        def _scan(members: list[str]) -> DataFrame:
            reader = self.spark.read.option("basePath", self.path)
            if schema is not None:
                reader = reader.schema(schema)
            return reader.parquet(*[os.path.join(self.path, m)
                                    for m in members])

        scans = [_scan(ms) for ms in groups.values()]
        if len(scans) == 1:
            return scans[0]
        return reduce(lambda a, b: a.unionByName(
            b, allowMissingColumns=True), scans)

    def lineage(self) -> list[dict]:
        """Snapshot history — id, parent, op, rows, per-partition
        row counts (the metrics surface)."""
        return self._manifest()["snapshots"]

    def exists(self) -> bool:
        return self._manifest()["current"] is not None

    # ---- writes ----

    def overwrite(self, df: DataFrame) -> None:
        mani = self._manifest()
        sid = self._next_id(mani)
        self._write_snapshot(df, "overwrite", [f"snap-{sid:06d}"])

    def append(self, df: DataFrame) -> None:
        """Append = new data file + manifest listing old members too
        (no rewrite of existing data — Iceberg fast-append shape)."""
        mani = self._manifest()
        if mani["current"] is None:
            return self.overwrite(df)
        cur = next(s for s in mani["snapshots"] if s["id"] == mani["current"])
        sid = self._next_id(mani)
        new_dir = f"snap-{sid:06d}"
        df.write.mode("overwrite").parquet(os.path.join(self.path, new_dir))
        parts = _footer_rows(os.path.join(self.path, new_dir))
        mani["snapshots"].append({
            "id": sid, "parent": mani["current"], "op": "append",
            "ts": time.time(),
            "rows": sum(parts.values()),
            "partition_rows": parts,
            "members": cur["members"] + [new_dir],
        })
        mani["current"] = sid
        self._commit(mani)

    def commit_dir(self, rel_dir: str, op: str,
                   partition_rows: dict[str, int],
                   extra: dict | None = None) -> None:
        """Register an already-written directory under the table path
        as a fast-append snapshot (the Iceberg `add_files` shape): no
        data rewrite, no Spark job — per-partition lineage comes from
        the caller's parquet-footer counts. The engine writes each
        micro-batch round dir with its own partitioning, then commits
        it here; until the commit, readers cannot see the dir."""
        mani = self._manifest()
        cur_members: list[str] = []
        if mani["current"] is not None:
            cur_members = next(s for s in mani["snapshots"]
                               if s["id"] == mani["current"])["members"]
        sid = self._next_id(mani)
        # idempotent re-commit: a replayed round (crash after commit,
        # resume rewrote the dir) must not list its dir twice
        members = (cur_members if rel_dir in cur_members
                   else cur_members + [rel_dir])
        snap = {
            "id": sid, "parent": mani["current"], "op": op,
            "ts": time.time(),
            "rows": int(sum(partition_rows.values())),
            "partition_rows": {k: int(v) for k, v in partition_rows.items()},
            "members": members,
        }
        if extra:
            snap.update(extra)
        mani["snapshots"].append(snap)
        mani["current"] = sid
        self._commit(mani)

    def commit_marker(self, op: str, extra: dict | None = None) -> None:
        """Data-less snapshot (members unchanged) recording a state
        transition — e.g. the engine's crawl-complete marker."""
        mani = self._manifest()
        cur_members: list[str] = []
        if mani["current"] is not None:
            cur_members = next(s for s in mani["snapshots"]
                               if s["id"] == mani["current"])["members"]
        sid = self._next_id(mani)
        snap = {"id": sid, "parent": mani["current"], "op": op,
                "ts": time.time(), "rows": 0, "partition_rows": {},
                "members": cur_members}
        if extra:
            snap.update(extra)
        mani["snapshots"].append(snap)
        mani["current"] = sid
        self._commit(mani)

    def insert_if_absent(self, updates: DataFrame, key_cols: list[str],
                         order_col: str | None = None) -> None:
        """MERGE INTO … WHEN NOT MATCHED THEN INSERT — first-write-wins
        (the reference's exists-check skip on capture files,
        browser-session.ts:3400-3407): keys already in the table keep
        their ORIGINAL rows untouched; only unseen keys insert.
        Duplicate keys within `updates` keep the SMALLEST `order_col`
        (the first writer) when given, else a deterministic min."""
        w = Window.partitionBy(*key_cols).orderBy(
            F.col(order_col).asc() if order_col
            else F.struct(*[c for c in updates.columns
                            if c not in key_cols]).asc())
        updates = (updates.withColumn("__rn", F.row_number().over(w))
                   .filter(F.col("__rn") == 1).drop("__rn"))
        if not self.exists():
            return self.overwrite(updates)
        cur = self.read()
        fresh = updates.select(*cur.columns).join(
            cur.select(*key_cols).distinct(), key_cols, "left_anti")
        mani = self._manifest()
        sid = self._next_id(mani)
        self._write_snapshot(cur.unionByName(fresh), "insert_if_absent",
                             [f"snap-{sid:06d}"])

    def merge(self, updates: DataFrame, key_cols: list[str],
              order_col: str | None = None) -> None:
        """MERGE INTO … WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT:
        rows in `updates` replace same-key rows in the table.
        Duplicate keys within `updates` keep the greatest `order_col`
        (last-writer-wins) when given, else an arbitrary-but-
        deterministic max over remaining columns."""
        if order_col:
            w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
            updates = (updates.withColumn("__rn", F.row_number().over(w))
                       .filter(F.col("__rn") == 1).drop("__rn"))
        if not self.exists():
            return self.overwrite(updates)
        cur = self.read()
        untouched = cur.join(updates.select(*key_cols).distinct(),
                             key_cols, "left_anti")
        merged = untouched.unionByName(updates.select(*cur.columns))
        mani = self._manifest()
        sid = self._next_id(mani)
        self._write_snapshot(merged, "merge", [f"snap-{sid:06d}"])

    # ---- maintenance (the ops a 100 TB resumable crawl needs) ----

    def compact(self, target_file_mb: int = 128,
                sort_cols: list[str] | None = None) -> dict:
        """OPTIMIZE-style small-file compaction (Iceberg
        `rewrite_data_files`). A resumable crawl fast-appends one dir
        per micro-batch round — thousands of rounds × 32 task files
        each leaves a file census no 100 TB scan should pay per query.
        Rewrites the CURRENT snapshot's data into ~`target_file_mb`
        files, clustered by the table's hive partition columns (each
        partition value's rows land in one task → one file per hive
        leaf), and commits it as a new snapshot. Logical content is
        unchanged; older snapshots stay time-travelable until
        expire(). File census and partition keys come from one
        driver-side fs walk — the same metadata Iceberg keeps in its
        manifests; on a real cluster this is a metadata-only planning
        step.

        `sort_cols`: sort-clustered rewrite (Iceberg's sort order /
        rewrite strategy=sort). Unpartitioned data is RANGE-partitioned
        on the sort key — files get disjoint key ranges, so a point or
        range scan prunes to one file via parquet min/max row-group
        stats instead of touching all of them; hive-partitioned data
        keeps its partition clustering and sorts within files. This is
        what makes a 10^10-row URL-seen table answer membership probes
        without a full scan."""
        mani = self._manifest()
        if mani["current"] is None:
            raise FileNotFoundError(f"{self.path}: empty table")
        cur = next(s for s in mani["snapshots"]
                   if s["id"] == mani["current"])
        files_before, bytes_before = 0, 0
        pkeys: list[str] = []
        for m in cur["members"]:
            for r, _d, fs in os.walk(os.path.join(self.path, m)):
                for f in fs:
                    if not f.endswith(".parquet"):
                        continue
                    files_before += 1
                    bytes_before += os.path.getsize(os.path.join(r, f))
                    keys = [s.split("=", 1)[0]
                            for s in os.path.relpath(r, self.path).split(os.sep)
                            if "=" in s]
                    if len(keys) > len(pkeys):
                        pkeys = keys
        df = self.read()
        sid = self._next_id(mani)
        new_dir = f"compact-{sid:06d}"
        out = os.path.join(self.path, new_dir)
        n_files = max(1, math.ceil(bytes_before / (target_file_mb << 20)))
        if pkeys:
            w = df.repartition(n_files, *pkeys)
            if sort_cols:
                w = w.sortWithinPartitions(*(pkeys + sort_cols))
            w.write.mode("overwrite").partitionBy(*pkeys).parquet(out)
        elif sort_cols:
            (df.repartitionByRange(n_files, *sort_cols)
               .sortWithinPartitions(*sort_cols)
               .write.mode("overwrite").parquet(out))
        else:
            df.repartition(n_files).write.mode("overwrite").parquet(out)
        partition_rows = _footer_rows(out)
        files_after = len(partition_rows)
        mani["snapshots"].append({
            "id": sid, "parent": mani["current"], "op": "compact",
            "ts": time.time(),
            "rows": int(sum(partition_rows.values())),
            "partition_rows": partition_rows,
            "members": [new_dir],
            "files_before": files_before, "files_after": files_after,
            "bytes_rewritten": bytes_before,
        })
        mani["current"] = sid
        self._commit(mani)
        return {"files_before": files_before, "files_after": files_after,
                "rows": int(sum(partition_rows.values()))}

    def expire(self, keep_last: int = 1) -> dict:
        """Iceberg `expire_snapshots` shape: retain the most recent
        `keep_last` snapshots, drop older manifest entries, and delete
        member dirs no retained snapshot references. Without this, a
        compacted table still stores every pre-compaction file forever
        (time travel holds them live). The oldest retained snapshot's
        `parent` may point at an expired id — lineage truncates, same
        as Iceberg."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        mani = self._manifest()
        snaps = mani["snapshots"]
        if len(snaps) <= keep_last:
            return {"expired": 0, "deleted_dirs": []}
        keep, drop = snaps[-keep_last:], snaps[:-keep_last]
        kept_members = {m for s in keep for m in s["members"]}
        deleted: list[str] = []
        for m in sorted({m for s in drop for m in s["members"]}):
            # skip members still referenced, or nested under/over one
            if any(m == k or m.startswith(k + "/") or k.startswith(m + "/")
                   for k in kept_members):
                continue
            d = os.path.join(self.path, m)
            if os.path.isdir(d):
                shutil.rmtree(d)
                deleted.append(m)
        mani["snapshots"] = keep
        self._commit(mani)
        return {"expired": len(drop), "deleted_dirs": deleted}

    def remove_orphans(self, grace_sec: int = 3600) -> dict:
        """Iceberg `remove_orphan_files` shape: delete top-level dirs
        under the table path that NO snapshot references — debris from
        writes that crashed before their commit. commit_dir's
        crash-consistency property already makes such dirs invisible
        to readers; this reclaims their storage. A grace period guards
        in-flight writes: only dirs whose newest file mtime is older
        than `grace_sec` survive-check as abandoned."""
        mani = self._manifest()
        referenced = {m.split("/", 1)[0]
                      for s in mani["snapshots"] for m in s["members"]}
        deleted: list[str] = []
        now = time.time()
        for d in sorted(os.listdir(self.path)):
            full = os.path.join(self.path, d)
            if not os.path.isdir(full) or d in referenced:
                continue
            newest = max((os.path.getmtime(os.path.join(r, f))
                          for r, _dd, fs in os.walk(full) for f in fs),
                         default=os.path.getmtime(full))
            if now - newest >= grace_sec:
                shutil.rmtree(full)
                deleted.append(d)
        return {"deleted_dirs": deleted}
