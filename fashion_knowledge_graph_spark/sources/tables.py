"""Snapshot-committed parquet tables + per-partition lineage/metrics.

The north_rule targets Iceberg tables with snapshot-checkpoint resume.
This sandbox has no Iceberg runtime jars, so this module implements
the same *contract* on plain parquet with an explicit atomic snapshot
log — the interface is a drop-in for ``df.writeTo(tbl).append()`` /
``spark.read.table(tbl)`` when Iceberg is on the classpath:

    table/
      data/snap-00000003/part-*.parquet      one dir per commit
      _snapshots/00000003.json               manifest: parent + files
      _snapshots/CURRENT                     atomic pointer (rename)

Semantics matched to Iceberg:
- a snapshot is visible only after its manifest + CURRENT pointer are
  written → readers never see partial data (crash mid-write leaves an
  orphan data dir, invisible — exactly Iceberg's behavior)
- ``append`` snapshots reference parent files + new files
- ``overwrite`` snapshots reference only new files
- time travel: ``read(spark, snapshot_id=N)``

Lineage (north_rule: "every stage writes per-partition lineage +
metrics"): after the plain JVM write, ``write`` reads each new file's
parquet footer on the driver (row count, optional min/max bounds — no
second scan of the data) and commits them in the snapshot manifest.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _stat_key(v):
    """JSON-storable, order-preserving key for a footer statistic:
    timestamps → epoch micros, dates → epoch days, bytes → str;
    ints/floats/strs pass through (same-type comparisons only)."""
    import datetime

    if isinstance(v, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return int((v - epoch).total_seconds() * 1_000_000)
    if isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self.snap_dir = os.path.join(root, "_snapshots")
        self.data_dir = os.path.join(root, "data")

    # ---- snapshot log -------------------------------------------------
    def current_snapshot(self) -> int | None:
        cur = os.path.join(self.snap_dir, "CURRENT")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            return int(f.read().strip())

    def _manifest(self, sid: int) -> dict:
        with open(os.path.join(self.snap_dir, f"{sid:08d}.json")) as f:
            return json.load(f)

    def snapshots(self) -> list[int]:
        if not os.path.isdir(self.snap_dir):
            return []
        return sorted(int(p.split(".")[0]) for p in os.listdir(self.snap_dir)
                      if p.endswith(".json"))

    # ---- write --------------------------------------------------------
    def write(self, df: DataFrame, mode: str = "append",
              stage: str | None = None,
              stats_cols: list[str] | None = None) -> int:
        """Commit ``df`` as a new snapshot; returns snapshot id.

        Lineage rows (stage, partition_id, output_rows, wall_ms,
        snapshot_id) come from the parquet footers of the files this
        write produced (one driver-side footer read per file) and are
        stored in the manifest.

        ``stats_cols``: column names whose per-FILE min/max are read
        from the parquet footers (no data pass — the same footer open
        that counts rows) and recorded in the manifest, exactly the
        lower/upper bounds an Iceberg manifest keeps per data file.
        ``read_where`` then prunes files against these bounds on the
        driver BEFORE Spark ever lists them — at 100 TB that is the
        difference between scanning a date slice and scanning the
        table. Numeric values are stored as-is; timestamps/dates as
        integer epoch-micros/days so JSON round-trips keep ordering.
        """
        os.makedirs(self.snap_dir, exist_ok=True)
        parent = self.current_snapshot()
        # allocate PAST every existing manifest, not parent+1: a
        # staged (write_staged) snapshot holds an id beyond CURRENT,
        # and parent+1 would overwrite its manifest
        sid = max(self.snapshots(), default=0) + 1
        out = os.path.join(self.data_dir, f"snap-{sid:08d}")

        t0 = time.time()
        # Plain JVM-side write — NO Python in the data path. Per-
        # partition lineage comes from the parquet footers afterwards:
        # one footer read per output file on the driver, exactly the
        # per-file stats an Iceberg commit records in its manifests.
        # (The previous design piped the whole dataset through a
        # mapInPandas pass-through to count rows — an Arrow round trip
        # of every byte, unacceptable at 100 TB.)
        df.write.mode("overwrite").parquet(out)
        wall_ms = int((time.time() - t0) * 1000)

        new_files = sorted(
            p for p in os.listdir(out) if p.endswith(".parquet"))
        import re
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        def _footer(p):
            m = re.match(r"part-(\d+)", p)
            pid = int(m.group(1)) if m else -1
            meta = pq.ParquetFile(os.path.join(out, p)).metadata
            row = {"stage": stage, "partition_id": pid,
                   "output_rows": int(meta.num_rows), "snapshot_id": sid,
                   "wall_ms": wall_ms}
            if stats_cols:
                names = {meta.schema.column(i).name: i
                         for i in range(meta.num_columns)}
                bounds = {}
                for c in stats_cols:
                    ci = names.get(c)
                    lo = hi = None
                    for g in range(meta.num_row_groups):
                        st = meta.row_group(g).column(ci).statistics
                        if st is None or not st.has_min_max:
                            lo = hi = None
                            break       # any unstat'd group → no bound
                        gmin, gmax = _stat_key(st.min), _stat_key(st.max)
                        lo = gmin if lo is None or gmin < lo else lo
                        hi = gmax if hi is None or gmax > hi else hi
                    if lo is not None:
                        bounds[c] = [lo, hi]
                row["bounds"] = bounds
            return row

        # footer reads are tiny but serial-per-file; at 64+ output
        # files this was measurable driver dead time between jobs
        with ThreadPoolExecutor(max_workers=16) as ex:
            lineage = list(ex.map(_footer, new_files))

        file_stats = {}
        if stats_cols:
            for p, row in zip(new_files, lineage):
                file_stats[os.path.join(f"snap-{sid:08d}", p)] = \
                    row.pop("bounds")

        files = [os.path.join(f"snap-{sid:08d}", p) for p in new_files]
        if mode == "append" and parent is not None:
            pm = self._manifest(parent)
            files = pm["files"] + files
            # carry forward parent per-file bounds so pruning sees the
            # whole table, exactly like Iceberg manifest inheritance
            file_stats = {**pm.get("file_stats", {}), **file_stats}
        manifest = {
            "snapshot_id": sid, "parent": parent, "mode": mode,
            "stage": stage, "wall_ms": wall_ms,
            "files": files,
            "lineage": lineage,
            # Iceberg keeps the table schema in metadata, not in data
            # files: readers bind by NAME to this schema, so an append
            # that adds a column null-fills it on pre-evolution files,
            # and `read` never runs a footer-inference job over
            # (at 100 TB) millions of files.
            "schema": json.loads(df.schema.json()),
            "commit_uuid": str(uuid.uuid4()),
        }
        if file_stats:
            manifest["file_stats"] = file_stats
        self._put_manifest(manifest)
        self.publish(sid)
        return sid

    def _put_manifest(self, manifest: dict) -> None:
        """Write a snapshot manifest atomically: temp file, then rename.
        The manifest must exist before CURRENT may point at it."""
        sid = manifest["snapshot_id"]
        tmp = os.path.join(self.snap_dir, f".{sid:08d}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(self.snap_dir, f"{sid:08d}.json"))

    def delete_where(self, spark: SparkSession,
                     condition: Column | str) -> int:
        """Row-level ``DELETE FROM t WHERE condition`` (S9/S10;
        reference `delete_vectors` src/database/vector_database.py:
        193-216 and `delete_product` src/database/graph_database.py:
        400-446): rewrite the current snapshot minus the matching rows
        and commit it as a NEW overwrite snapshot — exactly Iceberg's
        copy-on-write DELETE. Earlier snapshots stay readable (time
        travel shows the pre-delete data). Returns the snapshot id."""
        cur = self.read(spark)
        cond = condition if isinstance(condition, Column) \
            else F.expr(str(condition))
        # SQL DELETE removes rows where cond IS TRUE; a NULL predicate
        # (e.g. a NULL column in a comparison) must KEEP the row. A bare
        # filter(~cond) drops NULL-predicate rows too (NOT NULL = NULL
        # → filtered) — coalesce to FALSE first.
        return self.write(cur.filter(~F.coalesce(cond, F.lit(False))),
                          mode="overwrite", stage="delete")

    # ---- read ---------------------------------------------------------
    def read(self, spark: SparkSession,
             snapshot_id: int | None = None) -> DataFrame:
        """Read a snapshot with ITS schema (time travel sees the
        schema as of that snapshot, like Iceberg): files written
        before a column was added null-fill it by name. Falls back to
        footer inference for pre-schema-tracking manifests."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot()
        if sid is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        m = self._manifest(sid)
        files = [os.path.join(self.data_dir, f) for f in m["files"]]
        if "schema" in m:
            from pyspark.sql.types import StructType

            return spark.read.schema(
                StructType.fromJson(m["schema"])).parquet(*files)
        return spark.read.parquet(*files)

    def prune_files(self, col: str, lo=None, hi=None) -> tuple[list[str], int]:
        """Manifest-level data skipping: (surviving relpaths, total
        file count) for ``lo <= col <= hi``, using the per-file min/max
        recorded at write time (``stats_cols``). Files without recorded
        bounds are kept conservatively. Pure driver metadata — no Spark
        job, no file opens; this is Iceberg's planFiles() contract."""
        m = self._manifest(self.current_snapshot())
        stats = m.get("file_stats", {})
        lo_k = _stat_key(lo) if lo is not None else None
        hi_k = _stat_key(hi) if hi is not None else None
        kept = []
        for f in m["files"]:
            b = stats.get(f, {}).get(col)
            if b is None:
                kept.append(f)
                continue
            fmin, fmax = b
            if (hi_k is not None and fmin > hi_k) or \
                    (lo_k is not None and fmax < lo_k):
                continue
            kept.append(f)
        return kept, len(m["files"])

    def read_where(self, spark: SparkSession, col: str, lo=None,
                   hi=None) -> DataFrame:
        """Range-filtered read with manifest file pruning THEN the
        exact residual predicate (bounds are file-granular; rows inside
        a surviving file still need the filter — same two-level scheme
        as Iceberg + parquet row-group pushdown). Exactness does not
        depend on the stats: a file wrongly pruned would be a bug, a
        file wrongly kept only costs the scan."""
        kept, _ = self.prune_files(col, lo, hi)
        if not kept:
            return self.read(spark).filter(F.lit(False))
        df = spark.read.parquet(
            *[os.path.join(self.data_dir, f) for f in kept])
        c = F.col(col)
        if lo is not None:
            df = df.filter(c >= F.lit(lo))
        if hi is not None:
            df = df.filter(c <= F.lit(hi))
        return df

    def incremental_read(self, spark: SparkSession, from_snapshot: int,
                         to_snapshot: int | None = None) -> DataFrame:
        """CDC append scan: rows added AFTER ``from_snapshot`` up to
        ``to_snapshot`` (default CURRENT) — Iceberg's incremental
        append scan. Pure manifest file-set diff (appends never rewrite
        parent files), so no data comparison job. Raises if any commit
        in the range is an ``overwrite`` (a rewrite has no well-defined
        appended-rows delta), matching Iceberg's appendsBetween()."""
        to_sid = to_snapshot if to_snapshot is not None \
            else self.current_snapshot()
        sid = to_sid
        while sid is not None and sid != from_snapshot:
            m = self._manifest(sid)
            if m.get("mode") == "overwrite":
                raise ValueError(
                    f"snapshot {sid} is an overwrite; incremental read "
                    f"is defined for append-only ranges")
            sid = m.get("parent")
        if sid != from_snapshot:
            raise ValueError(
                f"snapshot {from_snapshot} is not an ancestor of {to_sid}")
        base = set(self._manifest(from_snapshot)["files"])
        new = [f for f in self._manifest(to_sid)["files"] if f not in base]
        if not new:
            return self.read(spark, to_sid).filter(F.lit(False))
        return spark.read.parquet(
            *[os.path.join(self.data_dir, f) for f in new])

    def diff(self, spark: SparkSession, from_snapshot: int) -> DataFrame:
        """Full change-data feed from ``from_snapshot`` to the current
        snapshot, INCLUDING rewrites (Delta CDF's shape, where
        ``incremental_read`` is Iceberg's append-only scan): rows
        present now but not in ``from`` come back tagged
        ``op='insert'``, rows present in ``from`` but not now tagged
        ``op='delete'`` (multiset
        semantics via EXCEPT ALL — duplicate rows diff by count).

        Scale: append-only ranges short-circuit to the manifest
        file-set diff — O(delta) planning, zero joins, the deletes
        side is empty by construction. Only ranges containing a
        rewrite (delete/merge/compact/publish) pay the two
        full-row-equality anti-joins, and those shuffle on every
        column — at 100 TB call it on bounded snapshot windows, or
        add a row-key and diff on that."""
        to_sid = self.current_snapshot()
        try:
            ins = self.incremental_read(spark, from_snapshot, to_sid)
            return ins.withColumn("op", F.lit("insert"))
        except ValueError:
            pass                      # rewrite in range → row diff
        old = self.read(spark, from_snapshot)
        new = self.read(spark, to_sid)
        cols = [f.name for f in old.schema.fields]
        inserts = new.select(*cols).exceptAll(old.select(*cols)) \
            .withColumn("op", F.lit("insert"))
        deletes = old.select(*cols).exceptAll(new.select(*cols)) \
            .withColumn("op", F.lit("delete"))
        return inserts.unionByName(deletes)

    def merge(self, spark: SparkSession, source: DataFrame,
              key_cols: list[str], stage: str | None = "merge") -> int:
        """``MERGE INTO target USING source ON keys WHEN MATCHED THEN
        UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` — the generic
        upsert (node/edge upsert in plans/pipeline.py are specialized
        forms; reference upsert semantics src/database/
        graph_database.py:137-183). Copy-on-write: unmatched target
        rows union source rows, committed as one overwrite snapshot.
        Scale: the anti-join shuffles on the merge keys only; at 100 TB
        with a dim-sized source Catalyst broadcasts it and the target
        never shuffles."""
        target = self.read(spark)
        cols = [f.name for f in target.schema.fields]
        untouched = target.join(
            source.select(*key_cols).distinct(), key_cols, "left_anti")
        merged = untouched.select(*cols).unionByName(source.select(*cols))
        return self.write(merged, mode="overwrite", stage=stage)

    def compact(self, spark: SparkSession,
                stats_cols: list[str] | None = None) -> int:
        """``OPTIMIZE`` / small-file bin-packing: rewrite the CURRENT
        snapshot's rows into ~128 MB files as
        one overwrite commit (stage ``compact``). The small-files
        problem is THE operational tax of streaming ingest at scale —
        a day of micro-batch appends leaves thousands of KB-sized
        files whose per-file open/footer/task costs dominate every
        subsequent scan; Iceberg's rewriteDataFiles / Delta's OPTIMIZE
        exist for exactly this. Content is row-identical by
        construction; earlier snapshots still read the old layout
        (time travel), and ``lineage_current`` restarts at the
        compaction like any overwrite.

        The file count is current-total-bytes / 128 MB (driver-side
        ``stat`` of the manifest's files — no Spark job), reached with
        ``coalesce`` (narrow — no shuffle, what merging small files
        needs). Pass ``stats_cols`` to re-record
        per-file min/max bounds — compaction of a sorted/z-ordered
        table keeps pruning tight."""
        sid = self.current_snapshot()
        if sid is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        total = sum(
            os.path.getsize(os.path.join(self.data_dir, f))
            for f in self._manifest(sid)["files"])
        packed = self.read(spark).coalesce(max(1, -(-total // (128 << 20))))
        return self.write(packed, mode="overwrite", stage="compact",
                          stats_cols=stats_cols)

    def rollback(self, snapshot_id: int) -> int:
        """Roll the table back to ``snapshot_id``'s state as a NEW
        commit that re-references that snapshot's exact file set —
        Iceberg's ``rollback_to_snapshot`` shape with history
        retained: pure driver-side metadata (no Spark job, no data
        copy — at 10^12 docs a bad-batch recovery must not touch
        data), the abandoned snapshots stay time-travelable until
        ``expire_snapshots`` reclaims them (their files are protected
        exactly while any retained manifest still references them),
        and the rollback itself is an auditable commit in the
        lineage chain. Raises if the target snapshot has expired."""
        tgt = self._manifest(snapshot_id)
        parent = self.current_snapshot()
        sid = max(self.snapshots(), default=0) + 1
        manifest = {
            "snapshot_id": sid, "parent": parent, "mode": "rollback",
            "stage": f"rollback_to_{snapshot_id}", "wall_ms": 0,
            "files": tgt["files"],
            "lineage": [{"stage": f"rollback_to_{snapshot_id}",
                         "partition_id": -1, "output_rows": 0,
                         "snapshot_id": sid, "wall_ms": 0}],
            "schema": tgt["schema"],
            "commit_uuid": str(uuid.uuid4()),
            "rollback_of": snapshot_id,
        }
        if tgt.get("file_stats"):
            manifest["file_stats"] = tgt["file_stats"]
        self._put_manifest(manifest)
        self.publish(sid)
        return sid

    def count_rows(self, snapshot_id: int | None = None) -> int:
        """Metadata-only ``COUNT(*)``: sum the per-file row counts the
        commit recorded from parquet footers — zero Spark jobs, zero
        data reads (Iceberg answers SELECT COUNT(*) the same way).
        Counts CURRENT content by re-deriving per-file rows from each
        retained manifest's lineage, restricted to the files the
        target manifest actually lists."""
        sid = snapshot_id if snapshot_id is not None \
            else self.current_snapshot()
        if sid is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        target_files = set(self._manifest(sid)["files"])
        total, seen = 0, set()
        # per-file rows live in the lineage of the commit that WROTE
        # the file; walk all retained manifests and take each listed
        # file's count once
        for s in self.snapshots():
            m = self._manifest(s)
            new_files = [f for f in m["files"]
                         if f.startswith(f"snap-{s:08d}")]
            for f, row in zip(sorted(new_files),
                              m.get("lineage", [])):
                if f in target_files and f not in seen:
                    total += row["output_rows"]
                    seen.add(f)
        if seen != target_files:
            raise ValueError("missing footer counts for "
                             f"{len(target_files - seen)} files")
        return total

    # ---- write-audit-publish -------------------------------------------
    def write_staged(self, df: DataFrame, stage: str | None = None) -> int:
        """WAP step 1: commit ``df`` as a snapshot WITHOUT moving
        CURRENT — readers keep seeing the published table while audits
        run against the staged snapshot (``read(spark, sid)``). The
        staged snapshot is an overwrite of table content when
        published; until then it is invisible and expirable."""
        before = self.current_snapshot()
        sid = self.write(df, mode="overwrite", stage=stage or "staged")
        # write() moved CURRENT; restore it (atomic replace, same
        # mechanism) — the manifest stays, unreferenced
        if before is None:
            os.unlink(os.path.join(self.snap_dir, "CURRENT"))
        else:
            self.publish(before)
        return sid

    def publish(self, snapshot_id: int) -> None:
        """Atomically point CURRENT at a committed snapshot — the
        commit point of every write, and WAP step 3 for an audited
        staged snapshot. One rename — readers switch between two
        complete table states, never a partial one."""
        self._manifest(snapshot_id)          # must exist
        tmp = os.path.join(self.snap_dir, ".CURRENT.tmp")
        with open(tmp, "w") as f:
            f.write(str(snapshot_id))
        os.replace(tmp, os.path.join(self.snap_dir, "CURRENT"))

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Retention: drop all but the newest ``keep_last`` snapshots
        and physically delete data files no retained snapshot
        references — Iceberg's ``expireSnapshots`` + orphan-file
        removal, the mechanism that stops a 100 TB table's history
        from storing every superseded rewrite forever.

        Safety property (the whole point): append chains SHARE files
        across manifests, so deletion is computed as
        ``all files − ⋃ retained manifests' files`` — a file is
        removed only when NO retained snapshot can reach it. The
        CURRENT snapshot is always retained; expired ids no longer
        time-travel (their manifests are gone). Pure driver-side
        metadata + unlink — no Spark job.

        Returns {"expired": [ids], "files_deleted": n, "bytes": n}.
        """
        sids = self.snapshots()
        if not sids:
            return {"expired": [], "files_deleted": 0, "bytes": 0}
        keep = set(sids[-max(keep_last, 1):])
        cur = self.current_snapshot()
        keep.add(cur)
        live: set[str] = set()
        for sid in keep:
            live.update(self._manifest(sid)["files"])
        expired = [s for s in sids if s not in keep]
        deleted = bytes_freed = 0
        for sid in expired:
            for f in self._manifest(sid)["files"]:
                if f in live:
                    continue
                p = os.path.join(self.data_dir, f)
                if os.path.exists(p):
                    bytes_freed += os.path.getsize(p)
                    os.unlink(p)
                    deleted += 1
                live.add(f)          # unlink once even if re-listed
            os.unlink(os.path.join(self.snap_dir, f"{sid:08d}.json"))
        # drop now-empty snapshot data dirs (cosmetic, keeps du clean)
        for d in list(os.listdir(self.data_dir)) \
                if os.path.isdir(self.data_dir) else []:
            full = os.path.join(self.data_dir, d)
            if os.path.isdir(full) and not os.listdir(full):
                os.rmdir(full)
        return {"expired": expired, "files_deleted": deleted,
                "bytes": bytes_freed}

    def exists(self) -> bool:
        return self.current_snapshot() is not None

    def lineage(self) -> list[dict]:
        """Full lineage history — every commit ever made (the A9
        audit-trail view; per-partition rows of superseded snapshots
        stay visible, like Iceberg's snapshot metadata tables)."""
        rows = []
        for sid in self.snapshots():
            rows.extend(self._manifest(sid).get("lineage", []))
        return rows

    def lineage_current(self) -> list[dict]:
        """Lineage of the CURRENT table content only: walk the parent
        chain from CURRENT, summing each commit's (new-file) lineage,
        and stop after the most recent ``overwrite`` — an overwrite
        replaces all content, so older commits' rows are no longer part
        of the table. Totals over this view equal the live table size
        even after rebuilds / deletes (the full-history ``lineage()``
        double-counts those)."""
        rows: list[dict] = []
        sid = self.current_snapshot()
        while sid is not None:
            try:
                m = self._manifest(sid)
            except FileNotFoundError:
                break     # ancestor expired (expire_snapshots) — the
                #  retained commits' lineage is all that remains
            rows.extend(m.get("lineage", []))
            if m.get("mode") == "overwrite":
                break
            sid = m.get("parent")
        return rows

    def drop(self):
        shutil.rmtree(self.root, ignore_errors=True)


def metrics_totals_df(spark: SparkSession,
                      tables: dict[str, SnapshotTable]) -> DataFrame:
    """Per-(table, stage) lineage row totals — the deterministic
    projection of A9 (per-partition counts vary with parallelism; the
    totals must equal the true table sizes, which the driver's DuckDB
    oracle recomputes from first principles). Totals walk only the
    CURRENT snapshot chain (``lineage_current``) so a rebuilt or
    delete-rewritten table is not double-counted."""
    agg: dict[tuple, int] = {}
    for name, t in tables.items():
        for r in t.lineage_current():
            key = (name, r.get("stage"))
            agg[key] = agg.get(key, 0) + int(r["output_rows"])
    rows = [(k[0], k[1], v) for k, v in sorted(agg.items())]
    return spark.createDataFrame(
        rows, "table string, stage string, output_rows long")

