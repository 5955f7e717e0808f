"""Snapshot-committing output table: Iceberg semantics on plain parquet.

The north_rule targets an Iceberg output table with per-partition
watermark checkpoints committed as snapshots. The sandbox runtime has
no Iceberg jar (SURVEY.md §7.4), so this module implements the same
*semantics* behind a small interface:

* data files live under ``root/data/bucket=<b>/`` (hive-style layout —
  Spark prunes on ``bucket`` natively, the analogue of Iceberg's
  ``bucket(N, url)`` partition-transform pruning);
* each commit writes an atomic JSON manifest
  ``root/_manifests/snapshot-<k>.json`` recording the parent snapshot,
  the buckets committed, and per-bucket metrics — the snapshot chain
  IS the lineage (reference's audit trail analogue,
  ``models_db.py:288-306``);
* readers only trust buckets reachable from the manifest chain, so a
  killed run leaves no visible partial state and resume is exact.

On a real cluster, :func:`make_output_table` routes through a real
Iceberg catalog when the runtime jar is present (see
``session.find_iceberg_jar``) and falls back to ``SnapshotTable``
otherwise. The exact mapping between the two implementations:

====================================  =================================
SnapshotTable (manifest fallback)     Iceberg
====================================  =================================
``_manifests/snapshot-<k>.json``      table snapshot (metadata.json)
``commit_id`` dir partition           snapshot's data-file membership
``buckets`` list in manifest          snapshot summary property
                                      ``graft.buckets`` (json list)
``properties.n_buckets``              table property ``graft.n_buckets``
                                      (mirrors spec ``bucket(N, url)``)
``metrics`` list in manifest          snapshot summary property
                                      ``graft.metrics`` (json list)
``read()``                            ``spark.table(name)``
``read_at(snapshot_id)``              ``VERSION AS OF <snapshot-id>``
``compact()``                         ``rewrite_data_files``
``expire_superseded()``               ``expire_snapshots``
====================================  =================================
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


class SnapshotConflictError(RuntimeError):
    """Two writers raced for the same snapshot sequence number; the
    loser gets this instead of silently overwriting the winner."""


class SnapshotTable:
    def __init__(self, root: str) -> None:
        # LAZY directory creation (review r5): constructing a handle
        # must not mkdir as a side effect — make_output_table probes
        # routing by constructing one, and an Iceberg-style name
        # ('graft.db.extract_test') left junk dirs in the cwd. Dirs
        # materialize on first read/write via _ensure_dirs().
        #
        # ABSOLUTE root (review r6): a relative root is resolved by
        # Python (manifests, os.listdir) against the PROCESS cwd but by
        # the JVM parquet writer against the JVM's launch cwd — if the
        # caller chdir'ed after session start, data and manifests land
        # in DIFFERENT directories. Pin both sides to one path up front.
        self.root = os.path.abspath(root)
        root = self.root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "_manifests")

    def _ensure_dirs(self) -> None:
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- snapshot chain --------------------------------------------------

    def _manifest_paths(self) -> list[str]:
        if not os.path.isdir(self.manifest_dir):
            return []
        names = sorted(
            n for n in os.listdir(self.manifest_dir)
            if n.startswith("snapshot-") and n.endswith(".json")
        )
        return [os.path.join(self.manifest_dir, n) for n in names]

    def snapshots(self) -> list[dict]:
        return [json.load(open(p)) for p in self._manifest_paths()]

    def current_snapshot(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def committed_buckets(self) -> set[int]:
        out: set[int] = set()
        for snap in self.snapshots():
            out.update(snap["buckets"])
        return out

    def table_property(self, key: str):
        """Latest non-null value of a manifest property along the
        chain (e.g. ``n_buckets`` — the bucketing fanout the table's
        data was hashed with)."""
        value = None
        for snap in self.snapshots():
            v = snap.get("properties", {}).get(key)
            if v is not None:
                value = v
        return value

    def committed_commit_ids(self) -> set[str]:
        """Commit ids reachable from the manifest chain, minus commits
        superseded by a compaction. Data written under a commit id that
        never got a manifest (crashed run) is orphaned and invisible —
        Iceberg's uncommitted-file semantics."""
        live: set[str] = set()
        replaced: set[str] = set()
        for snap in self.snapshots():
            if snap.get("commit_id"):
                live.add(snap["commit_id"])
            replaced.update(snap.get("replaces", []))
        return live - replaced

    # -- write path --------------------------------------------------------

    def new_commit_id(self) -> str:
        self._ensure_dirs()
        return uuid.uuid4().hex

    def append(
        self,
        df: DataFrame,
        buckets: list[int],
        run_id: str,
        metrics: list[dict] | None = None,
    ) -> dict:
        """Write ``df`` (must carry a ``bucket`` column restricted to
        ``buckets``) and commit a snapshot manifest atomically."""
        from pyspark.sql import functions as F

        commit_id = self.new_commit_id()
        (
            df.withColumn("commit_id", F.lit(commit_id))
            .write.partitionBy("bucket", "commit_id")
            .mode("append")
            .parquet(self.data_dir)
        )
        return self.commit(buckets, run_id, metrics, commit_id=commit_id)

    def commit(
        self,
        buckets,
        run_id: str,
        metrics: list[dict] | None = None,
        commit_id: str | None = None,
        replaces: list[str] | None = None,
        properties: dict | None = None,
    ) -> dict:
        """Commit a snapshot manifest (data already written under
        ``commit_id``). Publication is an EXCLUSIVE ``os.link`` of the
        temp manifest onto ``snapshot-{seq}.json`` — link fails with
        EEXIST if another committer already claimed the sequence
        number, which surfaces the conflict as
        ``SnapshotConflictError`` instead of last-writer-wins
        overwriting the other commit's manifest (review r5: a zombie
        driver racing its replacement silently orphaned the loser's
        buckets). This is the CAS half of Iceberg's optimistic commit;
        callers may re-read the chain and retry. A crash before the
        link leaves the data files invisible, as before.
        ``replaces`` marks prior commit ids superseded by this one
        (compaction); ``properties`` carries table-level invariants
        (e.g. the bucketing fanout) checked on resume."""
        self._ensure_dirs()
        parent = self.current_snapshot()
        seq = (parent["sequence"] + 1) if parent else 0
        snap = {
            "snapshot_id": uuid.uuid4().hex,
            "sequence": seq,
            "parent_id": parent["snapshot_id"] if parent else None,
            "run_id": run_id,
            "commit_id": commit_id,
            "buckets": sorted(int(b) for b in buckets),
            "metrics": metrics or [],
            "replaces": replaces or [],
            "properties": properties or {},
        }
        tmp = os.path.join(self.manifest_dir, f".tmp-{snap['snapshot_id']}")
        with open(tmp, "w") as fh:
            json.dump(snap, fh, indent=1)
        target = os.path.join(self.manifest_dir, f"snapshot-{seq:06d}.json")
        try:
            os.link(tmp, target)
        except FileExistsError:
            raise SnapshotConflictError(
                f"snapshot sequence {seq} already committed by a "
                f"concurrent writer ({target}); re-read the chain and retry"
            ) from None
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass
        return snap

    # -- read path -----------------------------------------------------

    def read(self, spark: SparkSession, merge_schema: bool = False) -> DataFrame:
        """Read only snapshot-committed data. ``(bucket, commit_id)``
        are hive partition columns, so both filters prune partitions —
        uncommitted (orphaned) commit dirs are never scanned.

        ``merge_schema=True`` unions the schemas of all commits —
        needed after the output schema evolves (a column added between
        runs appears as null in pre-evolution commits, Iceberg
        add-column semantics). Off by default: schema merging reads
        every file footer."""
        self._ensure_dirs()  # fresh-path read keeps the empty-table shape
        reader = spark.read.option("basePath", self.data_dir)
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(self.data_dir)
        return df.filter(
            df.bucket.isin(sorted(self.committed_buckets()))
            & df.commit_id.isin(sorted(self.committed_commit_ids()))
        )

    def read_at(self, spark: SparkSession, snapshot_id: str) -> DataFrame:
        """Time travel: read the table as of ``snapshot_id`` — only
        data committed by that snapshot's ancestor chain is visible,
        minus commits a chain-ancestor compaction superseded (Iceberg
        ``VERSION AS OF`` semantics)."""
        by_id = {s["snapshot_id"]: s for s in self.snapshots()}
        if snapshot_id not in by_id:
            raise KeyError(f"unknown snapshot {snapshot_id!r}")
        commit_ids: set[str] = set()
        replaced: set[str] = set()
        buckets: set[int] = set()
        cur: str | None = snapshot_id
        while cur is not None:
            snap = by_id[cur]
            if snap.get("commit_id"):
                commit_ids.add(snap["commit_id"])
            replaced.update(snap.get("replaces", []))
            buckets.update(snap["buckets"])
            cur = snap["parent_id"]
        df = spark.read.option("basePath", self.data_dir).parquet(self.data_dir)
        return df.filter(
            df.bucket.isin(sorted(buckets))
            & df.commit_id.isin(sorted(commit_ids - replaced))
        )

    def compact(self, spark: SparkSession) -> dict:
        """Rewrite all committed data into one commit (the
        small-files maintenance pass — Iceberg's
        ``rewrite_data_files``). Many incremental commits × buckets
        leave at least one file per (bucket, commit) — one when
        ``run_extraction`` fanned a narrow input out by bucket, up to
        one per input task for an input already wide enough to skip the
        fan-out; after compaction readers scan one commit dir per
        bucket. Old files stay on disk for time travel until a GC pass
        removes them."""
        from pyspark.sql import functions as F

        old_ids = sorted(self.committed_commit_ids())
        if not old_ids:
            return {"compacted": 0, "replaces": []}
        df = self.read(spark).drop("commit_id")
        new_id = self.new_commit_id()
        (
            df.withColumn("commit_id", F.lit(new_id))
            .repartition("bucket")
            .write.partitionBy("bucket", "commit_id")
            .mode("append")
            .parquet(self.data_dir)
        )
        # row count from the freshly written commit's parquet metadata —
        # a pre-write df.count() would re-read every payload twice
        n = (
            spark.read.option("basePath", self.data_dir)
            .parquet(self.data_dir)
            .filter(F.col("commit_id") == new_id)
            .count()
        )
        self.commit(
            sorted(self.committed_buckets()),
            run_id="compaction",
            commit_id=new_id,
            replaces=old_ids,
        )
        return {"compacted": n, "replaces": old_ids, "commit_id": new_id}

    def expire_superseded(self) -> list[str]:
        """GC pass: delete data directories of commits superseded by a
        compaction (Iceberg ``expire_snapshots`` analogue). After this,
        time travel to pre-compaction snapshots no longer resolves —
        call only once older snapshots are out of retention."""
        import shutil

        live = self.committed_commit_ids()
        replaced: set[str] = set()
        for snap in self.snapshots():
            replaced.update(snap.get("replaces", []))
        removed: list[str] = []
        if not os.path.isdir(self.data_dir):  # never-written table
            return removed
        for cid in sorted(replaced - live):
            for bucket_dir in os.listdir(self.data_dir):
                victim = os.path.join(self.data_dir, bucket_dir, f"commit_id={cid}")
                if os.path.isdir(victim):
                    shutil.rmtree(victim)
                    removed.append(victim)
        return removed

    def lineage(self) -> list[dict]:
        """Flattened per-partition lineage rows (north_rule)."""
        rows = []
        for snap in self.snapshots():
            for m in snap["metrics"]:
                rows.append(
                    {
                        "snapshot_id": snap["snapshot_id"],
                        "parent_id": snap["parent_id"],
                        "run_id": snap["run_id"],
                        **m,
                    }
                )
        return rows


class IcebergSnapshotTable:
    """The SnapshotTable interface over a REAL Iceberg catalog table
    (see the module docstring's mapping table). Commit bookkeeping
    (buckets, run_id, metrics) rides each write's snapshot summary via
    write options ``snapshot-property.graft.*``; the snapshot chain is
    Iceberg's own, read back through the ``<name>.snapshots`` metadata
    table. Only constructible when the session's JVM actually loads the
    Iceberg catalog class — no silent parquet fallback inside this
    class (that routing decision belongs to :func:`make_output_table`).

    Untestable in this sandbox (no runtime jar ships with it) — the
    interface test carries a skipif and the manifest fallback remains
    the tested default. Kept deliberately thin so a jar drop-in is the
    only step to production Iceberg.
    """

    def __init__(self, spark: SparkSession, name: str) -> None:
        from ai_pdf_extraction_spark.session import iceberg_available

        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg catalog class not on the session classpath; "
                "use make_output_table() for automatic fallback"
            )
        self.spark = spark
        self.name = name  # catalog.namespace.table

    # -- snapshot chain ----------------------------------------------------

    def snapshots(self) -> list[dict]:
        rows = self.spark.sql(
            f"select snapshot_id, parent_id, summary from {self.name}.snapshots "
            "order by committed_at"
        ).collect()
        out = []
        for r in rows:
            summary = dict(r["summary"] or {})
            out.append(
                {
                    "snapshot_id": str(r["snapshot_id"]),
                    "parent_id": (
                        str(r["parent_id"]) if r["parent_id"] is not None else None
                    ),
                    "run_id": summary.get("graft.run_id"),
                    "buckets": json.loads(summary.get("graft.buckets", "[]")),
                    "metrics": json.loads(summary.get("graft.metrics", "[]")),
                }
            )
        return out

    def current_snapshot(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def committed_buckets(self) -> set[int]:
        out: set[int] = set()
        for snap in self.snapshots():
            out.update(snap["buckets"])
        return out

    def table_property(self, key: str):
        rows = self.spark.sql(f"show tblproperties {self.name}").collect()
        props = {r["key"]: r["value"] for r in rows}
        v = props.get(f"graft.{key}")
        return json.loads(v) if v is not None else None

    # -- write path --------------------------------------------------------

    def append(
        self,
        df: DataFrame,
        buckets: list[int],
        run_id: str,
        metrics: list[dict] | None = None,
    ) -> dict:
        writer = (
            df.writeTo(self.name)
            .option("snapshot-property.graft.run_id", run_id)
            .option(
                "snapshot-property.graft.buckets",
                json.dumps(sorted(int(b) for b in buckets)),
            )
            .option("snapshot-property.graft.metrics", json.dumps(metrics or []))
        )
        # first write: the table doesn't exist yet — create it
        # partitioned on the bucket column (spec twin of the fallback's
        # hive layout / bucket(N, url) transform). Existence is probed
        # via the catalog API, not by matching exception text: Iceberg
        # catalogs / Spark versions raise NoSuchTableException with
        # varying messages, so a substring match could silently route a
        # real failure into (or past) the create path.
        if self.spark.catalog.tableExists(self.name):
            writer.append()
        else:
            writer.partitionedBy(df.bucket).create()
        return self.current_snapshot()

    # -- read path ---------------------------------------------------------

    def read(self, spark: SparkSession | None = None) -> DataFrame:
        return (spark or self.spark).table(self.name)

    def read_at(self, spark: SparkSession | None, snapshot_id: str) -> DataFrame:
        return (spark or self.spark).sql(
            f"select * from {self.name} version as of {snapshot_id}"
        )

    def lineage(self) -> list[dict]:
        rows = []
        for snap in self.snapshots():
            for m in snap["metrics"]:
                rows.append(
                    {
                        "snapshot_id": snap["snapshot_id"],
                        "parent_id": snap["parent_id"],
                        "run_id": snap["run_id"],
                        **m,
                    }
                )
        return rows


def make_output_table(spark: SparkSession, root: str):
    """The output-table seam: an Iceberg table when the session has the
    catalog loaded AND ``root`` names a catalog table
    (``catalog.namespace.table`` — no path separators), else the
    parquet+manifest ``SnapshotTable``. The SHARED interface is
    append/read/read_at/committed_buckets/current_snapshot — a
    deployment writes via ``project_extraction`` + ``append`` per
    bucket group in either mode. ``plans.pipeline.run_extraction``'s
    chunked-resume writer is parquet-layout-specific by design (it
    manages commit-id data dirs and the manifest chain directly) and
    rejects catalog names loudly; flipping IT to Iceberg means
    swapping its write loop for ``append`` calls, not a table-name
    change (review r5 corrected the earlier overstated claim here)."""
    from ai_pdf_extraction_spark.session import iceberg_available

    looks_like_table = "/" not in root and "\\" not in root and root.count(".") >= 1
    if looks_like_table and iceberg_available(spark):
        return IcebergSnapshotTable(spark, root)
    return SnapshotTable(root)
