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
  ``models_db.py:288-306``). That chain half, :class:`ManifestChain`,
  is the package's one commit protocol for data at rest: the dedup
  index and the seen-url set are chains over their own roots;
* :meth:`SnapshotTable.write` is the single writer: it puts a frame
  under a fresh commit id (``data/bucket=<b>/commit_id=<id>/``) and
  returns the id, and nothing else in the package builds those paths;
* :func:`visible` is the single visibility rule: over a chain prefix,
  a commit is live from its snapshot until a later one ``replaces`` it
  (compaction), and data under a commit id no manifest names (a killed
  run) is never visible. Readers scan exactly the existing directories
  of the live (bucket, commit) pairs, so resume is exact and orphaned
  or superseded files are never even listed.

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
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from ai_pdf_extraction_spark.plans.partitioning import cluster_by_bucket


class SnapshotConflictError(RuntimeError):
    """Two writers raced for the same snapshot sequence number; the
    loser gets this instead of silently overwriting the winner."""


def is_catalog_name(root: str) -> bool:
    """Whether ``root`` names a catalog table (``ns.table``,
    ``cat.ns1.ns2.table``: dotted word-char identifiers of any depth)
    rather than a path. ``out-v2.final``, ``.hidden`` and ``a..b`` are
    paths; a bare ``out.v2`` reads as a table, so prefix ``./``."""
    return re.fullmatch(r"\w+(\.\w+)+", root) is not None


def visible(snapshots: list[dict]) -> tuple[set[int], dict[str, list[int]]]:
    """The visibility rule over a chain prefix (oldest first): the
    committed buckets, and each live commit id with the buckets its
    snapshot committed. A commit is live from its snapshot until a
    later snapshot of the prefix ``replaces`` it. The chain is linear
    (``commit`` claims sequence numbers exclusively), so the prefix up
    to a snapshot is exactly its ancestry."""
    buckets: set[int] = set()
    live: dict[str, list[int]] = {}
    for snap in snapshots:
        buckets.update(snap["buckets"])
        for cid in snap.get("replaces", []):
            live.pop(cid, None)
        if snap.get("commit_id"):
            live[snap["commit_id"]] = snap["buckets"]
    return buckets, live


def live_metrics(snapshots: list[dict]) -> list[dict]:
    """The per-bucket metrics recorded by the commits :func:`visible`
    leaves live over ``snapshots``."""
    live = visible(snapshots)[1]
    return [m for s in snapshots if s.get("commit_id") in live for m in s["metrics"]]


class _SnapshotChain:
    """What both table implementations derive from ``snapshots()``."""

    def snapshots(self) -> list[dict]:
        raise NotImplementedError

    def current_snapshot(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def committed_buckets(self) -> set[int]:
        return visible(self.snapshots())[0]

    def lineage(self) -> list[dict]:
        """Flattened per-partition lineage rows (north_rule)."""
        return [
            {
                "snapshot_id": snap["snapshot_id"],
                "parent_id": snap["parent_id"],
                "run_id": snap["run_id"],
                **m,
            }
            for snap in self.snapshots()
            for m in snap["metrics"]
        ]


class ManifestChain(_SnapshotChain):
    """A snapshot chain at rest under ``root/_manifests/``: the one
    commit protocol of the package's at-rest stores (the output table,
    the dedup index, the seen-url set). A store writes its data under a
    fresh commit id, then :meth:`commit` publishes one snapshot naming
    it; :func:`visible` decides what is live."""

    def __init__(self, root: str) -> None:
        # LAZY directory creation (review r5): constructing a handle
        # must not mkdir as a side effect — make_output_table probes
        # routing by constructing one, and an Iceberg-style name
        # ('graft.db.extract_test') left junk dirs in the cwd. Dirs
        # materialize on first write via _ensure_dirs().
        #
        # ABSOLUTE root (review r6): a relative root is resolved by
        # Python (manifests, os.listdir) against the PROCESS cwd but by
        # the JVM parquet writer against the JVM's launch cwd — if the
        # caller chdir'ed after session start, data and manifests land
        # in DIFFERENT directories. Pin both sides to one path up front.
        self.root = os.path.abspath(root)
        self.manifest_dir = os.path.join(self.root, "_manifests")

    def _ensure_dirs(self) -> None:
        os.makedirs(self.manifest_dir, exist_ok=True)

    def snapshots(self) -> list[dict]:
        if not os.path.isdir(self.manifest_dir):
            return []
        out = []
        for n in os.listdir(self.manifest_dir):
            if n.startswith("snapshot-") and n.endswith(".json"):
                with open(os.path.join(self.manifest_dir, n)) as fh:
                    out.append(json.load(fh))
        # by sequence, not file name: past 999,999 the name grows a digit
        return sorted(out, key=lambda snap: snap["sequence"])

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
        """Live commit ids (see :func:`visible`)."""
        return set(visible(self.snapshots())[1])

    def batch_summary(self, store: str) -> dict:
        """For a store that commits one batch per snapshot (the dedup
        index, the seen-url set): the properties of its last build, the
        live batch ids in commit order (``batches``) and each metric
        summed over the live batches. No chain raises
        ``FileNotFoundError`` naming ``store``."""
        snaps = self.snapshots()
        if not snaps:
            raise FileNotFoundError(f"no {store} snapshot chain at {self.manifest_dir}")
        totals: dict[str, int] = {}
        for m in live_metrics(snaps):
            for k, v in m.items():
                totals[k] = totals.get(k, 0) + v
        build = next(s for s in reversed(snaps) if s["properties"])
        return {**build["properties"], "batches": list(visible(snaps)[1]), **totals}

    def commit_batch(self, batch: str, metrics: dict, build: dict | None = None) -> None:
        """Commit one written batch of such a store. A build (``build``:
        its properties) replaces every live batch; an append adds one."""
        replaces = sorted(self.committed_commit_ids()) if build else None
        self.commit([], "build" if build else "append", [metrics], batch, replaces, build)

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


class SnapshotTable(ManifestChain):
    def __init__(self, root: str) -> None:
        super().__init__(root)
        self.data_dir = os.path.join(self.root, "data")

    def _ensure_dirs(self) -> None:
        os.makedirs(self.data_dir, exist_ok=True)
        super()._ensure_dirs()

    # -- write path --------------------------------------------------------

    def new_commit_id(self) -> str:
        self._ensure_dirs()
        return uuid.uuid4().hex

    def write(self, df: DataFrame) -> str:
        """Write ``df`` (carrying a ``bucket`` column) under a fresh
        commit id and return the id. The rows stay invisible until
        :meth:`commit` publishes a snapshot naming that id."""
        from pyspark.sql import functions as F

        commit_id = self.new_commit_id()
        (
            df.withColumn("commit_id", F.lit(commit_id))
            .write.partitionBy("bucket", "commit_id")
            .mode("append")
            .parquet(self.data_dir)
        )
        return commit_id

    def append(
        self,
        df: DataFrame,
        buckets: list[int],
        run_id: str,
        metrics: list[dict] | None = None,
    ) -> dict:
        """Write ``df`` (must carry a ``bucket`` column restricted to
        ``buckets``) and commit a snapshot manifest atomically.
        ``metrics`` are the per-bucket counters status sums over the
        chain; a commit without them adds no docs to it."""
        commit_id = self.write(df)
        return self.commit(buckets, run_id, metrics, commit_id=commit_id)

    # -- read path -----------------------------------------------------

    def data_dirs(self, commits: dict[str, list[int]] | None = None) -> list[str]:
        """The existing data directories of ``commits`` (commit id →
        buckets; default: the live ones). A bucket the commit wrote no
        rows to has no directory."""
        if commits is None:
            commits = visible(self.snapshots())[1]
        paths = (
            os.path.join(self.data_dir, f"bucket={b}", f"commit_id={cid}")
            for cid, buckets in commits.items()
            for b in buckets
        )
        return [p for p in paths if os.path.isdir(p)]

    def read_dirs(
        self, spark: SparkSession, dirs: list[str], merge_schema: bool = False
    ) -> DataFrame:
        """Read exactly ``dirs`` (from :meth:`data_dirs`), with
        ``bucket`` and ``commit_id`` as partition columns. No directory
        raises Spark's ``UNABLE_TO_INFER_SCHEMA``, like an empty table."""
        reader = spark.read.option("basePath", self.data_dir)
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*dirs)

    def read(self, spark: SparkSession, merge_schema: bool = False) -> DataFrame:
        """Read only snapshot-committed data: the live commits'
        directories, nothing else.

        ``merge_schema=True`` unions the schemas of all commits —
        needed after the output schema evolves (a column added between
        runs appears as null in pre-evolution commits, Iceberg
        add-column semantics). Off by default: schema merging reads
        every file footer."""
        return self.read_dirs(spark, self.data_dirs(), merge_schema)

    def read_at(self, spark: SparkSession, snapshot_id: str) -> DataFrame:
        """Time travel: read the table as of ``snapshot_id`` — what
        :func:`visible` leaves live over the chain up to and including
        that snapshot (Iceberg ``VERSION AS OF`` semantics)."""
        snaps = self.snapshots()
        ids = [s["snapshot_id"] for s in snaps]
        if snapshot_id not in ids:
            raise KeyError(f"unknown snapshot {snapshot_id!r}")
        live = visible(snaps[: ids.index(snapshot_id) + 1])[1]
        return self.read_dirs(spark, self.data_dirs(live))

    def compact(self, spark: SparkSession) -> dict:
        """Rewrite all committed data into one commit (the
        small-files maintenance pass — Iceberg's
        ``rewrite_data_files``) that holds one parquet file per bucket.
        Rows are placed by ``cluster_by_bucket`` on one partition per
        committed bucket, which gives each bucket one salt: one task per
        bucket, so no two buckets share a task by hash collision. The
        new commit records, per bucket, the sum of every integer
        counter of the commits it replaces, so status summed over the
        chain is unchanged. Old files stay on disk for
        time travel until :meth:`expire_superseded` removes them."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        snaps = self.snapshots()
        buckets, live = visible(snaps)
        dirs = self.data_dirs(live)
        if not dirs:
            return {"compacted": 0, "replaces": []}
        group = sorted(buckets)
        df = self.read_dirs(spark, dirs).drop("commit_id")
        # rows counted while the write runs, not by a read after it
        observed = Observation()
        new_id = self.write(
            cluster_by_bucket(df, group, len(group)).observe(
                observed, F.count(F.lit(1)).alias("n")
            )
        )
        n = observed.get["n"]
        totals: dict[int, dict] = {}
        for m in live_metrics(snaps):
            t = totals.setdefault(m["bucket"], {"bucket": m["bucket"]})
            for k, v in m.items():
                if k != "bucket" and type(v) is int:
                    t[k] = t.get(k, 0) + v
        old_ids = sorted(live)
        self.commit(
            group, run_id="compaction", metrics=[totals[b] for b in sorted(totals)],
            commit_id=new_id, replaces=old_ids,
        )
        return {"compacted": n, "replaces": old_ids, "commit_id": new_id}

    def expire_superseded(self) -> list[str]:
        """GC pass: delete data directories of commits superseded by a
        compaction (Iceberg ``expire_snapshots`` analogue). After this,
        time travel to pre-compaction snapshots no longer resolves —
        call only once older snapshots are out of retention."""
        import shutil

        snaps = self.snapshots()
        live = visible(snaps)[1]
        superseded = {
            s["commit_id"]: s["buckets"]
            for s in snaps
            if s.get("commit_id") and s["commit_id"] not in live
        }
        removed = self.data_dirs(superseded)
        for victim in removed:
            shutil.rmtree(victim)
        return removed


class IcebergSnapshotTable(_SnapshotChain):
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


def make_output_table(spark: SparkSession, root: str):
    """The output-table seam: an Iceberg table when the session has the
    catalog loaded AND ``root`` names a catalog table
    (:func:`is_catalog_name`), else the
    parquet+manifest ``SnapshotTable``. The SHARED interface is
    append/read/read_at/committed_buckets/current_snapshot — a
    deployment writes via ``project_extraction`` + ``append`` per
    bucket group in either mode. ``plans.pipeline.run_extraction``'s
    chunked-resume writer is parquet-layout-specific by design (it
    drives ``SnapshotTable.write`` and ``commit`` separately) and
    rejects catalog names loudly; flipping IT to Iceberg means
    swapping its write loop for ``append`` calls, not a table-name
    change (review r5 corrected the earlier overstated claim here)."""
    from ai_pdf_extraction_spark.session import iceberg_available

    if is_catalog_name(root) and iceberg_available(spark):
        return IcebergSnapshotTable(spark, root)
    return SnapshotTable(root)
