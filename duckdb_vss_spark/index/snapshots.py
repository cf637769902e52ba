"""The snapshot-store format shared by the four dedup stores.

:class:`.dedup_store.MinHashStore` (text), :class:`.image_store.
ImageHashStore`, :class:`.audio_store.AudioFingerprintStore` and
:class:`.video_store.VideoFingerprintStore` persist only the fingerprint
rows of the items they accepted, so matching a new batch against ALL
history is one join against those rows; the historical text, pixels or
audio are never re-read. This module owns their on-disk format once; a
store supplies its key rows, its match and its count rule.

- ``root/manifest.json`` is the atomic commit point: format name,
  ``version``, the fingerprint parameters (keys are only comparable
  between identically configured fingerprints, so the store owns them),
  the ``snapshots`` list of ``{name, dir, <count key>}``, the store-wide
  count and the monotonic ``next_snap_id``.
- Each snapshot is one ``snap-NNNNNN`` parquet directory, partitioned by
  the store's layout column and written BEFORE the manifest overwrite
  that commits it; a crash in between leaves an orphan that reads never
  touch. Names come from :func:`.fs.alloc_snap_dir` and are never reused.
- Retention is commit-then-collect: :meth:`Snapshots.drop` rewrites the
  manifest, :meth:`Snapshots.vacuum` later deletes unreferenced dirs, so
  a reader holding the old manifest can finish its scan.
- Control-plane I/O goes through :mod:`.fs`: any Hadoop filesystem.

A commit is one Spark job: the item count folds into the write through
the Observation API, and the rows are clustered by
``(layout column, pmod(xxhash64(id), defaultParallelism))`` so a
batch-scale commit coalesces into few files per layout value while a
corpus-scale build still spreads to cluster width.
"""

from __future__ import annotations

from typing import NamedTuple, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import fs

__all__ = ["Format", "Snapshots", "create_manifest", "read_manifest", "flag_rows"]

_MANIFEST = "manifest.json"


class Format(NamedTuple):
    """What distinguishes one store's artifact from another's."""

    kind: str  # class name, for error messages
    name: str  # the manifest's ``format`` value
    count_key: str  # per-snapshot and store-wide item count
    part_col: str  # layout column the snapshot dirs are partitioned by
    columns: tuple  # stored row columns, ``snapshot`` excluded


def create_manifest(
    spark: SparkSession, root: str, fmt: Format, params: dict, overwrite: bool
) -> dict:
    """Write the empty manifest of a new store at ``root`` (replacing an
    existing store only with ``overwrite``) and return it."""
    path = fs.join(root, _MANIFEST)
    if fs.exists(spark, path):
        if not overwrite:
            raise ValueError(f"{fmt.kind} already exists at {root}")
        fs.delete(spark, root)
    fs.mkdirs(spark, root)
    manifest = {
        "format": fmt.name,
        "version": 1,
        **params,
        "snapshots": [],
        fmt.count_key: 0,
        "next_snap_id": 0,
    }
    fs.write_json(spark, path, manifest)
    return manifest


def read_manifest(spark: SparkSession, root: str, fmt: Format) -> dict:
    """The committed manifest of the store at ``root``, checked to be of
    ``fmt``'s kind."""
    manifest = fs.read_json(spark, fs.join(root, _MANIFEST))
    if manifest.get("format") != fmt.name:
        article = "an" if fmt.kind[0] in "AEIOU" else "a"
        raise ValueError(f"not {article} {fmt.kind}: {root}")
    return manifest


def flag_rows(df: DataFrame, id_col: str, matches: DataFrame, flag_col: str) -> DataFrame:
    """``df`` plus boolean ``flag_col``: True when the row's id appears in
    ``matches.id`` (flag-don't-drop; the match pairs aggregate away)."""
    hits = matches.select(F.col("id").alias("__mid")).distinct()
    return (
        df.join(hits, F.col(id_col) == F.col("__mid"), "left")
        .withColumn(flag_col, F.col("__mid").isNotNull())
        .drop("__mid")
    )


class Snapshots:
    """One store's manifest and snapshot directories. ``manifest`` is the
    store's own dict: commits and drops update it in place."""

    def __init__(self, spark: SparkSession, root: str, manifest: dict, fmt: Format):
        self.spark = spark
        self.root = root
        self.manifest = manifest
        self.fmt = fmt
        self._memo = None  # (live dir tuple, unioned DataFrame)

    def store_df(self) -> Optional[DataFrame]:
        """Lazy union of every non-empty live snapshot's rows (plus
        ``snapshot``), or None when there are none.

        Memoized on the live snapshot-dir tuple: committed dirs are
        immutable, so a steady-state loop (one match per micro-batch)
        reuses the analyzed DataFrame and its file index instead of
        re-listing and re-reading every footer per batch; an append only
        extends the memo with the new dirs. Data is NOT persisted (the
        store can be TBs); only the lazy plan is reused."""
        key = tuple(
            s["dir"] for s in self.manifest["snapshots"]
            if s.get(self.fmt.count_key) != 0
        )
        if not key:
            return None
        if self._memo is not None and self._memo[0] == key:
            return self._memo[1]
        out, todo = None, key
        if self._memo is not None and key[: len(self._memo[0])] == self._memo[0]:
            out, todo = self._memo[1], key[len(self._memo[0]):]
        for dirname in todo:
            df = self.spark.read.parquet(fs.join(self.root, dirname)).select(
                *self.fmt.columns, "snapshot"
            )
            out = df if out is None else out.unionByName(df)
        self._memo = (key, out)
        return out

    def no_matches(self, id_type: str, cols: str) -> DataFrame:
        """The empty match result for an empty store: its id columns track
        the caller's id dtype, so empty- and non-empty-store paths return
        the same schema (string ids included)."""
        return self.spark.createDataFrame(
            [], f"id {id_type}, store_id {id_type}, snapshot string, {cols}"
        )

    def commit(
        self, snapshot: str, rows: DataFrame, rows_per_item: Optional[int] = None
    ) -> dict:
        """Write ``rows`` as snapshot ``snapshot`` and commit it; returns
        the new manifest entry.

        The item count is observed on the write itself. With
        ``rows_per_item`` every item emits exactly that many rows, so the
        count is rows // rows_per_item. Without it every item emits exactly
        one ``t == 0`` marker row and the count is those markers; rows
        without any marker (a caller-shaped key table) fall back to
        counting the distinct ids just written."""
        if any(s["name"] == snapshot for s in self.manifest["snapshots"]):
            raise ValueError(f"snapshot {snapshot!r} already in store")
        spark, part = self.spark, self.fmt.part_col
        dirname = fs.alloc_snap_dir(spark, self.root, self.manifest)
        out = fs.join(self.root, dirname)
        obs = Observation()
        metrics = [F.count(F.lit(1)).alias("rows")]
        if rows_per_item is None:
            metrics.append(F.count_if(F.col("t") == 0).alias("clips"))
        rows = rows.withColumn("snapshot", F.lit(snapshot)).observe(obs, *metrics)
        par = max(1, int(spark.sparkContext.defaultParallelism))
        rows = rows.repartition(F.col(part), F.pmod(F.xxhash64(F.col("id")), F.lit(par)))
        rows.write.partitionBy(part).parquet(out, mode="overwrite")
        try:
            got = obs.get
            if rows_per_item is not None:
                n = int(got["rows"]) // int(rows_per_item)
            else:
                n = int(got["clips"])
                if n == 0 and int(got["rows"]) > 0:
                    n = spark.read.parquet(out).select("id").distinct().count()
        except Exception:
            # an EMPTY batch: AQE's empty-relation propagation can eliminate
            # the CollectMetrics node with the rest of the plan, so no
            # metrics row exists — prove emptiness (or not) from the listing
            has_data = any(
                nm.startswith(part + "=")
                or (nm.startswith("part-") and not nm.endswith(".crc"))
                for nm in fs.listdir(spark, out)
            )
            n = spark.read.parquet(out).select("id").distinct().count() if has_data else 0
        entry = {"name": snapshot, "dir": dirname, self.fmt.count_key: n}
        self.manifest["snapshots"].append(entry)
        self.manifest[self.fmt.count_key] += n
        fs.write_json(spark, fs.join(self.root, _MANIFEST), self.manifest)
        return entry

    def drop(self, snapshot: str) -> None:
        """Remove ``snapshot`` from the manifest (the commit); its data dir
        becomes an orphan for :meth:`vacuum`."""
        snaps = self.manifest["snapshots"]
        entry = next((s for s in snaps if s["name"] == snapshot), None)
        if entry is None:
            raise ValueError(f"snapshot {snapshot!r} not in store")
        self.manifest["snapshots"] = [s for s in snaps if s["name"] != snapshot]
        self.manifest[self.fmt.count_key] -= entry[self.fmt.count_key]
        fs.write_json(self.spark, fs.join(self.root, _MANIFEST), self.manifest)

    def vacuum(self) -> list:
        """Delete ``snap-*`` dirs the manifest no longer references
        (dropped snapshots, crash orphans); returns their names."""
        live = {s["dir"] for s in self.manifest["snapshots"]}
        deleted = []
        for name in fs.listdir(self.spark, self.root):
            base = name.rstrip("/").split("/")[-1]
            if base.startswith("snap-") and base not in live:
                fs.delete(self.spark, fs.join(self.root, base))
                deleted.append(base)
        return deleted
