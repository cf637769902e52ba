"""Persisted video-fingerprint artifact — incremental cross-snapshot
video near-dup, completing the modality set next to
:class:`.dedup_store.MinHashStore` (text), :class:`.audio_store.
AudioFingerprintStore` (audio) and :class:`.image_store.ImageHashStore`
(still images).

State is the per-frame perceptual-hash table ``(id, t, h)`` from
:func:`~duckdb_vss_spark.operators.image.frame_phash` — three longs per
kept frame, regardless of resolution or codec — so matching a new batch
of clips against ALL history costs one banded-Hamming join of frame
hashes plus the offset-consistent vote (two clips match when
``min_matches`` frame pairs within per-frame Hamming ``max_hamming``
align at ONE temporal offset — re-encoded, re-containered, or
time-shifted copies all collide). Historical video bytes are never
re-decoded.

The artifact format is the shared one of :mod:`.snapshots`; raw
``(kb, id, t, h)`` frame-hash rows are the stored layout, partitioned by
layout bucket ``kb``, and the matching parameters (bands / max_hamming /
frame ``every_nth``) live in the manifest. Banding happens at MATCH
time, so a call can tighten ``max_hamming`` without rewriting state.

Exact frame matches bypass banding via an equi-join on the hash value
(cap-immune); near frame matches ride the distinct-hash band join of
:func:`~duckdb_vss_spark.operators.dedup._near_hash_pairs` (banding
picked from the call's bound, one escalation on observed skew, and a
``RuntimeWarning`` before any hot bucket of black frames, test cards or
station logos is dropped).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import snapshots

__all__ = ["VideoFingerprintStore"]

_KB = 64  # layout-bucket partitions (symmetry with the audio store)


class VideoFingerprintStore:
    """Handle on a persisted video-fingerprint dedup artifact. Use
    :meth:`create` / :meth:`open`, not the constructor."""

    _FORMAT = snapshots.Format(
        "VideoFingerprintStore", "video-fp-store", "n_clips", "kb", ("kb", "id", "t", "h")
    )

    def __init__(self, spark: SparkSession, root: str, manifest: dict):
        self.spark = spark
        self.root = root
        self.manifest = manifest
        self._snaps = snapshots.Snapshots(spark, root, manifest, self._FORMAT)

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        bands: int = 8,
        max_hamming: int = 4,
        every_nth: int = 1,
        overwrite: bool = False,
    ) -> "VideoFingerprintStore":
        if max_hamming >= bands:
            raise ValueError("completeness requires max_hamming < bands (pigeonhole)")
        if 64 % bands != 0:
            raise ValueError(f"bands ({bands}) must divide 64")
        params = {"bands": int(bands), "max_hamming": int(max_hamming), "every_nth": int(every_nth)}
        return cls(spark, root, snapshots.create_manifest(spark, root, cls._FORMAT, params, overwrite))

    @classmethod
    def open(cls, spark: SparkSession, root: str) -> "VideoFingerprintStore":
        return cls(spark, root, snapshots.read_manifest(spark, root, cls._FORMAT))

    # -- fingerprint plumbing ------------------------------------------------

    def key_rows(
        self,
        df: DataFrame,
        id_col: str,
        content_col: Optional[str] = "content",
        keys_df: Optional[DataFrame] = None,
    ) -> DataFrame:
        """(kb INT, id, t LONG, h LONG) frame-hash rows for every clip —
        the batch-side input of :meth:`match_against` and the stored
        layout of :meth:`append_snapshot`. With ``keys_df`` (a
        ``frame_phash``-shaped ``(id, t, key)`` table the caller already
        computed, e.g. inside :func:`~duckdb_vss_spark.pipelines.
        video_curate`) NO decode happens; otherwise ``content_col``
        bytes run through the real container decode + per-frame pHash
        with the manifest's frame sampling."""
        if keys_df is None:
            from ..operators.image import frame_phash
            from ..operators.multimodal import video_frames

            frames = video_frames(
                df.select(id_col, content_col),
                id_col,
                content_col,
                every_nth=self.manifest["every_nth"],
            ).filter(F.col("frame_idx") >= 0)
            keys_df = frame_phash(frames, id_col)
        kk = keys_df.select(
            F.col(id_col).alias("id"),
            F.col("t").cast("long").alias("t"),
            F.col("key").cast("long").alias("h"),
        )
        return kk.select(
            F.pmod(F.col("h"), F.lit(_KB)).cast("int").alias("kb"), "id", "t", "h"
        )

    # -- operations --------------------------------------------------------

    def append_snapshot(
        self,
        df: DataFrame,
        id_col: str,
        snapshot: str,
        content_col: Optional[str] = "content",
        keys_df: Optional[DataFrame] = None,
    ) -> dict:
        """Fingerprint ``df``'s clips (or take ``keys_df`` verbatim) and
        commit them as ``snapshot`` (typically the batch's KEPT rows)."""
        # frame grids always sample frame 0, so every decodable clip emits
        # exactly one t == 0 row: the commit's marker count (a keys_df
        # without marker rows falls back to the core's read-back)
        return self._snaps.commit(
            snapshot, self.key_rows(df, id_col, content_col, keys_df)
        )

    def match_against(
        self,
        df: DataFrame,
        id_col: str,
        content_col: Optional[str] = "content",
        keys_df: Optional[DataFrame] = None,
        min_matches: int = 5,
        max_hamming: Optional[int] = None,
        max_bucket: int = 1000,
    ) -> DataFrame:
        """Near-duplicate matches of ``df``'s clips against the stored
        corpus: ``(id, store_id, snapshot, offset, n_matches)`` with the
        best-offset vote count ``>= min_matches`` and per-frame Hamming
        ``<= max_hamming`` (default: the store's bound; smaller per-call
        bounds allowed). Exact frame matches bypass banding; near ones run
        the distinct-hash band join of
        :func:`~duckdb_vss_spark.operators.dedup._near_hash_pairs`. A
        (batch clip, stored clip) pair votes once per near-colliding frame
        pair per offset."""
        bands = self.manifest["bands"]
        bound = self.manifest["max_hamming"] if max_hamming is None else int(max_hamming)
        if bound >= bands:
            raise ValueError(
                f"max_hamming ({bound}) must stay below the store's bands ({bands})"
            )
        store = self._snaps.store_df()
        if store is None:
            id_t = dict(df.dtypes)[id_col] if keys_df is None else dict(keys_df.dtypes)[id_col]
            return self._snaps.no_matches(id_t, "offset long, n_matches long")
        from ..operators.dedup import _near_hash_pairs, _shared

        batch = _shared(self.key_rows(df, id_col, content_col, keys_df))
        skeys = store.select(
            F.col("id").alias("store_id"), "snapshot", "t", "h"
        )
        exact_pairs = batch.join(skeys, batch["h"] == skeys["h"]).select(
            "id", "store_id", "snapshot",
            batch["t"].alias("ta"), skeys["t"].alias("tb"),
        )
        near_pairs = None
        if bound >= 1:
            near_h = _near_hash_pairs(
                _shared(batch.select("h").distinct()),
                _shared(skeys.select("h").distinct()),
                bound, max_bucket, "VideoFingerprintStore.match_against", "frame matches",
            )
            near_pairs = (
                near_h.join(batch.withColumnRenamed("h", "hb"), "hb")
                .join(
                    skeys.withColumnRenamed("h", "hs")
                    .withColumnRenamed("t", "tb"),
                    "hs",
                )
                .select("id", "store_id", "snapshot", F.col("t").alias("ta"), "tb")
            )
        frame_pairs = (
            exact_pairs if near_pairs is None
            else exact_pairs.unionByName(near_pairs)
        )
        votes = frame_pairs.groupBy(
            "id", "store_id", "snapshot", (F.col("ta") - F.col("tb")).alias("offset")
        ).agg(F.count(F.lit(1)).alias("n_matches"))
        best = votes.groupBy("id", "store_id", "snapshot").agg(
            F.max(F.struct("n_matches", "offset")).alias("__best")
        )
        return best.select(
            "id",
            "store_id",
            "snapshot",
            F.col("__best.offset").alias("offset"),
            F.col("__best.n_matches").alias("n_matches"),
        ).filter(F.col("n_matches") >= min_matches)

    def flag_batch(
        self,
        df: DataFrame,
        id_col: str,
        content_col: Optional[str] = "content",
        keys_df: Optional[DataFrame] = None,
        min_matches: int = 5,
        flag_col: str = "dup_of_store",
    ) -> DataFrame:
        """``df`` plus boolean ``flag_col``: True when the clip near-dups
        ANY stored clip (flag-don't-drop)."""
        return snapshots.flag_rows(
            df, id_col, self.match_against(df, id_col, content_col, keys_df, min_matches), flag_col
        )

    def drop_snapshot(self, snapshot: str) -> None:
        """Retire a snapshot; :meth:`vacuum` reclaims its data dir."""
        self._snaps.drop(snapshot)

    def vacuum(self) -> list:
        """Delete data dirs not referenced by the manifest."""
        return self._snaps.vacuum()

    def info(self) -> dict:
        """Manifest snapshot (copy) for pragma-style introspection."""
        return dict(self.manifest)
