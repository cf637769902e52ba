"""Persisted perceptual-image-hash artifact — incremental cross-snapshot
image dedup, the image twin of :class:`.dedup_store.MinHashStore` /
:class:`.audio_store.AudioFingerprintStore`.

The 100 TB image-crawl shape: each new batch of images must near-dedup
against EVERYTHING already accepted (the same photo re-encoded, resized,
format-converted), but re-decoding historical images per batch is
O(history) codec work. This store persists only the 64-bit pHashes,
banded for the Hamming join — (band, bucket, id, h) rows, a few longs
per image regardless of pixel count — so matching a new batch costs one
band-bucket join of the batch's hash table against the stored one: the
historical IMAGE BYTES are never re-read.

The artifact format is the shared one of :mod:`.snapshots`; band rows
are the stored layout, partitioned by ``band``, and the banding lives in
the manifest.

Matching is the banded-Hamming contract of
:func:`~duckdb_vss_spark.operators.dedup.hamming_pairs`: candidates
agree on >= 1 band chunk (complete for ``hamming < bands`` by
pigeonhole), verification is ``bit_count(xor)`` computed inside the
join. Exact matches bypass banding via an equi-join on the hash value
(cap-immune); near matches ride the distinct-hash band join of
:func:`~duckdb_vss_spark.operators.dedup._near_hash_pairs` (banding
picked from the call's bound, one escalation on observed skew, and a
``RuntimeWarning`` before any hot bucket of boilerplate images — logos,
spacers, test cards — is dropped).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import snapshots

__all__ = ["ImageHashStore"]


class ImageHashStore:
    """Handle on a persisted perceptual-hash dedup artifact. Use
    :meth:`create` / :meth:`open`, not the constructor."""

    _FORMAT = snapshots.Format(
        "ImageHashStore", "image-hash-store", "n_images", "band", ("band", "bucket", "id", "h")
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
        bands: int = 16,
        max_hamming: int = 10,
        overwrite: bool = False,
    ) -> "ImageHashStore":
        if max_hamming >= bands:
            raise ValueError("completeness requires max_hamming < bands (pigeonhole)")
        if 64 % bands != 0:
            raise ValueError(f"bands ({bands}) must divide 64")
        params = {"bands": int(bands), "max_hamming": int(max_hamming)}
        return cls(spark, root, snapshots.create_manifest(spark, root, cls._FORMAT, params, overwrite))

    @classmethod
    def open(cls, spark: SparkSession, root: str) -> "ImageHashStore":
        return cls(spark, root, snapshots.read_manifest(spark, root, cls._FORMAT))

    # -- hash plumbing -------------------------------------------------------

    def _hashes(
        self,
        df: DataFrame,
        id_col: str,
        content_col: Optional[str] = "content",
        hash_col: Optional[str] = None,
    ) -> DataFrame:
        """(id, __h LONG) per image. With ``hash_col`` the caller already
        has pHashes (e.g. :func:`~duckdb_vss_spark.pipelines.image_curate`
        computed them in its fused decode pass) and NO decode happens;
        otherwise ``content_col`` bytes run through the real decoder +
        :func:`~duckdb_vss_spark.operators.image.phash_kernel`."""
        if hash_col is not None:
            return df.select(F.col(id_col).alias("id"), F.col(hash_col).alias("__h"))
        from ..operators.image import phash

        return phash(df.select(id_col, content_col), id_col).select(
            F.col(id_col).alias("id"), F.col("phash").alias("__h")
        )

    def band_rows(
        self,
        df: DataFrame,
        id_col: str,
        content_col: Optional[str] = "content",
        hash_col: Optional[str] = None,
    ) -> DataFrame:
        """(band INT, bucket LONG, id, h LONG) rows for every image — the
        stored layout of :meth:`append_snapshot`."""
        from ..operators.dedup import _chunk_keys

        bands = self.manifest["bands"]
        return self._hashes(df, id_col, content_col, hash_col).select(
            F.posexplode(F.array(*_chunk_keys("__h", bands, 64 // bands, 1))).alias("band", "bucket"),
            F.col("id"),
            F.col("__h").alias("h"),
        )

    # -- operations --------------------------------------------------------

    def append_snapshot(
        self,
        df: DataFrame,
        id_col: str,
        snapshot: str,
        content_col: Optional[str] = "content",
        hash_col: Optional[str] = None,
    ) -> dict:
        """Hash ``df``'s images (or take ``hash_col`` verbatim) and commit
        them as ``snapshot`` (typically the batch's KEPT rows). Written
        partitioned by band; manifest overwrite is the atomic commit."""
        return self._snaps.commit(
            snapshot,
            self.band_rows(df, id_col, content_col, hash_col),
            self.manifest["bands"],
        )

    def match_against(
        self,
        df: DataFrame,
        id_col: str,
        content_col: Optional[str] = "content",
        hash_col: Optional[str] = None,
        max_hamming: Optional[int] = None,
        max_bucket: int = 1000,
    ) -> DataFrame:
        """Near-duplicate matches of ``df``'s images against the stored
        corpus: ``(id, store_id, snapshot, hamming INT)`` with
        ``hamming <= max_hamming`` (default: the store's configured bound;
        a smaller per-call bound is allowed — still complete by
        pigeonhole; a larger one is rejected).

        Exact matches bypass banding via an equi-join on the hash value
        (immune to any cap); near matches run the distinct-hash band join
        of :func:`~duckdb_vss_spark.operators.dedup._near_hash_pairs`.
        """
        bands = self.manifest["bands"]
        bound = self.manifest["max_hamming"] if max_hamming is None else int(max_hamming)
        if bound >= bands:
            raise ValueError(
                f"max_hamming ({bound}) must stay below the store's bands ({bands})"
            )
        store = self._snaps.store_df()
        if store is None:
            return self._snaps.no_matches(dict(df.dtypes)[id_col], "hamming int")
        from ..operators.dedup import _near_hash_pairs, _shared

        bh = _shared(self._hashes(df, id_col, content_col, hash_col))
        sh = store.select(
            F.col("id").alias("store_id"), F.col("snapshot"), F.col("h")
        ).dropDuplicates(["store_id", "snapshot", "h"])
        exact = bh.join(sh, bh["__h"] == sh["h"]).select(
            "id", "store_id", "snapshot", F.lit(0).cast("int").alias("hamming")
        )
        if bound == 0:
            return exact
        near_h = _near_hash_pairs(
            _shared(bh.select("__h").distinct().withColumnRenamed("__h", "h")),
            _shared(sh.select("h").distinct()),
            bound, max_bucket, "ImageHashStore.match_against", "matches",
        )
        near = (
            near_h.join(bh.withColumnRenamed("__h", "hb"), "hb")
            .join(sh.withColumnRenamed("h", "hs"), "hs")
            .select("id", "store_id", "snapshot", "hamming")
        )
        return near.unionByName(exact)

    def flag_batch(
        self,
        df: DataFrame,
        id_col: str,
        content_col: Optional[str] = "content",
        hash_col: Optional[str] = None,
        max_hamming: Optional[int] = None,
        flag_col: str = "dup_of_store",
    ) -> DataFrame:
        """``df`` plus boolean ``flag_col``: True when the image near-dups
        ANY stored image (flag-don't-drop)."""
        return snapshots.flag_rows(
            df, id_col, self.match_against(df, id_col, content_col, hash_col, max_hamming), flag_col
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
