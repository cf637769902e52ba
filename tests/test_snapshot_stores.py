"""One lifecycle, four stores: the shared snapshot-store format
(:mod:`duckdb_vss_spark.index.snapshots`) behind MinHashStore,
ImageHashStore, AudioFingerprintStore and VideoFingerprintStore.

Every store runs the same sequence — create, reopen, append, match,
drop, append without reusing a directory, an empty-snapshot commit, a
legacy manifest without ``next_snap_id``, vacuum — and its manifest
bytes are pinned to the layout earlier releases wrote, so stores created
before the shared core still open, match and keep growing identically.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest

from duckdb_vss_spark.index import fs
from duckdb_vss_spark.index.audio_store import AudioFingerprintStore
from duckdb_vss_spark.index.dedup_store import MinHashStore
from duckdb_vss_spark.index.image_store import ImageHashStore
from duckdb_vss_spark.index.video_store import VideoFingerprintStore

_TEXTS = {
    1: "the quick brown fox jumps over the lazy dog near the river bank today",
    2: "spark shuffles data between executors when wide dependencies appear in plans",
    3: "completely unrelated text about cooking pasta with garlic and olive oil",
    4: "a brand new document mentioning neither foxes nor executors at all whatsoever",
}


def _pcm(i: int) -> np.ndarray:
    rng = np.random.default_rng(70 + i)
    t = np.arange(4096)
    x = 0.4 * np.sin(2 * np.pi * (0.011 + 0.002 * i) * t) + 0.05 * rng.standard_normal(4096)
    return np.clip(np.round(x * 32768), -32768, 32767).astype(np.int16)


def _hash(i: int) -> int:
    """A well-spread signed 64-bit hash per item (far apart in Hamming)."""
    return int(np.random.default_rng(900 + i).integers(-(2**63), 2**63 - 1))


class _Text:
    cls, count_key = MinHashStore, "n_docs"

    def create(self, spark, root, **kw):
        return MinHashStore.create(spark, root, **kw)

    def items(self, spark, pairs):
        """``pairs``: (row id, source item) — a row with source ``j``
        carries item j's fingerprint, so it matches stored item j."""
        return spark.createDataFrame(
            [(i, _TEXTS[j]) for i, j in pairs], "doc_id long, text string"
        )

    def append(self, st, df, name):
        return st.append_snapshot(df, "text", "doc_id", name)

    def match(self, st, df):
        return st.match_against(df, "text", "doc_id", threshold=0.9)

    def flag(self, st, df):
        return st.flag_batch(df, "text", "doc_id", threshold=0.9)


class _Image:
    cls, count_key = ImageHashStore, "n_images"

    def create(self, spark, root, **kw):
        return ImageHashStore.create(spark, root, **kw)

    def items(self, spark, pairs):
        return spark.createDataFrame(
            [(i, _hash(j)) for i, j in pairs], "image_id long, phash long"
        )

    def append(self, st, df, name):
        return st.append_snapshot(df, "image_id", name, hash_col="phash")

    def match(self, st, df):
        return st.match_against(df, "image_id", hash_col="phash")

    def flag(self, st, df):
        return st.flag_batch(df, "image_id", hash_col="phash")


class _Audio:
    cls, count_key = AudioFingerprintStore, "n_clips"

    def create(self, spark, root, **kw):
        return AudioFingerprintStore.create(spark, root, **kw)

    def items(self, spark, pairs):
        from duckdb_vss_spark.operators.multimodal import encode_wav

        if not pairs:
            return spark.createDataFrame([], "clip_id long, content binary")
        return spark.createDataFrame(pd.DataFrame({
            "clip_id": [i for i, _ in pairs],
            "content": [encode_wav(_pcm(j), 8000) for _, j in pairs],
        }))

    def append(self, st, df, name):
        return st.append_snapshot(df, "content", "clip_id", name)

    def match(self, st, df):
        return st.match_against(df, "content", "clip_id", min_matches=5)

    def flag(self, st, df):
        return st.flag_batch(df, "content", "clip_id", min_matches=5)


class _Video:
    cls, count_key = VideoFingerprintStore, "n_clips"

    def create(self, spark, root, **kw):
        return VideoFingerprintStore.create(spark, root, **kw)

    def items(self, spark, pairs):
        """frame_phash-shaped (clip_id, t, key) tables: 6 frames per clip."""
        rows = [(i, t, _hash(100 * j + t)) for i, j in pairs for t in range(6)]
        return spark.createDataFrame(rows, "clip_id long, t long, key long")

    def append(self, st, df, name):
        return st.append_snapshot(None, "clip_id", name, keys_df=df)

    def match(self, st, df):
        return st.match_against(None, "clip_id", keys_df=df, min_matches=5)

    def flag(self, st, df):
        return st.flag_batch(df, "clip_id", keys_df=df, min_matches=5)


KITS = {"minhash": _Text(), "image": _Image(), "audio": _Audio(), "video": _Video()}


def _pairs(kit, st, spark, probe):
    return {(r["id"], r["store_id"], r["snapshot"]) for r in kit.match(st, kit.items(spark, probe)).collect()}


@pytest.mark.parametrize("kind", list(KITS))
def test_store_lifecycle(spark, tmp_path, kind):
    kit = KITS[kind]
    root = str(tmp_path / kind)
    st = kit.create(spark, root)
    with pytest.raises(ValueError, match="already exists"):
        kit.create(spark, root)
    other = [k for k in KITS if k != kind][0]
    KITS[other].create(spark, str(tmp_path / "other"))
    with pytest.raises(ValueError, match=r"not an? "):
        kit.cls.open(spark, str(tmp_path / "other"))
    # the empty store matches nothing, with the caller's id dtype
    assert kit.match(st, kit.items(spark, [(101, 1)])).count() == 0

    entry = kit.append(st, kit.items(spark, [(1, 1), (2, 2)]), "s1")
    assert entry == {"name": "s1", "dir": "snap-000000", kit.count_key: 2}
    with pytest.raises(ValueError, match="already in store"):
        kit.append(st, kit.items(spark, [(9, 3)]), "s1")
    st = kit.cls.open(spark, root)  # the manifest is the commit point
    assert st.info()[kit.count_key] == 2
    assert _pairs(kit, st, spark, [(101, 1), (104, 4)]) == {(101, 1, "s1")}
    flagged = {r[0]: r["dup_of_store"] for r in kit.flag(st, kit.items(spark, [(101, 1), (104, 4)])).collect()}
    assert flagged == {101: True, 104: False}

    kit.append(st, kit.items(spark, [(3, 3)]), "s2")
    st.drop_snapshot("s1")
    with pytest.raises(ValueError, match="not in store"):
        st.drop_snapshot("s1")
    assert st.info()[kit.count_key] == 1
    assert _pairs(kit, st, spark, [(101, 1), (103, 3)]) == {(103, 3, "s2")}
    # drop-then-append never reuses a directory: s2's rows survive
    kit.append(st, kit.items(spark, [(4, 4)]), "s3")
    assert [s["dir"] for s in st.info()["snapshots"]] == ["snap-000001", "snap-000002"]
    assert _pairs(kit, st, spark, [(103, 3), (104, 4)]) == {(103, 3, "s2"), (104, 4, "s3")}

    # an empty batch still commits a (fileless) snapshot
    entry = kit.append(st, kit.items(spark, []), "s4")
    assert entry == {"name": "s4", "dir": "snap-000003", kit.count_key: 0}
    assert kit.cls.open(spark, root).info()[kit.count_key] == 2

    # a legacy manifest without the counter allocates past every snap-*
    # dir on disk, the dropped-but-unvacuumed snap-000000 included
    del st.manifest["next_snap_id"]
    fs.write_json(spark, fs.join(root, "manifest.json"), st.manifest)
    legacy = kit.cls.open(spark, root)
    assert "next_snap_id" not in legacy.manifest
    assert kit.append(legacy, kit.items(spark, [(2, 2)]), "s5")["dir"] == "snap-000004"
    assert legacy.info()["next_snap_id"] == 5

    assert legacy.vacuum() == ["snap-000000"]
    assert legacy.vacuum() == []
    assert _pairs(kit, legacy, spark, [(102, 2), (103, 3)]) == {(102, 2, "s5"), (103, 3, "s2")}


# The manifest each store wrote before the shared core, after
# create -> append s1 (two items) -> append s2 (empty) -> drop s1 with
# default parameters: json.dumps(indent=2) of exactly these dicts, in
# this key order.
_LEGACY = {
    "minhash": {"format": "minhash-store", "version": 1, "shingle_n": 3, "num_perm": 16, "bands": 4},
    "image": {"format": "image-hash-store", "version": 1, "bands": 16, "max_hamming": 10},
    "audio": {"format": "audio-fp-store", "version": 1, "frame": 256, "blocks": 8, "key_frames": 4},
    "video": {"format": "video-fp-store", "version": 1, "bands": 8, "max_hamming": 4, "every_nth": 1},
}


@pytest.mark.parametrize("kind", list(KITS))
def test_manifest_bytes_match_the_legacy_layout(spark, tmp_path, kind):
    kit = KITS[kind]
    root = str(tmp_path / kind)
    key = kit.count_key
    st = kit.create(spark, root)
    created = {**_LEGACY[kind], "snapshots": [], key: 0, "next_snap_id": 0}
    assert fs.read_bytes(spark, root + "/manifest.json") == json.dumps(created, indent=2).encode()
    kit.append(st, kit.items(spark, [(1, 1), (2, 2)]), "s1")
    kit.append(st, kit.items(spark, []), "s2")
    st.drop_snapshot("s1")
    want = {
        **_LEGACY[kind],
        "snapshots": [{"name": "s2", "dir": "snap-000001", key: 0}],
        key: 0,
        "next_snap_id": 2,
    }
    assert fs.read_bytes(spark, root + "/manifest.json") == json.dumps(want, indent=2).encode()
    # the snapshot dirs are partitioned by the store's layout column
    part = "band" if kind in ("minhash", "image") else "kb"
    names = fs.listdir(spark, root + "/snap-000000")
    assert any(n.startswith(part + "=") for n in names)
    assert "_SUCCESS" in names


def test_store_parent_manifest_opens_and_matches(spark, tmp_path):
    """A store whose manifest was written by hand in the legacy layout
    (no writer of this module involved) opens, matches and appends."""
    kit = KITS["minhash"]
    root = str(tmp_path / "hand")
    seed = kit.create(spark, str(tmp_path / "seed"))
    kit.append(seed, kit.items(spark, [(1, 1)]), "s1")
    fs.mkdirs(spark, root)
    fs.rename(spark, str(tmp_path / "seed" / "snap-000000"), root + "/snap-000000")
    manifest = {
        **_LEGACY["minhash"],
        "snapshots": [{"name": "s1", "dir": "snap-000000", "n_docs": 1}],
        "n_docs": 1,
    }
    fs.write_bytes(spark, root + "/manifest.json", json.dumps(manifest, indent=2).encode())
    st = MinHashStore.open(spark, root)
    assert _pairs(kit, st, spark, [(101, 1)]) == {(101, 1, "s1")}
    assert kit.append(st, kit.items(spark, [(2, 2)]), "s2")["dir"] == "snap-000001"
