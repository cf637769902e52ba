"""The benchmark's traced run wraps package attributes from outside
(``perfbench/trace.py``). A refactor that renames or moves one of them
would break ``perfbench/run.py --trace 1`` silently; this pins that every
wrapped name still resolves and that uninstalling restores the originals.
No Spark session is started."""

from __future__ import annotations


def _current(owner, attr):
    return owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)


def test_tracer_hooks_resolve_and_restore():
    from duckdb_vss_spark.index import dedup_store, fs
    from perfbench.trace import Tracer

    tracer = Tracer()
    try:
        tracer.install()
        patches = list(tracer._patches)
        assert patches
        for owner, attr, raw in patches:
            assert _current(owner, attr) is not raw, (owner, attr)
        wrapped = {(owner, attr) for owner, attr, _ in patches}
        for name in ("create", "append_snapshot", "match_against", "drop_snapshot", "vacuum"):
            assert (dedup_store.MinHashStore, name) in wrapped
        for name in ("alloc_snap_dir", "listdir", "write_bytes", "write_json"):
            assert (fs, name) in wrapped
    finally:
        tracer.uninstall()
    assert not tracer._patches
    for owner, attr, raw in patches:
        assert _current(owner, attr) is raw, (owner, attr)
