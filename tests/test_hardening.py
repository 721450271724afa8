"""Pins for the round-3 robustness fixes (VERDICT r3 'what's wrong'
items 2-5): RAM-derived driver-heap cap, content-fingerprinted
cache keys, index layout-version check, and CACM qid parsing."""

from __future__ import annotations

import os

import pytest


def test_driver_heap_cap_derives_from_machine_ram(monkeypatch):
    """local[N] heap = min(5g/thread formula, 70% of ACTUAL RAM) —
    never a constant cap that can overcommit a small host whose
    shuffle dirs and index also live on RAM-backed /dev/shm."""
    from rechercheinfoweb_spark import session

    monkeypatch.setattr(session, "_machine_ram_gb", lambda: 32)
    # 5*32+4 = 164g formula, but 70% of 32 GiB caps it at 22g
    assert session._default_driver_memory("local[32]") == "22g"
    monkeypatch.setattr(session, "_machine_ram_gb", lambda: 256)
    # big host: the per-thread formula binds, not the cap
    assert session._default_driver_memory("local[32]") == "164g"
    # separate-JVM executors: driver only schedules
    assert session._default_driver_memory(
        "local-cluster[4,2,8192]") == "8g"


def test_machine_ram_reads_proc_meminfo():
    from rechercheinfoweb_spark.session import _machine_ram_gb

    got = _machine_ram_gb()
    with open("/proc/meminfo") as f:
        exp = max(1, int(f.readline().split()[1]) // (1024 * 1024))
    assert got == exp


def test_ann_cache_key_tracks_content(tmp_path, monkeypatch):
    """The contract's index cache key is a CONTENT fingerprint:
    rewriting the documents parquet (same path) must change the key,
    so a regenerated table never probes a stale index — and so must
    a change to one engine source file, so a cached index is never
    one that older engine code built or compacted."""
    import __spark_entry__ as entry

    p = tmp_path / "documents.parquet"
    p.write_bytes(b"v1-bytes")
    k1 = entry._content_key(str(p))
    os.utime(p, ns=(1, 1))
    k2 = entry._content_key(str(p))
    assert k1 != k2  # same bytes, new mtime -> regenerated file
    p.write_bytes(b"v2-bytes-longer")
    k3 = entry._content_key(str(p))
    assert k3 not in (k1, k2)

    engine = tmp_path / "engine"
    (engine / "operators").mkdir(parents=True)
    src = engine / "operators" / "compact.py"
    src.write_text("PURGE = 1\n")
    (engine / "notes.txt").write_text("not code")
    monkeypatch.setattr(entry, "_ENGINE_DIR", str(engine))
    k4 = entry._content_key(str(p))
    assert k4 != k3
    assert entry._content_key(str(p)) == k4  # stable for the same code
    (engine / "notes.txt").write_text("still not code")
    assert entry._content_key(str(p)) == k4
    src.write_text("PURGE = 2\n")
    assert entry._content_key(str(p)) not in (k3, k4)


def test_check_layout_rejects_incompatible_index():
    """A pre-v4 index (no/old layout column) fails fast with a clear
    message, not a bare KeyError deep in the stats reader."""
    from rechercheinfoweb_spark.operators.index_build import (
        INDEX_LAYOUT_VERSION, check_layout,
    )

    check_layout({"layout": INDEX_LAYOUT_VERSION})  # current: ok
    with pytest.raises(ValueError, match="layout"):
        check_layout({"layout": 3})
    with pytest.raises(ValueError, match="rebuild"):
        check_layout({})  # pre-layout-column index


def test_cacm_qids_parsed_from_record_not_counted(tmp_path):
    """qids come from the integer on the .I line: a gap or
    reordering in query.text must not shift later qrels mappings
    (the misalignment failure mode the reference risks)."""
    from rechercheinfoweb_spark.sources.cacm import cacm_queries

    (tmp_path / "query.text").write_text(
        ".I 1\n.W\nfirst query\n"
        ".I 7\n.W\nafter a gap\n"      # records 2-6 missing
        ".I 3\n.W\nout of order\n"     # reordered record
    )
    got = cacm_queries(str(tmp_path))
    assert set(got) == {1, 7, 3}
    assert got[7] == "after a gap "
    assert got[3] == "out of order "
