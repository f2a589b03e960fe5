"""Round-14 optimization pins: tmpfs capacity guard, driver-memory clamp
and the streaming schema cache."""

from __future__ import annotations

import os

import pytest


# ---- /dev/shm capacity guard (r13 verdict item 1 / ADVICE medium) ----------


def test_fast_local_dir_falls_back_when_shm_small(monkeypatch):
    from flink_1_12_2_spark import session as S

    class FakeSt:
        f_bavail = 100
        f_frsize = 4096  # ~400 KB free — far below any sane headroom

    monkeypatch.delenv("SPARK_GRAFT_SHM_MIN_FREE", raising=False)
    monkeypatch.setattr(S.os, "statvfs", lambda p: FakeSt())
    assert S._fast_local_dir("/dev/shm") is None


def test_fast_local_dir_used_when_headroom(monkeypatch):
    from flink_1_12_2_spark import session as S

    class FakeSt:
        f_bavail = (64 << 30) // 4096  # 64 GiB free
        f_frsize = 4096

    monkeypatch.delenv("SPARK_GRAFT_SHM_MIN_FREE", raising=False)
    monkeypatch.setattr(S.os, "statvfs", lambda p: FakeSt())
    assert S._fast_local_dir("/dev/shm") == "/dev/shm"


def test_fast_local_dir_env_threshold(monkeypatch):
    from flink_1_12_2_spark import session as S

    class FakeSt:
        f_bavail = (1 << 30) // 4096  # 1 GiB free
        f_frsize = 4096

    monkeypatch.setattr(S.os, "statvfs", lambda p: FakeSt())
    monkeypatch.setenv("SPARK_GRAFT_SHM_MIN_FREE", str(512 << 20))
    assert S._fast_local_dir("/dev/shm") == "/dev/shm"
    monkeypatch.setenv("SPARK_GRAFT_SHM_MIN_FREE", str(2 << 30))
    assert S._fast_local_dir("/dev/shm") is None


def test_fast_local_dir_missing_path():
    from flink_1_12_2_spark import session as S

    assert S._fast_local_dir("/no/such/dir/exists") is None


# ---- driver-memory clamp (r13 ADVICE low) ----------------------------------


def test_default_driver_memory_clamp():
    from flink_1_12_2_spark.session import _default_driver_memory as d

    assert d(None) == "6g"  # unknown MemTotal -> historical default
    assert d(128 << 30) == "6g"  # big host: the measured 6g knee
    assert d(16 << 30) == "6g"  # 16 GiB: half is 8 GiB >= 6g
    assert d(8 << 30) == "4096m"  # 8 GiB host: half
    assert d(1 << 30) == "512m"  # tiny host: floor at 512m


def test_static_schema_cache_sees_part_file_rewritten_in_place(spark, tmp_path):
    """A part file rewritten in place leaves its directory's mtime and size
    alone; the streaming schema cache must still notice the new schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_1_12_2_spark.streaming.core import _static_schema

    table_dir = tmp_path / "t.parquet"
    table_dir.mkdir()
    part = table_dir / "part-0.parquet"
    pq.write_table(pa.table({"a": [1]}), part)
    os.utime(part, ns=(1_000_000_000, 1_000_000_000))
    assert _static_schema(spark, str(table_dir)).fieldNames() == ["a"]

    dir_stat = os.stat(table_dir)
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), part)  # same inode
    assert os.stat(table_dir).st_mtime_ns == dir_stat.st_mtime_ns
    assert os.stat(table_dir).st_size == dir_stat.st_size
    assert _static_schema(spark, str(table_dir)).fieldNames() == ["a", "b"]
