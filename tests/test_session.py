"""Session helpers: the tmpfs capacity guard behind the fast local dir
and the host-derived driver-memory default."""

from __future__ import annotations


# ---- /dev/shm capacity guard (r13 verdict item 1 / ADVICE medium) ----------


def test_fast_local_dir_falls_back_when_shm_small(monkeypatch):
    from flink_1_12_2_spark import session as S

    class FakeSt:
        f_bavail = 100
        f_frsize = 4096  # ~400 KB free — far below any sane headroom

    monkeypatch.setattr(S.os, "statvfs", lambda p: FakeSt())
    assert S._fast_local_dir("/dev/shm") is None


def test_fast_local_dir_used_when_headroom(monkeypatch):
    from flink_1_12_2_spark import session as S

    class FakeSt:
        f_bavail = (64 << 30) // 4096  # 64 GiB free
        f_frsize = 4096

    monkeypatch.setattr(S.os, "statvfs", lambda p: FakeSt())
    assert S._fast_local_dir("/dev/shm") == "/dev/shm"


def test_fast_local_dir_threshold_argument(monkeypatch):
    from flink_1_12_2_spark import session as S

    class FakeSt:
        f_bavail = (1 << 30) // 4096  # 1 GiB free
        f_frsize = 4096

    monkeypatch.setattr(S.os, "statvfs", lambda p: FakeSt())
    assert S._fast_local_dir("/dev/shm", min_free=512 << 20) == "/dev/shm"
    assert S._fast_local_dir("/dev/shm", min_free=2 << 30) is None


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
