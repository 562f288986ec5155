"""Unit coverage for the ADVICE r7 config probes: byte-size conf parsing
(operators/partitioning.py) and cgroup-aware heap sizing (session.py) —
pure-Python, no SparkSession needed."""

from __future__ import annotations

import pytest

from ab_inbev_big_data_case_spark.operators.partitioning import _parse_bytes
from ab_inbev_big_data_case_spark.session import _default_heap_gb


@pytest.mark.parametrize(
    ("conf", "expect"),
    [
        ("134217728", 134217728),
        ("134217728b", 134217728),
        ("128m", 128 * 1024**2),
        ("128MB", 128 * 1024**2),
        ("1g", 1024**3),
        ("2GB", 2 * 1024**3),
        ("512k", 512 * 1024),
        ("512KB", 512 * 1024),
        (" 64m ", 64 * 1024**2),
        ("1.5g", int(1.5 * 1024**3)),
    ],
)
def test_parse_bytes_suffixes(conf, expect):
    assert _parse_bytes(conf) == expect


def test_parse_bytes_garbage_raises():
    with pytest.raises(ValueError):
        _parse_bytes("lots")


def test_default_heap_within_bounds():
    gb = _default_heap_gb()
    assert 1 <= gb <= 16


def test_heap_respects_cgroup_limit_when_below_host(monkeypatch, tmp_path):
    from ab_inbev_big_data_case_spark import session as S

    # fake a 4 GiB cgroup v2 cap on a big host. The host probe is faked
    # too (ADVICE r8): _available_ram_bytes only trusts a cap BELOW host
    # RAM, so on a <=4 GiB physical machine the real sysconf would make
    # the fake cap ignored and the assert flake.
    page = 4096
    fake_host_pages = (64 * 1024**3) // page

    def fake_sysconf(name):
        return {"SC_PHYS_PAGES": fake_host_pages, "SC_PAGE_SIZE": page}[name]

    monkeypatch.setattr("os.sysconf", fake_sysconf)

    cg = tmp_path / "memory.max"
    cg.write_text(str(4 * 1024**3))
    real_open = open

    def fake_open(path, *a, **k):
        if str(path) == "/sys/fs/cgroup/memory.max":
            return real_open(cg, *a, **k)
        return real_open(path, *a, **k)

    monkeypatch.setattr("builtins.open", fake_open)
    assert S._default_heap_gb() == 2  # half of the 4 GiB cap, not host/2


@pytest.mark.parametrize(
    ("writable", "free_gib", "tmpfs_usable"),
    [(True, 16, True), (True, 4, False), (False, 16, False)],
)
def test_local_dir_tmpfs_is_per_user_and_space_checked(
    monkeypatch, writable, free_gib, tmpfs_usable
):
    """Without SPARK_GRAFT_LOCAL_DIR the scratch stays Spark's default in
    every /dev/shm state, a roomy writable one included, and /dev/shm is
    not probed. A per-user tmpfs directory is reached only by naming it in
    SPARK_GRAFT_LOCAL_DIR, and the override wins as given."""
    from types import SimpleNamespace

    from ab_inbev_big_data_case_spark import session as S

    probed = []

    def fake_statvfs(p):
        probed.append(p)
        return SimpleNamespace(f_bavail=free_gib * 1024**2, f_frsize=1024)

    def fake_access(p, mode):
        probed.append(p)
        return writable

    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR", raising=False)
    monkeypatch.setattr("os.path.isdir", lambda p: p == "/dev/shm")
    monkeypatch.setattr("os.access", fake_access)
    monkeypatch.setattr("os.statvfs", fake_statvfs)
    monkeypatch.setattr("os.getuid", lambda: 4242)
    assert tmpfs_usable == (writable and free_gib > 8)
    assert S._default_local_dir() is None
    for override in ("/dev/shm/spark_graft_local_4242", "/data/scratch"):
        monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", override)
        assert S._default_local_dir() == override
    assert probed == []


def test_default_master_follows_usable_cpus(monkeypatch):
    """With SPARK_GRAFT_CPUS unset the master gets one task thread per CPU
    the process may run on; the env var still wins when set."""
    from ab_inbev_big_data_case_spark import session as S

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr("os.sched_getaffinity", lambda pid: {0, 2, 5})
    assert S._default_master() == "local[3]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert S._default_master() == "local[32]"


def test_stream_upsert_app_id_is_required():
    """ADVICE r7: a shared literal default app_id would let two queries
    upserting one table shadow each other's batch watermarks."""
    import inspect

    from ab_inbev_big_data_case_spark.streaming.jobs import stream_upsert_deltalite

    sig = inspect.signature(stream_upsert_deltalite)
    assert sig.parameters["app_id"].default is inspect.Parameter.empty
