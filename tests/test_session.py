"""Host sizing of the session defaults, checked without starting Spark."""

import os
from types import SimpleNamespace

from harvester_spark.session import default_driver_memory, default_local_dir

GIB = 1 << 30


def test_driver_memory_is_half_of_ram_capped():
    for ram_gib, want in ((15, "7680m"), (256, "49152m"), (1, "1024m")):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gib * GIB // 4096}
        assert default_driver_memory(pages.__getitem__) == want


def test_shm_scratch_needs_free_space(monkeypatch):
    def statvfs(free):
        return lambda path: SimpleNamespace(f_frsize=4096,
                                            f_bavail=free // 4096)

    def missing(path):
        raise FileNotFoundError(path)

    monkeypatch.setattr(os, "access", lambda path, mode: True)
    assert default_local_dir(statvfs(16 * GIB)) == "/dev/shm/spark-local"
    assert default_local_dir(statvfs(4 * GIB)) == "/dev/shm/spark-local"
    assert default_local_dir(statvfs(4 * GIB - 4096)) is None
    assert default_local_dir(missing) is None
    monkeypatch.setattr(os, "access", lambda path, mode: False)
    assert default_local_dir(statvfs(16 * GIB)) is None
