"""Session defaults sized from the host they start on."""

import os
import tempfile

from kgforge.session import MAX_DRIVER_MB, default_driver_memory, default_local_dir

GIB = 1 << 30


def test_driver_memory_is_half_the_host_capped():
    assert default_driver_memory(15 * GIB) == "7680m"
    assert default_driver_memory(64 * GIB) == f"{MAX_DRIVER_MB}m"
    assert default_driver_memory(GIB // 2) == "1024m"  # floor: 1g


def test_local_dir_falls_back_from_missing_or_small_tmpfs(tmp_path, monkeypatch):
    fallback = os.path.join(tempfile.gettempdir(), "spark-local")
    assert default_local_dir(str(tmp_path / "no-shm")) == fallback
    monkeypatch.setattr("kgforge.session.MIN_SHM_FREE_BYTES", 0)
    assert default_local_dir(str(tmp_path)) == str(tmp_path / "spark-local")
    monkeypatch.setattr("kgforge.session.MIN_SHM_FREE_BYTES", 1 << 62)
    assert default_local_dir(str(tmp_path)) == fallback
