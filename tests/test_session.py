"""Host-fitted session defaults (kgforge.session.host_fit)."""

import os
import tempfile

from kgforge.session import SHM_NEED, host_fit

GIB = 1 << 30


def test_host_fit_heap_is_half_the_ram_within_1_to_16g():
    shm = 64 * GIB
    assert host_fit(int(15.7 * GIB), shm)[0] == "7g"
    assert host_fit(256 * GIB, shm)[0] == "16g"
    assert host_fit(GIB, shm)[0] == "1g"


def test_host_fit_shuffles_to_shm_unless_missing_or_full():
    phys = int(15.7 * GIB)
    assert host_fit(phys, 16 * GIB)[1] == "/dev/shm/spark-local"
    assert host_fit(phys, SHM_NEED)[1] == "/dev/shm/spark-local"
    disk = os.path.join(tempfile.gettempdir(), "spark-local")
    assert host_fit(phys, SHM_NEED - 1)[1] == disk
    assert host_fit(phys, 0)[1] == disk
