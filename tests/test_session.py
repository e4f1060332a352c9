"""The session's host-derived defaults (no Spark needed)."""

from bigvectorbench_spark.session import _default_driver_mem


def _bytes(size: str) -> int:
    return int(size[:-1]) * {"m": 2 ** 20, "g": 2 ** 30}[size[-1]]


def test_default_driver_memory_fits_the_host():
    with open("/proc/meminfo") as f:
        host = next(int(ln.split()[1]) for ln in f
                    if ln.startswith("MemTotal:")) * 1024
    mem = _bytes(_default_driver_mem())
    assert 0 < mem <= host // 2
    assert mem <= 32 * 2 ** 30
