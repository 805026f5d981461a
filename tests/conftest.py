import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from renard_spark.session import get_spark  # noqa: E402


def _quarter_of_memory() -> str | None:
    """A quarter of physical memory, as a JVM heap size."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return None
    return f"{kb // 4 // 1024}m"


# The session's default 48g driver heap can exceed physical memory:
# G1 then grows the heap with garbage until the kernel kills the JVM
# mid-suite. A heap sized to the machine makes it collect instead.
# Set before the first session (here or in a test's subprocess) starts.
_HEAP = _quarter_of_memory()
if _HEAP:
    os.environ.setdefault("RENARD_SPARK_DRIVER_MEM", _HEAP)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("renard_spark_tests", cpus=8, shuffle_partitions=8)
    yield s
