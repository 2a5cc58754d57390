from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Route TEST scratch (pytest tmp_path, the queries' tempfile.mkdtemp
# sandboxes, Spark shuffle/local dirs) to the tmpfs when one exists: the
# suite is dominated by control-plane I/O — state-store commits, ledger
# fsyncs, thousands of tiny parquet files — and on this box's ext4 that
# was ~37 min of SYS time for a 26-min wall run (measured r17; tmpfs
# writes are 4x faster and fsync-free). Tests only: bench.py and the
# driver's query runs are untouched, so timed numbers stay comparable.
# An externally-set TMPDIR always wins, and a tmpfs with less than
# _SHM_MIN_FREE bytes free is passed over (it caps test scratch at its
# size, so a nearly full one turns later tests into ENOSPC failures).
# Either way the run gets its own scratch dir, removed at session end.
_SHM = "/dev/shm"
_SHM_MIN_FREE = 4 << 30
_use_shm = (
    "TMPDIR" not in os.environ
    and os.path.isdir(_SHM)
    and os.access(_SHM, os.W_OK)
    and shutil.disk_usage(_SHM).free >= _SHM_MIN_FREE
)
_SCRATCH = tempfile.mkdtemp(
    prefix="reflex_spark_tests_", dir=_SHM if _use_shm else None
)
os.environ["TMPDIR"] = _SCRATCH
tempfile.tempdir = None  # drop the cached pre-TMPDIR choice

from reflex_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="reflex_spark_tests",
        shuffle_partitions=8,
        extra_conf={"spark.local.dir": tempfile.gettempdir()},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session", autouse=True)
def _remove_scratch():
    """Set up before ``spark`` and so torn down after it: the run's
    scratch dir goes once Spark has stopped writing to it."""
    yield
    shutil.rmtree(_SCRATCH, ignore_errors=True)
