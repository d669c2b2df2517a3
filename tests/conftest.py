from __future__ import annotations

import faulthandler
import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

HANG_TIMEOUT_S = 600

# The terminal's stderr, duplicated before pytest redirects fd 2 into
# per-test capture files: a watchdog dump written to fd 2 during a test
# would be lost when the process exits.
_terminal_stderr = None


def pytest_configure(config):
    global _terminal_stderr
    _terminal_stderr = os.fdopen(os.dup(2), "w")
    if config.option.durations is None:
        config.option.durations = 30


@pytest.fixture(scope="session")
def spark():
    from ydb_vector_search_demo_spark.session import get_spark

    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _hang_watchdog():
    """A test still running after HANG_TIMEOUT_S dumps every thread's
    stack (the main thread's names the test) and exits the run, so a
    hang fails loudly instead of using up the suite's time budget."""
    faulthandler.dump_traceback_later(
        HANG_TIMEOUT_S, exit=True, file=_terminal_stderr
    )
    yield
    faulthandler.cancel_dump_traceback_later()


@pytest.fixture(autouse=True)
def _release_dedup_persisted():
    """Dedup operators persist self-join inputs; release them after every
    test so a full suite run never accumulates pinned executor storage
    (same contract as bench.py between timed queries)."""
    yield
    from ydb_vector_search_demo_spark.operators import dedup

    dedup.release_persisted()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
