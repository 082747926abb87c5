from __future__ import annotations

import faulthandler
import os
import signal

import pytest

from parallel_monte_carlo_simulations_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"

# Per-test wall-clock budget. A py4j client wedge (observed once: a failed
# driver-side toPandas whose error never reached Python — zero failed
# stages, the client waited forever) otherwise burns an entire session
# silently. SIGALRM turns any >TIMEOUT test into a loud failure with a
# stack dump from every thread instead of a hang. No external packages.
TEST_TIMEOUT_S = int(os.environ.get("PMCS_TEST_TIMEOUT_S", "300"))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="pmcs-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s


@pytest.fixture(autouse=True)
def _drop_caches_between_tests(request):
    """Unpersist everything a query cached once its test is done.

    Iterative queries (ALS, graph delta-iterations) persist intermediate
    frames and cannot unpersist them before returning — the caller has
    not materialized the result yet. Releasing here bounds cached-block
    accumulation across the full registry sweep in one long-lived
    session (the blocks are MEMORY_AND_DISK and LRU-evictable anyway,
    but an explicit release keeps the storage tab honest).
    """
    yield
    if "spark" in request.fixturenames:
        try:
            request.getfixturevalue("spark").catalog.clearCache()
        except Exception:
            pass


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_call(item):
    if TEST_TIMEOUT_S <= 0 or not hasattr(signal, "SIGALRM"):
        yield
        return

    # @pytest.mark.timeout_s(N) overrides the default budget for the
    # few legitimately-long tests (the sf1.0 reference tests).
    marker = item.get_closest_marker("timeout_s")
    budget = int(marker.args[0]) if marker else TEST_TIMEOUT_S

    def _on_timeout(signum, frame):
        # Dump every thread (the JVM gateway thread included) so the wedge
        # site is visible in the failure output, then fail the test.
        faulthandler.dump_traceback()
        raise TimeoutError(
            f"test exceeded {budget}s wall-clock "
            f"(PMCS_TEST_TIMEOUT_S to adjust)"
        )

    prev = signal.signal(signal.SIGALRM, _on_timeout)
    signal.alarm(budget)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, prev)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "timeout_s(n): override the per-test SIGALRM wall-clock budget",
    )
