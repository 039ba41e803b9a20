import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFERENCE_LOGS = "/root/reference/test/logs"


@pytest.fixture(scope="session")
def spark():
    from mysql_log_parser_spark.session import build_session

    s = build_session(
        app_name="mlp-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


def pytest_terminal_summary(terminalreporter):
    """One line per read-only fixture tree counting the tests skipped for
    want of it, so a run without them never passes for full coverage."""
    reasons = [
        r.longrepr[2] if isinstance(r.longrepr, tuple) else str(r.longrepr)
        for r in terminalreporter.stats.get("skipped", [])
    ]
    for key, what in (
        ("reference", f"reference fixtures ({REFERENCE_LOGS}) absent"),
        ("testdata", "sf test data absent"),
    ):
        n = sum(key in r for r in reasons)
        terminalreporter.write_line(f"{n} tests skipped: {what}")
