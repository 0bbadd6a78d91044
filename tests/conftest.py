from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from social_media_data_pipeline_spark.session import get_spark

    spark = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "4"})
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Say out loud what the fast gate skipped: pytest.ini's default
    `-m "not slow"` deselects the @slow suites without a word."""
    if config.option.markexpr.strip() != "not slow":
        return
    slow = [
        item
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("slow")
    ]
    if slow:
        terminalreporter.write_line(
            f'{len(slow)} @slow tests deselected by -m "not slow"; '
            'full lane: python -m pytest tests/ -q -m "slow or not slow"'
        )
