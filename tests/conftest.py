from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from franzoxide_spark.session import get_spark

    spark = get_spark(app_name="franzoxide_spark_tests", driver_memory="8g")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def empty_session_cache(monkeypatch):
    """Run the test on an empty application cache; the live session's
    entries come back untouched afterwards."""
    from franzoxide_spark import session_cache

    monkeypatch.setattr(session_cache, "_app_id", None)
    monkeypatch.setattr(session_cache, "_entries", {})
