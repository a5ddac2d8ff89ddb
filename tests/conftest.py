import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from typhoon_ocr_spark.sources.fixtures import tier_dir_for_sf  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from typhoon_ocr_spark.plans.session import build_session

    session = build_session(
        app_name="typhoon-ocr-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        # JDK 17's default sharing, set by the caller: the suite writes no
        # class-data archive into the user's cache (test_session_cds.py
        # runs the archive in a cache of its own)
        extra_conf={"spark.driver.extraJavaOptions": "-Xshare:auto"},
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


@pytest.fixture(scope="session")
def fixture_dir() -> str:
    """Smoke-tier fixture corpus (generated on first use)."""
    return tier_dir_for_sf("/root/testdata/sf0.001")
