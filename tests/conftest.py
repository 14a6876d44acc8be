from __future__ import annotations

import os

import pytest

SF_SMOKE = os.environ.get("XXT_SF_SMOKE", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("XXT_SF_ORACLE", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from xxt_cdc_spark.session import get_spark

    s = get_spark("xxt-cdc-tests", shuffle_partitions=8)
    yield s
    # removes the driver's Unix socket file from the temp directory
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def oracle_sf_dir():
    return SF_ORACLE


def stamp_feed(src) -> None:
    """Strictly increasing mtimes in filename order for a streaming
    file-source feed directory. Files written in the same millisecond
    share an mtime, and FileStreamSource's equal-mtime tie-break is
    NOT path-ascending — observed processing f9, f8, f3, which advances
    the watermark past the data file and silently drops its rows as
    late (a 50%-flaky 239-session loss before the fix). Import from
    conftest in every test that feeds a stream from json files."""
    import os

    for i, p in enumerate(sorted(os.listdir(src))):
        t = 1_700_000_000 + i
        os.utime(os.path.join(src, p), (t, t))
