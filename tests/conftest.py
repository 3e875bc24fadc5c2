import contextlib
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REFERENCE_TESTDATA = "/root/reference/testdata"
DRIVER_TESTDATA = "/root/testdata"


@pytest.fixture(scope="session")
def ref_testdata():
    return REFERENCE_TESTDATA


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(DRIVER_TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def sf01_dir():
    path = os.path.join(DRIVER_TESTDATA, "sf0.01")
    if not os.path.isdir(path):
        pytest.skip(f"fixture absent: {path}")
    return path


@pytest.fixture(scope="session")
def spark():
    from go_shapefile_spark.session import get_spark

    spark = get_spark(app_name="tests", cores=4, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture
def local_caps(monkeypatch):
    """Set ``operators.local`` caps for one test (restored after it):
    ``local_caps(0)`` sets every cap — every driver-local finish takes
    its distributed path — and ``local_caps(CC_EDGES=50)`` sets one."""
    from go_shapefile_spark.operators import local

    def set_caps(value=None, **caps):
        if value is not None:
            caps = {**dict.fromkeys(local.CAPS, value), **caps}
        for name, cap in caps.items():
            monkeypatch.setattr(local, name, cap)
    return set_caps


@pytest.fixture
def pin_strategy_conf(spark):
    """``with pin_strategy_conf("storage"):`` runs its block under that
    ``spark.graft.pin.strategy`` and then restores the session's own
    setting (unset stays unset)."""
    from go_shapefile_spark.operators.pinning import PIN_STRATEGY_CONF

    @contextlib.contextmanager
    def use(strategy):
        old = spark.conf.get(PIN_STRATEGY_CONF, None)
        spark.conf.set(PIN_STRATEGY_CONF, strategy)
        try:
            yield
        finally:
            if old is None:
                spark.conf.unset(PIN_STRATEGY_CONF)
            else:
                spark.conf.set(PIN_STRATEGY_CONF, old)
    return use
