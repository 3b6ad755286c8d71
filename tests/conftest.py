import pytest

from kgforge.session import build_session


def pytest_configure(config):
    config.addinivalue_line("markers", "plan_shape: physical-plan shape checks")


@pytest.fixture(scope="session")
def spark():
    s = build_session(app="kgforge-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()
