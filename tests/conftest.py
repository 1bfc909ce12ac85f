import pytest

from fog_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fogspark-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def triangle_exchange(monkeypatch):
    """Force the exchange-based triangle stream: no oriented-edge count
    fits under the broadcast cap."""
    from fog_spark.algorithms import triangles

    monkeypatch.setattr(triangles, "TRIANGLE_BROADCAST_MAX_EDGES", 0)
