import pytest

from minivectordb_spark.operators import util
from minivectordb_spark.session import get_spark

#: ``util.SMALL_GRAPH_MAX_EDGES`` values that force each path of the graph
#: operators' small-graph gate (pagerank, connected_components) on any
#: test graph.  An empty graph takes the driver path under either value.
GRAPH_PATHS = {"driver": 1 << 62, "distributed": 0}


class GraphPaths:
    """``force(path)`` pins the small-graph gate to one path; iterating
    forces each path in turn and yields its name."""

    def __init__(self, monkeypatch):
        self._monkeypatch = monkeypatch

    def force(self, path: str) -> str:
        self._monkeypatch.setattr(util, "SMALL_GRAPH_MAX_EDGES", GRAPH_PATHS[path])
        return path

    def __iter__(self):
        return (self.force(p) for p in GRAPH_PATHS)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="minivectordb-spark-tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def graph_paths(monkeypatch):
    return GraphPaths(monkeypatch)
