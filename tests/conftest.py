import math
import struct

import pytest

from minivectordb_spark import fsio
from minivectordb_spark.operators import util
from minivectordb_spark.session import get_spark

#: For each size gate, its ``operators.util`` constant and the values that
#: force each path on any test input.  An empty graph takes the driver
#: path of the small-graph gate under either value; a snapshot without a
#: size estimate counts as infinitely large, and -1 sends even an empty
#: one down the distributed path.
GATES = {
    "graph": ("SMALL_GRAPH_MAX_EDGES", {"driver": 1 << 62, "distributed": 0}),
    "snapshot": ("SMALL_SNAPSHOT_MAX_BYTES", {"driver": math.inf, "distributed": -1}),
}


def _canon(x):
    """``x`` with every float as its bits (all NaNs alike), so ``==``
    compares scores bit for bit."""
    if isinstance(x, float):
        return b"nan" if math.isnan(x) else struct.pack("<d", x)
    if isinstance(x, (list, tuple)):
        return [_canon(v) for v in x]
    if isinstance(x, dict):
        return {k: _canon(v) for k, v in x.items()}
    return x


class GatePaths:
    """``force(path)`` pins one size gate to one path; iterating forces
    each path in turn and yields its name; ``same(fn)`` runs ``fn`` on
    each path and asserts both give the same result, floats compared bit
    for bit, or raise the same exception type."""

    bits = staticmethod(_canon)

    def __init__(self, monkeypatch, gate: str):
        self._monkeypatch = monkeypatch
        self._const, self._values = GATES[gate]

    def force(self, path: str) -> str:
        self._monkeypatch.setattr(util, self._const, self._values[path])
        return path

    def __iter__(self):
        return (self.force(p) for p in self._values)

    def same(self, fn):
        outcomes = []
        for _ in self:
            try:
                outcomes.append((None, fn()))
            except Exception as e:  # compared below, re-raised after
                outcomes.append((e, None))
        (err, out), (err2, out2) = outcomes
        assert type(err) is type(err2), outcomes
        if err is not None:
            raise err
        assert _canon(out) == _canon(out2)
        return out


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="minivectordb-spark-tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def graph_paths(monkeypatch):
    return GatePaths(monkeypatch, "graph")


@pytest.fixture
def snapshot_paths(monkeypatch):
    return GatePaths(monkeypatch, "snapshot")


@pytest.fixture()
def hadoop_route(monkeypatch):
    """Force every fsio call through the Hadoop FileSystem API (the
    route a real hdfs://, s3a:// deployment takes), backed by the local
    connector via file: URIs."""
    monkeypatch.setattr(fsio, "_local_path", lambda p: None)
