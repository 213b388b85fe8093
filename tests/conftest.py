from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from janusgraph_clickhouse_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("jcs-tests", cpus=8)
    # a generated method that fails to compile fails the test that built
    # it, instead of silently falling back to the interpreted path
    s.conf.set("spark.sql.codegen.fallback", "false")
    yield s


@pytest.fixture
def force_aa_join(monkeypatch):
    """A callable that zeroes both of adamic_adar's bit-matrix caps, so
    the call after it routes to the wedge join (small test graphs fit
    every dense tier otherwise)."""
    from janusgraph_clickhouse_spark.graph import algorithms as GA

    def force():
        monkeypatch.setattr(GA, "AA_DENSE_MAX_NODES", 0)
        monkeypatch.setattr(GA, "DENSE_TILE_MAX_NODES", 0)

    return force


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
