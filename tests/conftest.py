"""Shared fixtures: one session-scoped SparkSession + oracle runners.

Swap point for the reference (SURVEY.md §0.2): if /root/reference is ever
populated, replace ``oracle_run`` with an adapter over the real reference
and every golden test re-targets automatically.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from engine.session import build_session  # noqa: E402
from engine.synthgraph import GraphConfig, gen_seed_urls  # noqa: E402
from pyref.oracle import run_crawl as oracle_run  # noqa: E402

SF_TEST = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: crawls several epochs (tens of seconds)")


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_cfg():
    return GraphConfig(n_hosts=20, max_pages=50, max_depth=3)


@pytest.fixture(scope="session")
def tiny_seeds(tiny_cfg):
    return gen_seed_urls(tiny_cfg)


@pytest.fixture(scope="session")
def tiny_oracle(tiny_cfg, tiny_seeds):
    return oracle_run(tiny_seeds, tiny_cfg, max_epochs=4)


def run_engine(spark, tmp_root, cfg, seeds, max_epochs, **kw):
    from engine.crawl import CrawlEngine

    eng = CrawlEngine(spark, str(tmp_root), cfg, **kw)
    metrics = eng.run(max_epochs, seeds=seeds)
    return eng, metrics
