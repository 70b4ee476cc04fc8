"""Shared fixtures: one SparkSession + one built index per test session."""

from __future__ import annotations

import os

import pytest

from hayoo_spark import fixtures, oracle
from hayoo_spark.session import get_spark

N_DOCS = 400  # sf_tiny-ish; keeps the whole suite fast


@pytest.fixture(scope="session", autouse=True)
def _decode_cache_cleanup():
    """Remove the tmpfs decode-cache files this session adds.  Their
    keys embed the index path, so every temporary index the tests build
    leaves decodes that no later run reads; files that were there
    before the session are kept."""
    root = os.environ.get("HAYOO_SHM_CACHE", "/dev/shm")
    cache = os.path.join(root, f"hayoo_decode_cache.{os.getuid()}")

    def listing() -> set[str]:
        try:
            return set(os.listdir(cache))
        except OSError:
            return set()

    before = listing()
    yield
    for name in listing() - before:
        try:
            os.unlink(os.path.join(cache, name))
        except OSError:
            pass


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="hayoo-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def pages_pdf():
    return fixtures.make_pages(N_DOCS)


@pytest.fixture(scope="session")
def pages_path(tmp_path_factory, pages_pdf):
    d = tmp_path_factory.mktemp("pages")
    out = d / "pages.parquet"
    pages_pdf.to_parquet(out, index=False)
    return str(out)


@pytest.fixture(scope="session")
def oracle_ix(pages_pdf):
    return oracle.build_oracle_index(pages_pdf, from_html=True)


@pytest.fixture(scope="session")
def index_dir(spark, pages_path, tmp_path_factory):
    from hayoo_spark.index.builder import build_index

    d = str(tmp_path_factory.mktemp("index") / "ix")
    build_index(spark, pages_path, d, n_segments=4, salt_df_threshold=64,
                n_salts=4)
    return d


@pytest.fixture(scope="session")
def engine(spark, index_dir):
    from hayoo_spark.query.engine import SearchEngine

    return SearchEngine(spark, index_dir)
