"""Shared fixtures: one SparkSession + one built index per test session."""

from __future__ import annotations

import pytest

from hayoo_spark import fixtures, oracle
from hayoo_spark.session import get_spark

N_DOCS = 400  # sf_tiny-ish; keeps the whole suite fast


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
