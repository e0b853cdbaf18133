import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fashion_knowledge_graph_spark import datagen  # noqa: E402
from fashion_knowledge_graph_spark.session import get_spark  # noqa: E402

N_DOCS = 200
N_PRODUCTS = 120


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fkg-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fixtures")
    datagen.write_fixtures(str(d), n_docs=N_DOCS, n_products=N_PRODUCTS, seed=42)
    return str(d)


@pytest.fixture(scope="session")
def docs_pdf(fixture_dir):
    return pd.read_parquet(os.path.join(fixture_dir, "docs.parquet"))


@pytest.fixture(scope="session")
def catalog_pdf(fixture_dir):
    return pd.read_parquet(os.path.join(fixture_dir, "catalog.parquet"))


@pytest.fixture(scope="session")
def docs_df(spark, fixture_dir):
    return spark.read.parquet(os.path.join(fixture_dir, "docs.parquet"))


@pytest.fixture(scope="session")
def catalog_df(spark, fixture_dir):
    return spark.read.parquet(os.path.join(fixture_dir, "catalog.parquet"))


@pytest.fixture(scope="session")
def oracle_out(docs_pdf, catalog_pdf):
    from fashion_knowledge_graph_spark import oracle

    return oracle.full_pipeline(docs_pdf, catalog_pdf)


def spy(monkeypatch, calls, mod, name, **forced):
    """Count the calls of ``mod.name`` in ``calls``, forcing the given
    keyword arguments."""
    real = getattr(mod, name)

    def wrapped(*a, **k):
        calls[name] += 1
        return real(*a, **{**k, **forced})
    monkeypatch.setattr(mod, name, wrapped)


def rows_set(df, cols, round_floats=6):
    """Spark or pandas DF → set of tuples for order-insensitive compare."""
    if hasattr(df, "toPandas"):
        pdf = df.select(*cols).toPandas()
    else:
        pdf = df[cols].copy()
    out = set()
    for t in pdf.itertuples(index=False):
        row = []
        for v in t:
            if isinstance(v, float):
                v = round(v, round_floats)
            elif isinstance(v, (list, tuple)) or str(type(v)).endswith("ndarray'>"):
                v = tuple(v)
            row.append(v)
        out.add(tuple(row))
    return out
