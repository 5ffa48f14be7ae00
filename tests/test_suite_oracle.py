"""Differential test: every queries() entry vs its DuckDB oracle at sf0.001
— the same comparison the driver runs at sf0.01 (tools/diffcheck.py is the
standalone version)."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from crypto_data_service_loader_spark.tables import TABLES
from tools.diffcheck import _cell, _normalize


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'")
    return c


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_every_query_has_callable_shape():
    assert len(QUERIES) >= 40
    # every oracle key must have a query
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, con):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    if name not in ORACLES:
        assert len(sdf) >= 0  # rows-only contract: runs and has stable schema
        return
    odf = con.execute(ORACLES[name]).fetch_arrow_table().to_pandas()
    s, o = _normalize(sdf), _normalize(odf)
    assert list(s.columns) == list(o.columns)
    assert len(s) == len(o)
    pd.testing.assert_frame_equal(s, o)


def test_cell_handles_array_values_and_nulls():
    """The one oracle normaliser renders an array-valued cell as a string
    (pd.isna is elementwise on arrays, so an unguarded truth test raises)
    and maps None and NaN to one null marker."""
    import numpy as np

    assert _cell([1, 2]) == "[1, 2]"
    assert _cell(np.array([1, 2])) == "[1 2]"
    assert _cell(None) == "<null>"
    assert _cell(float("nan")) == "<null>"


def test_sessionize_gap_measured_in_microseconds(spark, tmp_path):
    """Gaps of 1800.5 s, 1800 s and 1799.5 s against a 30-minute limit:
    only the first one starts a new session, in Spark as in the DuckDB
    twin. A gap measured in whole seconds reads 1800 s for the first."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1)
    offsets = [0.0, 1800.5, 3600.5, 5400.0]  # gaps 1800.5, 1800, 1799.5
    n = len(offsets)
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(seconds=o) for o in offsets],
                       pa.timestamp("us")),
        "user_id": pa.array([7] * n, pa.int64()),
        "event_type": ["view"] * n,
        "value": [1.0] * n,
        "props": ["{}"] * n,
    }), str(tmp_path / "events.parquet"))
    sdf = QUERIES["sessionize_events"](spark, str(tmp_path)).toPandas()
    c = duckdb.connect()
    c.execute(f"CREATE VIEW events AS SELECT * FROM "
              f"'{tmp_path / 'events.parquet'}'")
    odf = c.execute(ORACLES["sessionize_events"]).fetch_arrow_table().to_pandas()
    assert sorted(zip(sdf["event_id"], sdf["session_id"])) == [
        (0, 1), (1, 2), (2, 2), (3, 2)
    ]
    pd.testing.assert_frame_equal(_normalize(sdf), _normalize(odf))
