"""Driver-built tables plan as JVM LocalRelations (`session.local_frame`).

A list-based `spark.createDataFrame` plans as a Python RDD scan, so every
scan or broadcast of it runs Python-worker tasks. These guards keep the
helper and each driver-side table of the package on the JVM-only path."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ocds_entity_extract_spark.functions.geo import (
    MX_STATE_ALIASES,
    MX_STATES,
    country_dim,
    mx_state_dim,
)
from ocds_entity_extract_spark.session import local_frame


def _is_local(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def test_local_frame_empty(spark):
    df = local_frame(spark, [], "a string, b bigint")
    assert _is_local(df)
    assert df.count() == 0
    assert df.schema.simpleString() == "struct<a:string,b:bigint>"


def test_local_frame_nulls_and_scalar_types(spark):
    schema = "s string, n bigint, x double"
    rows = [("a", 1, 0.5), (None, None, None), ("c", 2**40, -1.25)]
    df = local_frame(spark, rows, schema)
    assert _is_local(df)
    assert df.collect() == spark.createDataFrame(rows, schema).collect()


@pytest.mark.parametrize(
    "ts",
    [
        dt.datetime(2025, 3, 4, 5, 6, 7, 123456, tzinfo=dt.timezone.utc),
        dt.datetime(2025, 3, 4, 5, 6, 7, tzinfo=dt.timezone(dt.timedelta(hours=-6))),
    ],
)
def test_local_frame_tz_aware_timestamp_round_trip(spark, ts):
    # the shape commit_chunks writes: (scope, chunk, aware committed_ts)
    schema = "run_scope string, chunk bigint, committed_ts timestamp"
    rows = [("s", 3, ts)]
    df = local_frame(spark, rows, schema)
    assert _is_local(df)
    micros = (ts - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)) // dt.timedelta(
        microseconds=1
    )
    assert df.select(F.unix_micros("committed_ts")).first()[0] == micros
    assert df.collect() == spark.createDataFrame(rows, schema).collect()


def test_geo_dims_are_local(spark):
    assert _is_local(country_dim(spark))
    assert _is_local(mx_state_dim(spark))


def test_mx_state_dim_alias_rows_carry_canonical_iso(spark):
    rows = {r["state_name"]: r["iso_code"] for r in mx_state_dim(spark).collect()}
    assert mx_state_dim(spark).count() == len(MX_STATES) + len(MX_STATE_ALIASES)
    iso_by_name = dict(MX_STATES)
    for alias, canon in MX_STATE_ALIASES:
        assert rows[alias] == iso_by_name[canon]


def test_linking_mapping_driver_side_is_local(spark):
    from ocds_entity_extract_spark.operators.linking import (
        linking_mapping_driver_side,
    )

    df = linking_mapping_driver_side(spark, ["acme-sa", "acme-sa-de-cv", "zeta"])
    assert _is_local(df)


def test_driver_path_result_tables_are_local(spark, pages_df):
    from ocds_entity_extract_spark.plans.pipeline import build_triples

    res = build_triples(spark, pages_df)
    for name in ("sameas_edges", "area_nodes", "inst_regions"):
        df = getattr(res, name)
        assert _is_local(df), name
        assert df.count() > 0, name
