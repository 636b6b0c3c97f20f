"""The declared fixture read schemas (schemas.FIXTURE_SCHEMAS) match
the parquet files exactly, so ``load_table`` can skip schema inference
— and it does: a call starts no Spark job."""

from __future__ import annotations

import os

import pytest

from sparkstreaming_gmall_demo_spark.schemas import FIXTURE_SCHEMAS, FIXTURE_TABLES
from sparkstreaming_gmall_demo_spark.sources.fixtures import load_table

SCALES = ("sf0.001", "sf0.01", "sf0.1")


def _fields(schema):
    return [(f.name, f.dataType, f.nullable) for f in schema.fields]


@pytest.mark.parametrize("scale", SCALES)
def test_declared_schemas_match_inferred(spark, sf_dir, scale):
    """Field for field (name, type, nullability), every table and scale."""
    scale_dir = os.path.join(os.path.dirname(sf_dir), scale)
    for table in FIXTURE_TABLES:
        inferred = spark.read.parquet(f"{scale_dir}/{table}.parquet").schema
        assert _fields(FIXTURE_SCHEMAS[table]) == _fields(inferred), table
        assert _fields(load_table(spark, scale_dir, table).schema) == _fields(inferred), table


def _jobs_started(spark, group, read, *args):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        read(*args)
        return sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_load_table_starts_no_job(spark, sf_dir):
    """Zero jobs for every table, where an inferring read starts one."""
    for table in FIXTURE_TABLES:
        group = f"load_table:{table}"
        assert _jobs_started(spark, group, load_table, spark, sf_dir, table) == [], table
    assert _jobs_started(spark, "infer:events", spark.read.parquet, f"{sf_dir}/events.parquet")
