from __future__ import annotations

import sys

import pytest
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
    _create_converter,
)

from hielo_spark.io import local_frame
from hielo_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

_ARROW_EXACT = (
    BooleanType, ByteType, ShortType, IntegerType, LongType, FloatType,
    DoubleType, DecimalType, BinaryType, DateType,
)


def _arrow_exact(t) -> bool:
    """Whether Python values of Spark type ``t`` reach the JVM unchanged
    through Arrow. Timestamps are left out: the tuple path reads a naive
    ``datetime`` in the process time zone, ``local_frame`` as UTC."""
    if isinstance(t, StructType):
        return all(_arrow_exact(f.dataType) for f in t.fields)
    if isinstance(t, ArrayType):
        return _arrow_exact(t.elementType)
    if isinstance(t, MapType):
        return _arrow_exact(t.keyType) and _arrow_exact(t.valueType)
    return isinstance(t, _ARROW_EXACT) or t == StringType()


def _local_rows_as_local_relations(spark) -> None:
    """Route the tests' ``spark.createDataFrame(<list of rows>)`` calls
    to Arrow-backed ``LocalRelation`` frames.

    The tuple form plans a ``ParallelCollectionRDD → PythonRDD``
    lineage, so every job over a test's input frame runs a Python
    worker stage just to unpickle a few rows (a 10-row append on four
    cores: 0.67 s against 0.36 s from a job-free source). The schema
    still comes from Spark's own inference, verification and row
    conversion: the tuple frame is built first (that runs no job), and
    its schema and converter shape the Arrow rows. Only calls made from
    test modules are routed; ``hielo_spark`` code that calls
    ``createDataFrame`` on the session keeps its own path."""
    create = spark.createDataFrame

    def create_dataframe(data, schema=None, samplingRatio=None,
                         verifySchema=True):
        df = create(data, schema, samplingRatio, verifySchema)
        caller = sys._getframe(1).f_globals.get("__name__", "")
        if not (caller.startswith("tests.") and isinstance(data, list)):
            return df
        if isinstance(schema, str):
            schema = spark._parse_ddl(schema)
        if not (schema is None or isinstance(schema, (list, tuple, StructType))):
            return df
        if not _arrow_exact(df.schema):
            return df
        convert = _create_converter(df.schema)
        return local_frame(spark, [convert(r) for r in data], df.schema)

    spark.createDataFrame = create_dataframe


@pytest.fixture(scope="session")
def spark():
    # Four task slots, one per core of the 4-core hosts the suite runs
    # on. The test frames hold a few rows, so eight slots only double
    # the tasks and the files each commit writes; on four cores the
    # whole suite took 35 min at local[4] and over 44.5 min at local[8].
    s = get_spark(app_name="hielo_spark_tests", master="local[4]", shuffle_partitions=4)
    _local_rows_as_local_relations(s)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark_prop(spark):
    """Session alias for hypothesis tests (function-scoped @given bodies
    can't take a session fixture named the same as the module-scoped one
    used elsewhere with different lifetimes)."""
    return spark
