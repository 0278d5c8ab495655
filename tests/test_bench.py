"""bench.py's timing helper computes every output column of a query."""

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from bench import time_query


def test_time_query_computes_every_output_column(spark):
    def frame():
        return spark.range(10).withColumn(
            "boom", F.when(F.col("id") >= 0, F.raise_error(F.lit("evaluated")))
        )

    # count() lets Catalyst prune the column, so it never runs
    assert frame().count() == 10
    with pytest.raises(SparkRuntimeException, match="evaluated"):
        time_query(frame)

