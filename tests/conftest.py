import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from linear_quadtree_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="lqt-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _order_violations(df, *key):
    """Rows whose predecessor in physical order (partition by partition,
    row by row within each) has a greater ``key`` tuple. A window ordered
    by the key itself would re-sort the rows first and always find 0."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    return (
        df.select(F.monotonically_increasing_id().alias("_pos"),
                  F.struct(*key).alias("_k"))
        .withColumn("_prev", F.lag("_k").over(Window.orderBy("_pos")))
        .filter(F.col("_prev") > F.col("_k"))
        .count()
    )


@pytest.fixture(scope="session")
def order_violations():
    return _order_violations
