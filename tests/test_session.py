"""SparkSession factory: Python workers find the package wherever the
driver runs from."""

import os

from jly_flink_spark.session import PACKAGE_ROOT


def test_workers_get_the_package_root_on_their_path(spark):
    assert os.path.isdir(os.path.join(PACKAGE_ROOT, "jly_flink_spark"))
    assert spark.sparkContext.environment["PYTHONPATH"] == PACKAGE_ROOT
    worker_path = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: __import__("sys").path)
        .first()
    )
    assert PACKAGE_ROOT in worker_path
