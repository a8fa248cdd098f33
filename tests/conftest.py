from __future__ import annotations

import os

import pytest

from edu_data_pipeline_spark.session import get_spark

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="edu-data-pipeline-tests", master="local[4]",
                      shuffle_partitions=4,
                      extra_conf={
                          # Python workers fork from _worker_daemon.py,
                          # which skips the per-task zip directory re-read
                          "spark.python.daemon.module": "_worker_daemon",
                          "spark.executorEnv.PYTHONPATH": TESTS_DIR,
                      })
    yield spark
