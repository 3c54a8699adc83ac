import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streamlit_projet_spark_streaming_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="streamlit-projet-spark-streaming-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


def jobs_in_group(spark, group, action):
    """Run ``action()`` under job group ``group`` and return how many Spark
    jobs the status tracker attributes to that group once the listener
    bus has delivered every event. The group is cleared afterwards."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
