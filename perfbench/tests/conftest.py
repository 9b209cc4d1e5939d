import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


@pytest.fixture(scope="session")
def spark():
    from cs_pipeline_spark.session import get_spark

    s = get_spark(
        "perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
