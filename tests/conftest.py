import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from speech_data_pipeline_spark.session import get_spark

    # get_spark's 48g default heap exceeds a 16 GB box: the JVM then grows
    # past physical memory (one partitioned parquet write grows it ~8 GB)
    # and the OS kills it mid-suite
    conf = {
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "6g"),
    }
    s = get_spark("tests", shuffle_partitions=4, extra_conf=conf)
    yield s


def rows(df, *cols):
    """Collect to a sorted list of plain tuples for golden comparison."""
    if cols:
        df = df.select(*cols)
    out = [tuple(r) for r in df.collect()]
    return sorted(out)
