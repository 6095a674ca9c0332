import os
import tempfile

import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Each test's seconds (setup + call + teardown), appended as it finishes, so a
# run that is cut off still names its slow tail.
_local_dir = (os.environ.get("SPARK_LOCAL_DIRS") or tempfile.gettempdir()).split(",")[0]
DURATIONS_TSV = os.path.join(_local_dir, "pytest_durations.tsv")
_seconds = {}


def pytest_runtest_logreport(report):
    _seconds[report.nodeid] = _seconds.get(report.nodeid, 0.0) + report.duration
    if report.when == "teardown":
        os.makedirs(_local_dir, exist_ok=True)
        with open(DURATIONS_TSV, "a") as f:
            f.write(f"{report.nodeid}\t{_seconds.pop(report.nodeid):.3f}\n")


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("spark-ensemble-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
