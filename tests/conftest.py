import pathlib
import sys

import pytest

# the checkout these tests sit in, not whichever copy is installed
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from spark_shp.session import get_spark
    s = get_spark(app="spark_shp_tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
