import sys
from pathlib import Path

import pytest

# the checkout this file lives in, not an installed or sibling copy
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from anndb_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("anndb-tests", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
