import atexit
import os
import shutil
import sys
import tempfile
from pathlib import Path

import pytest

# the HNSW servers publish graphs to a host-shared directory (default
# /dev/shm/anndb_graphs) that outlives the process; keep this session's
# in a temp directory of its own, set before anndb_spark is imported
# (its root is read at import) and before Spark starts the python
# workers, which inherit it, and delete it at exit
_SHM_CACHE_DIR = tempfile.mkdtemp(prefix="anndb-graphs-")
os.environ["ANNDB_SHM_CACHE_DIR"] = _SHM_CACHE_DIR
atexit.register(shutil.rmtree, _SHM_CACHE_DIR, ignore_errors=True)

# the checkout this file lives in, not an installed or sibling copy
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from anndb_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("anndb-tests", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
