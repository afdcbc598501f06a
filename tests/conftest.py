from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

# The checkout this conftest lives in, so ``tools.compare`` and the
# engine both resolve to this tree whatever the working directory is.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from elastic_stream_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="ess-test-")
    yield d
    shutil.rmtree(d, ignore_errors=True)
