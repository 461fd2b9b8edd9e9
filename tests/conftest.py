import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_validation_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dvs-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def weighted_quantile(x, w, q):
    """Exact lower weighted quantile: the first value, in sorted order,
    whose cumulative weight reaches q·W; q = 0 and q = 1 give the minimum
    and the maximum."""
    order = np.argsort(x, kind="stable")
    xs, cw = np.asarray(x)[order], np.cumsum(np.asarray(w)[order])
    if q <= 0:
        return float(xs[0])
    if q >= 1:
        return float(xs[-1])
    return float(xs[np.searchsorted(cw, q * cw[-1], side="left")])
