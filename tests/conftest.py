import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from minigraph_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # small local session: 4 threads, 4 shuffle partitions — tests check
    # correctness; scale behavior is exercised by bench.py
    # The heap is capped unless SPARK_GRAFT_DRIVER_MEM says otherwise: under
    # the library's 48g default, G1 answers the humongous-allocation bursts
    # of the decremental BFS tests by growing the heap to 11-19 GB, past a
    # 16 GB machine's memory, while the live set stays near 2 GB.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    s = get_spark("minigraph-tests", master="local[4]", shuffle_partitions=4)
    yield s


def labels_dict(result_df, value_col="value"):
    return {r["vid"]: r[value_col] for r in result_df.select("vid", value_col).collect()}
