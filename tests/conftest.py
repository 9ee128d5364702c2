from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from travelpulse_spark_stream_tourism_analytics_spark.session import get_spark

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = f"{TESTDATA}/sf0.001"
SF_CORRECT = f"{TESTDATA}/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("travelpulse-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def offset_conf(checkpoint_dir: str, batch_id: int = 0) -> dict[str, str]:
    """The session conf a streaming query recorded in its offset log
    for ``batch_id`` (line 2 of ``offsets/<batch_id>`` is the metadata
    JSON; a restart reads the state partition count back from it)."""
    with open(os.path.join(checkpoint_dir, "offsets", str(batch_id))) as fh:
        return json.loads(fh.read().splitlines()[1])["conf"]


def state_partition_counts(checkpoint_dir: str) -> dict[str, int]:
    """Numbered partition directories under each ``state/<op>/`` of a
    streaming checkpoint, by operator id."""
    root = os.path.join(checkpoint_dir, "state")
    return {
        op: sum(d.isdigit() for d in os.listdir(os.path.join(root, op)))
        for op in sorted(os.listdir(root))
        if op.isdigit()
    }
