from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))
# Python workers import the package too, whatever the working directory
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)


@pytest.fixture(scope="session")
def spark():
    from thuvienphapluat_crawler_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-tests",
        cpus=2,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "2g", "spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()
