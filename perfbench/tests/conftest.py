from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from batch_doc_vqa_spark.session import get_spark

    s = get_spark(
        "perfbench-tests", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()
