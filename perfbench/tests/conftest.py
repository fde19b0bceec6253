from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    """A small local session whose event log the tests can parse."""
    from halvesting_geometric_spark.session import get_spark

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = get_spark(
        app_name="perfbench-tests", cores=2, driver_memory="1g",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        },
    )
    yield spark, log_dir
    spark.stop()
