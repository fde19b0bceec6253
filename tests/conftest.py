from __future__ import annotations

import pytest

from halvesting_geometric_spark.session import get_spark

# The test session is one JVM that runs ~720 tests for over half an hour,
# long enough for C2 to repay its compiles: under get_spark's C1-only,
# ParallelGC policy the first 95 tests took 523 s against 412 s with C2 and
# G1. Appended after the policy, these flags win (HotSpot takes the last
# occurrence of a flag).
LONG_LIVED_JVM_OPTIONS = "-XX:TieredStopAtLevel=4 -XX:-UseParallelGC -XX:+UseG1GC"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="hgs-tests", cores=4,
        extra_conf={"spark.driver.extraJavaOptions": LONG_LIVED_JVM_OPTIONS},
    )
    yield s
    s.stop()
