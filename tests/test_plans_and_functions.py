"""Physical-plan assertions (pushdown / broadcast / no-Python-in-hot-path)
and the §2.8 scalar-function ports."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from halvesting_geometric_spark.datagen import generate_transcripts
from halvesting_geometric_spark.functions import (
    domain_prefix,
    edge_hash,
    parse_stringified_list,
)
from halvesting_geometric_spark.operators.extract import extract_conv_edges


def _physical(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_parquet_scan_pushes_filter_and_prunes_columns(spark, tmp_path):
    """A filtered 2-column projection must reach the parquet scan as
    PushedFilters + a pruned ReadSchema (SURVEY.md §4.1)."""
    path = str(tmp_path / "tr")
    generate_transcripts(spark, 30, seed=1).write.parquet(path)
    q = (
        spark.read.parquet(path)
        .filter(F.col("role") == "user")
        .select("conv_id", "turn_idx")
    )
    plan = _physical(q)
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,user)]" in plan
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" not in read_schema and "conv_id" in read_schema


def test_extraction_plan_is_pure_jvm(spark):
    """No Python evaluation node anywhere in the extraction plan — the
    input_hint's 'no per-row Python' shown at the physical level."""
    tr = generate_transcripts(spark, 10, seed=1)
    # datagen itself is a mapInPandas source (allowed: Arrow-batched); assert
    # the extraction *stage* adds no Python nodes beyond it
    edges = extract_conv_edges(tr)
    plan = _physical(edges)
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDF
    assert "ArrowEvalPython" not in plan  # not even a scalar pandas UDF
    assert "FlatMapGroupsInPandas" not in plan
    assert "regexp_extract_all" in plan  # codegen'd JVM extraction


def test_spearman_ranks_without_a_pandas_pass(spark):
    """The midrank prefix behind spearman/gini is in-plan integer
    arithmetic: no Arrow round trip of the ranked value table."""
    from halvesting_geometric_spark.operators.evalmetrics import (
        spearman_correlation,
    )

    a = spark.createDataFrame(
        [(str(i), i % 7) for i in range(30)], "item string, value long"
    )
    b = spark.createDataFrame(
        [(str(i), i % 5) for i in range(30)], "item string, value long"
    )
    res = spearman_correlation(a, b)
    plan = _physical(res)
    assert "MapInPandas" not in plan and "MapInArrow" not in plan
    assert res.first()["n_items"] == 30


def test_small_dimension_join_broadcasts(spark, tmp_path):
    """Vertex-map joins on a small vertex table must plan as broadcast
    (reference J1 analog: ~20-row domains table)."""
    tr = generate_transcripts(spark, 40, seed=5)
    from halvesting_geometric_spark.operators.graph import build_graph

    g = build_graph(tr)
    plan = _physical(g.edges)
    assert "BroadcastHashJoin" in plan


def test_domain_prefix_matches_reference_semantics(spark):
    """Vectorized port of split_domain (link_prediction_metadata.py:452-470):
    first dot-segment, 'other' on empty/null."""
    df = spark.createDataFrame(
        [("shs.scipo",), ("info.info-ai",), ("math",), ("",), (None,)],
        "domain string",
    )
    got = df.select(domain_prefix("domain").alias("p")).toPandas()["p"].tolist()
    assert got == ["shs", "info", "math", "other", "other"]


def test_parse_stringified_list_matches_reference_semantics(spark):
    """Vectorized port of str_to_list (link_prediction_metadata.py:472-490)."""
    df = spark.createDataFrame(
        [("['shs.scipo', 'shs.stat']",), ("['math']",), ("[]",)],
        "domain string",
    )
    got = df.select(parse_stringified_list("domain").alias("l")).toPandas()["l"]
    assert list(got[0]) == ["shs.scipo", "shs.stat"]
    assert list(got[1]) == ["math"]
    assert list(got[2]) == []


def test_edge_hash_deterministic(spark):
    df = spark.createDataFrame([(1, 2), (1, 2), (2, 1)], "src long, dst long")
    h = df.select(edge_hash("src", "dst").alias("h")).toPandas()["h"]
    assert h[0] == h[1] != h[2]


def test_year_from_timestamp(spark):
    """F5 port: year extraction is a native function, not string surgery."""
    tr = generate_transcripts(spark, 5, seed=1)
    years = tr.select(F.year("ts").alias("y")).distinct().toPandas()["y"]
    assert (years == 2023).all()


def test_json_long_field_null_on_malformed(spark):
    from halvesting_geometric_spark.functions import json_long_field

    df = spark.createDataFrame(
        [('{"k": 7}',), ("not json",), (None,), ('{"k": null}',), ('{"j": 1}',)],
        "props string",
    )
    out = [r.k for r in df.select(json_long_field("props", "k").alias("k")).collect()]
    assert out == [7, None, None, None, None]


def test_default_driver_memory_is_half_of_host_ram(tmp_path):
    """Derived from MemTotal without starting a session; Spark's own 1g
    when the file is missing or has no MemTotal line."""
    from halvesting_geometric_spark.session import _default_driver_memory

    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemFree:  1000 kB\nMemTotal:  16000000 kB\n")
    assert _default_driver_memory(str(meminfo)) == "7812m"
    meminfo.write_text("MemTotal:  1024000 kB\n")
    assert _default_driver_memory(str(meminfo)) == "1024m"
    meminfo.write_text("MemFree:  1000 kB\n")
    assert _default_driver_memory(str(meminfo)) == "1g"
    assert _default_driver_memory(str(tmp_path / "absent")) == "1g"


def test_caller_java_options_append_to_the_driver_policy():
    """A caller's ``spark.driver.extraJavaOptions`` goes after the engine's
    options instead of replacing them, so its flags win (HotSpot takes the
    last occurrence) and the others survive."""
    from halvesting_geometric_spark.session import _driver_java_options

    base = _driver_java_options()
    assert base.split() == [
        "-Djava.net.preferIPv4Stack=true",
        "-XX:TieredStopAtLevel=1",
        "-XX:+UseParallelGC",
        "-XX:ReservedCodeCacheSize=240m",
    ]
    assert _driver_java_options("") == base
    merged = _driver_java_options("-XX:TieredStopAtLevel=4 -Dx=1")
    assert merged == base + " -XX:TieredStopAtLevel=4 -Dx=1"


def test_launch_confs_win_over_the_session_policy(monkeypatch):
    """Started from plain Python there is no launch and the whole policy
    applies. Under spark-submit every key the launch carries wins, and the
    confs fixed at JVM start are left to the launch even where it did not
    set them."""
    from pyspark import SparkConf

    from halvesting_geometric_spark.session import _launch_conf, _session_conf

    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert _launch_conf().getAll() == []
    policy = {
        "spark.master": "local[4]",
        "spark.app.name": "hgs-pagerank",
        "spark.driver.memory": "8g",
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1",
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.adaptive.enabled": "true",
    }
    assert _session_conf(policy, SparkConf(loadDefaults=False)) == policy
    launch = (
        SparkConf(loadDefaults=False)
        .setMaster("yarn")
        .set("spark.app.name", "cli.py")
        .set("spark.sql.shuffle.partitions", "400")
    )
    assert _session_conf(policy, launch) == {"spark.sql.adaptive.enabled": "true"}


def test_driver_jvm_gets_the_policy_then_caller_options(spark):
    """The options ``get_spark`` sets reach the JVM the session runs in,
    with the fixture's own ``extraJavaOptions`` after the engine's, and the
    last occurrence of each flag is the one in force."""
    from conftest import LONG_LIVED_JVM_OPTIONS

    jvm = spark._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
                .getInputArguments())
    expected = ["-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC",
                "-XX:ReservedCodeCacheSize=240m"]
    expected += LONG_LIVED_JVM_OPTIONS.split()
    positions = [args.index(flag) for flag in expected]
    assert positions == sorted(positions)
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    in_force = {name: hotspot.getVMOption(name).getValue()
                for name in ("TieredStopAtLevel", "UseParallelGC", "UseG1GC",
                             "ReservedCodeCacheSize")}
    assert in_force == {"TieredStopAtLevel": "4", "UseParallelGC": "false",
                        "UseG1GC": "true",
                        "ReservedCodeCacheSize": str(240 * 1024 * 1024)}
