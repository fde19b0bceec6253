"""spark-submit entrypoint wiring (local session; the packaged path is the
same module via scripts/submit.sh)."""

from __future__ import annotations

import json

import pytest

from halvesting_geometric_spark import cli
from halvesting_geometric_spark.datagen import generate_transcripts


@pytest.fixture(scope="module")
def transcripts_40(spark, tmp_path_factory):
    tr_dir = str(tmp_path_factory.mktemp("tr40"))
    generate_transcripts(spark, 40, seed=3).write.mode("overwrite").parquet(tr_dir)
    return tr_dir


@pytest.mark.parametrize(
    "algo", ["pagerank", "components", "labelprop", "triangles"]
)
def test_cli_driver_roundtrip(spark, transcripts_40, tmp_path, capsys, algo):
    out_dir = str(tmp_path / "out")
    rc = cli.main(
        [
            algo,
            "--transcripts", transcripts_40,
            "--output", out_dir,
            "--checkpoint-dir", str(tmp_path / "ck"),
            "--max-iter", "5",
        ]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["algorithm"] == algo
    out = spark.read.parquet(out_dir)
    assert out.count() > 0
    if algo == "pagerank":
        assert abs(out.groupBy().sum("rank").first()[0] - 1.0) < 1e-6
    elif algo == "components":
        assert summary["components"] > 0
    elif algo == "labelprop":
        assert summary["labels"] > 0
    else:
        assert summary["total"] >= 0


def test_cli_extract_writes_graph(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr2")
    generate_transcripts(spark, 25, seed=10).write.parquet(tr_dir)
    out_dir = str(tmp_path / "out2")
    rc = cli.main(["extract", "--transcripts", tr_dir, "--output", out_dir])
    assert rc == 0
    edges = spark.read.parquet(f"{out_dir}/edges")
    verts = spark.read.parquet(f"{out_dir}/vertices")
    assert edges.count() > 0 and verts.count() > 0


def test_cli_linkpred_sssp_clustering_stats(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr3")
    generate_transcripts(spark, 30, seed=5).write.parquet(tr_dir)
    for algo, extra in [
        ("linkpred", ["--min-common", "2"]),
        ("sssp", ["--seeds", "0", "1", "--max-iter", "4"]),
        ("clustering", []),
        ("stats", []),
    ]:
        out_dir = str(tmp_path / f"out_{algo}")
        rc = cli.main(
            [algo, "--transcripts", tr_dir, "--output", out_dir] + extra
        )
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["algorithm"] == algo
        assert spark.read.parquet(out_dir).count() > 0
    assert summary["n_vertices"] > 0  # stats summary carries the row


def test_cli_walks_and_nf(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr4")
    generate_transcripts(spark, 25, seed=6).write.parquet(tr_dir)
    for algo, extra in [
        ("walks", ["--seeds", "0", "1", "--max-iter", "3"]),
        ("nf", ["--max-iter", "3"]),
        ("nf", ["--max-iter", "3", "--exact-nf"]),
    ]:
        out_dir = str(tmp_path / f"out4_{algo}_{'x' if '--exact-nf' in extra else 'h'}")
        rc = cli.main(
            [algo, "--transcripts", tr_dir, "--output", out_dir] + extra
        )
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["algorithm"] == algo
        assert spark.read.parquet(out_dir).count() > 0


def test_cli_mis_and_harmonic(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr5")
    generate_transcripts(spark, 20, seed=9).write.parquet(tr_dir)
    for algo, extra in [
        ("mis", ["--walk-seed", "3"]),
        ("harmonic", ["--max-iter", "3", "--lgk", "10"]),
    ]:
        out_dir = str(tmp_path / f"out5_{algo}")
        rc = cli.main(
            [algo, "--transcripts", tr_dir, "--output", out_dir] + extra
        )
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["algorithm"] == algo
        assert spark.read.parquet(out_dir).count() > 0


def test_cli_heavy_hitters(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr_hh")
    generate_transcripts(spark, 30, seed=5).write.parquet(tr_dir)
    out_dir = str(tmp_path / "out_hh")
    rc = cli.main(
        ["hh", "--transcripts", tr_dir, "--output", out_dir,
         "--hh-col", "role", "--k", "2"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["column"] == "role" and summary["rows"] <= 2
    hh = spark.read.parquet(out_dir)
    rows = {r["key"]: r["est"] for r in hh.collect()}
    # roles alternate user/assistant: both must surface with counts >= true
    assert set(rows) <= {"user", "assistant", "tool"}
    assert all(v > 0 for v in rows.values())


def test_cli_round3b_algorithms(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr_r3b")
    generate_transcripts(spark, 25, seed=12).write.parquet(tr_dir)
    for algo, extra in [
        ("salsa", ["--iters", "2"]),
        ("influence", ["--seeds", "0", "1", "--max-iter", "3"]),
        ("diameter", ["--max-iter", "4"]),
        ("reciprocity", []),
        ("richclub", ["--k", "2"]),
    ]:
        out_dir = str(tmp_path / f"out_r3b_{algo}")
        rc = cli.main(
            [algo, "--transcripts", tr_dir, "--output", out_dir] + extra
        )
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["algorithm"] == algo
        assert spark.read.parquet(out_dir).count() > 0


def test_cli_round3c_algorithms(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr3c")
    generate_transcripts(spark, 40, seed=7).write.parquet(tr_dir)
    for algo, key in (
        ("kahn", "depth"),
        ("critpath", "max_dist"),
        ("roletrans", "transitions"),
    ):
        out = str(tmp_path / f"out_{algo}")
        rc = cli.main([algo, "--transcripts", tr_dir, "--output", out])
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["algorithm"] == algo
        assert summary[key] is not None
        assert spark.read.parquet(out).count() > 0


def test_cli_simrank(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr_sim")
    generate_transcripts(spark, 30, seed=5).write.parquet(tr_dir)
    out = str(tmp_path / "out_simrank")
    rc = cli.main(
        ["simrank", "--transcripts", tr_dir, "--output", out, "--k", "2"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["algorithm"] == "simrank"
    assert summary["c"] == 0.8
    got = spark.read.parquet(out)
    assert got.count() == summary["pairs"] > 0


def test_cli_anomaly_cusum_tmotif(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr_anom")
    generate_transcripts(spark, 40, seed=9).write.parquet(tr_dir)
    for algo, key, extra in (
        ("anomaly", "flagged", []),
        ("cusum", "alarms", ["--slack", "1.0", "--threshold", "8.0"]),
        ("tmotif", "temporal_triangles", ["--delta", "604800"]),
    ):
        out = str(tmp_path / f"out_{algo}")
        rc = cli.main(
            [algo, "--transcripts", tr_dir, "--output", out] + extra
        )
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["algorithm"] == algo
        assert summary[key] is not None
        assert spark.read.parquet(out).count() >= 0


def test_cli_burst_gapmem(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr_burst")
    generate_transcripts(spark, 40, seed=13).write.parquet(tr_dir)
    for algo in ("burst", "gapmem"):
        out = str(tmp_path / f"out_{algo}")
        rc = cli.main([algo, "--transcripts", tr_dir, "--output", out])
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["algorithm"] == algo
        assert summary["groups"] >= 1


def test_cli_support_conductance(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr_sc")
    generate_transcripts(spark, 40, seed=17).write.parquet(tr_dir)
    for algo, key in (("support", "edges"), ("conductance", "communities")):
        out = str(tmp_path / f"out_{algo}")
        rc = cli.main(
            [algo, "--transcripts", tr_dir, "--output", out, "--iters", "2"]
        )
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["algorithm"] == algo
        assert summary[key] >= 1


def test_cli_freqseq_treach_holes(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr_fth")
    generate_transcripts(spark, 40, seed=23).write.parquet(tr_dir)
    for algo, key, extra in (
        ("freqseq", "patterns", ["--min-support", "1"]),
        ("treach", "reached", ["--seeds", "0", "1", "--time-buckets", "4"]),
        ("holes", "vertices", []),
    ):
        out = str(tmp_path / f"out_{algo}")
        rc = cli.main(
            [algo, "--transcripts", tr_dir, "--output", out, *extra]
        )
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["algorithm"] == algo
        assert summary[key] >= 1
        assert spark.read.parquet(out).count() == summary[key]


def test_cli_pack(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr_pack")
    generate_transcripts(spark, 40, seed=29).write.parquet(tr_dir)
    out = str(tmp_path / "out_pack")
    rc = cli.main(
        ["pack", "--transcripts", tr_dir, "--output", out,
         "--bin-size", "64"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["algorithm"] == "pack" and summary["spans"] >= 1
    packed = spark.read.parquet(out)
    assert packed.count() == summary["spans"]
    # every non-final bin is exactly full
    from pyspark.sql import functions as F

    fills = packed.groupBy("bin_id").agg(F.sum("len_in_bin").alias("f"))
    last = fills.agg(F.max("bin_id")).first()[0]
    bad = fills.filter((F.col("bin_id") != last) & (F.col("f") != 64)).count()
    assert bad == 0


def test_cli_assoc_nibble(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr_an")
    generate_transcripts(spark, 40, seed=31).write.parquet(tr_dir)
    for algo, key, extra in (
        ("assoc", "rules", ["--min-support", "1"]),
        ("nibble", "sweep_rows", ["--iters", "3", "--sweep-k", "8"]),
    ):
        out = str(tmp_path / f"out_{algo}")
        rc = cli.main(
            [algo, "--transcripts", tr_dir, "--output", out, *extra]
        )
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["algorithm"] == algo
        assert summary[key] >= 1
        assert spark.read.parquet(out).count() == summary[key]


def test_cli_substrdedup_dsir(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr_sd")
    generate_transcripts(spark, 40, seed=33).write.parquet(tr_dir)
    out1 = str(tmp_path / "out_substr")
    rc = cli.main(
        ["substrdedup", "--transcripts", tr_dir, "--output", out1,
         "--gram-len", "3"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["algorithm"] == "substrdedup"
    assert summary["docs"] >= 1
    df = spark.read.parquet(out1)
    assert df.count() == summary["docs"]
    assert set(df.columns) == {"id", "n_tokens", "n_dup_tokens", "n_spans", "text"}

    out2 = str(tmp_path / "out_dsir")
    rc = cli.main(
        ["dsir", "--transcripts", tr_dir, "--output", out2,
         "--buckets", "256", "--target-role", "assistant"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["algorithm"] == "dsir"
    assert summary["docs"] >= 1
    assert spark.read.parquet(out2).count() == summary["docs"]


def test_cli_rank(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr_rank")
    generate_transcripts(spark, 40, seed=11).write.parquet(tr_dir)
    out_dir = str(tmp_path / "out_rank")
    rc = cli.main(
        ["rank", "--transcripts", tr_dir, "--output", out_dir,
         "--iters", "3"]
    )
    assert rc == 0
    import json as _json

    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["items"] > 0 and summary["pairs"] > 0
    assert -1_000_000 <= summary["bt_rc_spearman_e6"] <= 1_000_000
    # BT and Rank Centrality broadly agree on a citation graph
    assert summary["bt_rc_spearman_e6"] > 0
    out = spark.read.parquet(out_dir)
    assert {"item", "bt_strength", "rc_score"} <= set(out.columns)
    assert out.count() == summary["items"]


def test_cli_convstats_and_diversity(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr2")
    generate_transcripts(spark, 30, seed=5).write.parquet(tr_dir)

    rc = cli.main(
        ["convstats", "--transcripts", tr_dir,
         "--output", str(tmp_path / "cs")]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    cs = spark.read.parquet(str(tmp_path / "cs"))
    assert summary["conversations"] == cs.count() > 0
    row = cs.first()
    assert row.n_turns > 0 and row.role_entropy_e6 >= 0

    rc = cli.main(
        ["diversity", "--transcripts", tr_dir,
         "--output", str(tmp_path / "dn")]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["vocab"] > 0 and summary["n_tokens"] > 0
    dn = spark.read.parquet(str(tmp_path / "dn"))
    assert {r.n for r in dn.collect()} == {1, 2, 3}


def test_cli_geometry_scan_bpartition(spark, tmp_path, capsys):
    tr_dir = str(tmp_path / "tr_geo")
    generate_transcripts(spark, 40, seed=9).write.parquet(tr_dir)
    for algo, checks in (
        ("geometry", ("canonical_edges", "sparsified_kept")),
        ("scan", ("role_outlier",)),
        ("bpartition", ("partitions", "edge_cut", "max_load")),
    ):
        out_dir = str(tmp_path / f"out_{algo}")
        rc = cli.main([algo, "--transcripts", tr_dir, "--output", out_dir])
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["algorithm"] == algo
        for key in checks:
            assert key in summary, (algo, key, summary)
        assert spark.read.parquet(out_dir).count() > 0
