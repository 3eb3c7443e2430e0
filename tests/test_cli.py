"""CLI + packaging: argparse surface, validate command end-to-end, zip build."""

import json
import os
import zipfile

import pytest

from data_contract_engine_spark import cli


def test_parser_requires_contract(capsys):
    rc = cli.main(
        ["validate", "--input", "/tmp/x.parquet"]
    )
    assert rc == 2


def test_validate_command_end_to_end(spark, tmp_path, capsys, monkeypatch):
    # uses the session fixture via getOrCreate inside build_session;
    # keep it alive for the rest of the suite
    monkeypatch.setenv("DCE_CLI_KEEP_SESSION", "1")
    rc = cli.main(
        [
            "validate",
            "--input", "/root/testdata/sf0.001/events.parquet",
            "--derive-transcripts",
            "--contract-template", "flagship",
            "--run-id", "test-cli",
            "--key-columns", "conv_id,turn_idx",
            "--checkpoint", str(tmp_path / "ckpt"),
            "--violations-out", str(tmp_path / "viol"),
            "--summary-out", str(tmp_path / "summary"),
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["total"] == 1005 and out["failed"] == 20
    assert out["quality"]["score"] == 70.0
    # second run resumes: everything checkpointed
    rc2 = cli.main(
        [
            "validate",
            "--input", "/root/testdata/sf0.001/events.parquet",
            "--derive-transcripts",
            "--contract-template", "flagship",
            "--run-id", "test-cli",
            "--checkpoint", str(tmp_path / "ckpt"),
        ]
    )
    assert rc2 == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["status"] == "ALREADY_DONE"
    # sinks materialized
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession() or spark
    assert s.read.parquet(str(tmp_path / "viol")).count() == 20
    assert s.read.parquet(str(tmp_path / "summary")).count() == 1


def test_validate_without_checkpoint_writes_violations(spark, tmp_path,
                                                       capsys, monkeypatch):
    """The non-resumable path writes its violations through execute(),
    partitioned by a column that is not a key column; the rows written
    are the report's error counts."""
    monkeypatch.setenv("DCE_CLI_KEEP_SESSION", "1")
    rows = [
        (f"c{i % 3}", i if i % 5 else -i - 1, "bot" if i % 4 else "user")
        for i in range(20)
    ]
    src = str(tmp_path / "turns.parquet")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string"
    ).write.parquet(src)
    contract = tmp_path / "contract.yaml"
    contract.write_text(
        'contract_version: "1.0"\n'
        "schema:\n"
        "  conv_id: {type: string, required: true}\n"
        "  turn_idx: {type: integer, required: true, min: 0}\n"
        "  role: {type: string, enum: [user, assistant]}\n"
    )
    vout = tmp_path / "viol"
    rc = cli.main(
        [
            "validate",
            "--input", src,
            "--contract", str(contract),
            "--run-id", "test-cli-plain",
            "--key-columns", "conv_id,turn_idx",
            "--partition-col", "role",
            "--violations-out", str(vout),
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # turn_idx < 0 at i = 0, 5, 10, 15; role "bot" on the 15 rows i % 4 != 0
    assert out["errors_summary"] == {"VALUE_TOO_SMALL": 4, "ENUM_MISMATCH": 15}
    assert spark.read.parquet(str(vout)).count() == 19
    assert {d.name for d in vout.iterdir() if d.is_dir()} == {
        "role=bot", "role=user"
    }


def test_validate_drift_baseline_honours_per_column_bins(spark, tmp_path,
                                                        capsys, monkeypatch):
    """--drift-baseline snapshots each drift column on its own declared
    ``bins``: quantile edges for a numeric column, the top-k of a
    categorical one — not the largest ``bins`` of the contract."""
    from bisect import bisect_left

    from data_contract_engine_spark.operators.drift import (
        multi_quantile_edges,
        psi_kl_exact,
    )

    monkeypatch.setenv("DCE_CLI_KEEP_SESSION", "1")
    ddl = "a double, b double, c string"
    cats = ["x"] * 10 + ["y"] * 6 + ["z"] * 4
    base = spark.createDataFrame(
        [(float(i % 100), float(i % 50), cats[i % 20]) for i in range(200)],
        ddl,
    )
    cur_cats = ["x"] * 4 + ["y"] * 6 + ["z"] * 10
    cur_rows = [
        (float(i * 3 % 100 + 10), float(i % 30), cur_cats[i % 20])
        for i in range(200)
    ]
    base_path = str(tmp_path / "base.parquet")
    cur_path = str(tmp_path / "cur.parquet")
    base.write.parquet(base_path)
    spark.createDataFrame(cur_rows, ddl).write.parquet(cur_path)
    contract = tmp_path / "contract.yaml"
    contract.write_text(
        'contract_version: "1.0"\n'
        "schema:\n"
        "  a: {type: float}\n"
        "quality_rules:\n"
        "  drift:\n"
        "    a: {metric: psi, threshold: 0.0, bins: 5}\n"
        "    b: {metric: psi, threshold: 0.0, bins: 10}\n"
        "    c: {type: categorical, metric: psi, threshold: 0.0, bins: 2}\n"
    )
    rc = cli.main(
        [
            "validate",
            "--input", cur_path,
            "--contract", str(contract),
            "--run-id", "test-cli-drift-bins",
            "--key-columns", "a",
            "--drift-baseline", base_path,
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    psi = {
        e["details"]["field"]: e["details"]["psi"]
        for e in out["quality"]["errors"]
    }
    expected = {}
    for col, bins in (("a", 5), ("b", 10)):
        edges = multi_quantile_edges(base, {col: col}, bins)[col]
        assert len(edges) == bins - 1

        def counts(rows):
            n = [0] * (len(edges) + 1)
            for v in rows:
                n[bisect_left(edges, v)] += 1
            return n

        i = "ab".index(col)
        expected[col] = psi_kl_exact(
            counts(r[i] for r in cur_rows),
            counts(r[col] for r in base.collect()),
        )[0]
    # top-2 categories x (10/20) and y (6/20); z rolls into __other__
    expected["c"] = psi_kl_exact([40, 60, 100], [100, 60, 40])[0]
    assert psi == pytest.approx(expected, rel=1e-9)


def test_package_zip(tmp_path):
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    import package

    out = package.build(str(tmp_path / "engine.zip"))
    names = zipfile.ZipFile(out).namelist()
    assert "data_contract_engine_spark/cli.py" in names
    assert "data_contract_engine_spark/compiler/expressions.py" in names
    assert not any(n.startswith("tests/") for n in names)


def test_rollup_and_expire_commands(spark, tmp_path, capsys, monkeypatch):
    import datetime as dt

    monkeypatch.setenv("DCE_CLI_KEEP_SESSION", "1")
    rows = [
        ("c1", True, [], dt.datetime(2025, 3, 1)),
        ("c1", False, [{"field": "f", "error_type": "TYPE_MISMATCH",
                        "message": "m", "value": None, "expected": None}],
         dt.datetime(2025, 3, 1)),
    ]
    schema = (
        "contract_id string, passed boolean, errors array<struct<"
        "field:string,error_type:string,message:string,value:string,"
        "expected:string>>, validated_at timestamp"
    )
    results = str(tmp_path / "results")
    spark.createDataFrame(rows, schema).write.parquet(results)
    rc = cli.main(["rollup", "--results", results,
                   "--out", str(tmp_path / "metrics")])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["days"] == 1 and out["summary"]["total_validations"] == 2

    rc2 = cli.main(["expire", "--results", results, "--retention-days", "0"])
    assert rc2 == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["removed"] == 2


def test_dedup_and_textstats_commands(spark, tmp_path, capsys, monkeypatch):
    import json

    monkeypatch.setenv("DCE_CLI_KEEP_SESSION", "1")
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the dog"),
            (1, "the quick brown fox jumps over the dog"),  # exact dup
            (2, "mail me at a@b.io please please please please"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)

    out1 = str(tmp_path / "kept")
    rc = cli.main(["dedup", "--input", src, "--method", "exact",
                   "--out", out1])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["input_docs"] == 3 and rep["kept_docs"] == 2

    out2 = str(tmp_path / "pairs")
    rc = cli.main(["dedup", "--input", src, "--method", "minhash",
                   "--threshold", "0.8", "--out", out2])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["duplicate_pairs"] == 1

    out3 = str(tmp_path / "feats")
    rc = cli.main(["textstats", "--input", src, "--out", out3])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs"] == 3
    feats = {r["doc_id"]: r for r in spark.read.parquet(out3).collect()}
    assert feats[2]["n_email"] == 1
    assert feats[2]["top_gram_fraction"] is not None
    assert feats[0]["pred_lang"] == "en"


def test_stream_dedup_command(spark, tmp_path, capsys, monkeypatch):
    """stream-dedup drains a document directory via AvailableNow and
    writes candidate pairs; a second invocation with the SAME checkpoint
    resumes (no re-emission for already-processed files)."""
    import json

    monkeypatch.setenv("DCE_CLI_KEEP_SESSION", "1")
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi")
    src = tmp_path / "docs_dir"
    src.mkdir()
    spark.createDataFrame(
        [(1, base), (2, base + " phi"),
         (3, "entirely different content about rivers and mountains and "
             "forests everywhere")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src / "b1"))

    out = str(tmp_path / "pairs_out")
    ckpt = str(tmp_path / "sd_ckpt")
    rc = cli.main([
        "stream-dedup", "--input", str(src) + "/*",
        "--schema", "doc_id bigint, text string",
        "--out", out, "--checkpoint", ckpt,
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["candidate_rows"] > 0
    pairs = {(r["rep_id"], r["doc_id"])
             for r in spark.read.parquet(out).collect()}
    assert (1, 2) in pairs and all(3 not in p for p in pairs)

    # resume: same checkpoint, no new files → nothing re-emitted
    n_before = spark.read.parquet(out).count()
    rc = cli.main([
        "stream-dedup", "--input", str(src) + "/*",
        "--schema", "doc_id bigint, text string",
        "--out", out, "--checkpoint", ckpt,
    ])
    assert rc == 0
    capsys.readouterr()
    assert spark.read.parquet(out).count() == n_before


def test_stream_dedup_command_no_candidates(spark, tmp_path, capsys,
                                            monkeypatch):
    """An input with no documents (so no near-duplicates) drains without
    running a batch: the sink holds only its metadata log and no data
    file to infer a schema from. The candidate count is read back with
    the sink's schema and is 0 instead of crashing."""
    import json

    monkeypatch.setenv("DCE_CLI_KEEP_SESSION", "1")
    src = tmp_path / "docs_dir"
    src.mkdir()
    rc = cli.main([
        "stream-dedup", "--input", str(src) + "/*",
        "--schema", "doc_id bigint, text string",
        "--out", str(tmp_path / "pairs_out"),
        "--checkpoint", str(tmp_path / "sd_ckpt"),
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["candidate_rows"] == 0


def test_sample_command(spark, tmp_path, capsys, monkeypatch):
    import json

    monkeypatch.setenv("DCE_CLI_KEEP_SESSION", "1")
    docs = spark.createDataFrame(
        [(i, "t%d" % i, "s%d" % (i % 2)) for i in range(500)],
        "doc_id long, text string, src string",
    )
    src = str(tmp_path / "d.parquet")
    docs.write.parquet(src)

    out = str(tmp_path / "sampled")
    rc = cli.main(["sample", "--input", src, "--rate", "0.2", "--out", out])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["input_rows"] == 500 and 50 < rep["kept_rows"] < 150

    # stratified: drop s0 entirely, keep all s1
    out2 = str(tmp_path / "strat")
    rc = cli.main([
        "sample", "--input", src, "--strata-col", "src",
        "--strata-rates", "s0=0.0,s1=1.0", "--out", out2,
    ])
    assert rc == 0
    got = spark.read.parquet(out2)
    assert got.count() == 250
    assert {r["src"] for r in got.select("src").distinct().collect()} == {"s1"}


def test_sample_command_strata_validation(tmp_path, capsys):
    rc = cli.main([
        "sample", "--input", "x.parquet", "--strata-col", "src",
        "--out", str(tmp_path / "o"),
    ])
    assert rc == 2
    assert "must be given together" in capsys.readouterr().err


def test_dedup_clusters_output(spark, tmp_path, capsys, monkeypatch):
    import json

    monkeypatch.setenv("DCE_CLI_KEEP_SESSION", "1")
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog now"),
            (3, "completely different text about spark and shuffles"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "cd.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "pairs")
    cl = str(tmp_path / "clusters")
    rc = cli.main([
        "dedup", "--input", src, "--method", "minhash",
        "--threshold", "0.6", "--out", out, "--clusters-out", cl,
    ])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["clusters"] == 1  # 0,1,2 form one transitive group
    got = {r["id"]: r["cluster_id"]
           for r in spark.read.parquet(cl).collect()}
    assert got == {0: 0, 1: 0, 2: 0}


def test_validate_snapshot_checkpoint_backend(spark, tmp_path, capsys,
                                              monkeypatch):
    """--checkpoint-backend snapshot: resume runs through the
    transactional SnapshotParquetCatalog (atomic commits, MERGE-keyed
    checkpoint rows) instead of plain parquet appends."""
    monkeypatch.setenv("DCE_CLI_KEEP_SESSION", "1")
    args = [
        "validate",
        "--input", "/root/testdata/sf0.001/events.parquet",
        "--derive-transcripts",
        "--contract-template", "flagship",
        "--run-id", "snap-cli",
        "--key-columns", "conv_id,turn_idx",
        "--checkpoint", str(tmp_path / "snap_ckpt"),
        "--checkpoint-backend", "snapshot",
    ]
    assert cli.main(args) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["total"] == 1005 and out["failed"] == 20
    assert cli.main(args) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["status"] == "ALREADY_DONE"
    # the checkpoint relation lives in the snapshot catalog's layout:
    # published manifests only, no pointer file
    ckpt = tmp_path / "snap_ckpt" / "checkpoints"
    assert (ckpt / "snapshots" / "v1.json").exists()
    assert not (ckpt / "VERSION").exists()
