"""spark-submit entry point.

Cluster usage (north rule packaging requirement):

    python scripts/package.py                     # builds dist/engine.zip
    spark-submit --py-files dist/engine.zip jobs/validate_job.py \
        validate --input catalog.db.transcripts --contract contract.yaml \
        --run-id nightly-2026-08-16 --partition-col conv_id \
        --checkpoint s3://bucket/ckpt --violations-out s3://bucket/violations

Local smoke:

    python -m data_contract_engine_spark.cli validate \
        --input /root/testdata/sf0.001/events.parquet --derive-transcripts \
        --contract-template flagship
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from typing import Optional

from pyspark.sql import SparkSession

from . import ContractEngine, build_session, parse_contract_yaml
from .checkpoint import CheckpointStore, validate_resumable
from .fixtures.transcripts import FLAGSHIP_CONTRACT_YAML
from .fixtures.transcripts_sql import spark_transcripts_from_events
from .metrics import rollup as rollup_mod
from .operators.drift import contract_baseline_snapshot
from .sources import readers, sinks


def _stop(spark: SparkSession) -> None:
    """Stop the session unless embedded (tests / notebooks reuse one)."""
    import os

    if os.environ.get("DCE_CLI_KEEP_SESSION") != "1":
        spark.stop()


def _load_input(spark: SparkSession, args) -> "object":
    if "/" in args.input or args.input.endswith(
        (".parquet", ".csv", ".json", ".jsonl")
    ):
        df = readers.read_source(spark, args.input, args.format)
    else:
        df = spark.table(args.input)
    if args.derive_transcripts:
        df = spark_transcripts_from_events(spark, df)
    return df


def _load_contract(args):
    if args.contract_template == "flagship":
        return parse_contract_yaml(FLAGSHIP_CONTRACT_YAML, name="flagship")
    with open(args.contract) as f:
        return parse_contract_yaml(f.read(), name=args.contract_name)


def cmd_validate(args) -> int:
    spark = build_session(app_name=f"dce-validate-{args.run_id}")
    t0 = time.time()
    df = _load_input(spark, args)
    contract = _load_contract(args)
    snapshot = None
    if args.drift_baseline and contract.quality.drift:  # once per run
        snapshot = contract_baseline_snapshot(
            spark.read.parquet(args.drift_baseline), contract.quality.drift)
    engine = ContractEngine(spark, drift_baseline_snapshot=snapshot)
    keys = args.key_columns.split(",") if args.key_columns else None

    if args.checkpoint:
        if getattr(args, "checkpoint_backend", "plain") == "snapshot":
            # transactional snapshot catalog: atomic commits + idempotent
            # MERGE keyed by (run_id, partition_key, lineage_hash)
            from .sources.catalog import (
                SnapshotParquetCatalog,
                catalog_checkpoint_store,
            )

            store = catalog_checkpoint_store(
                SnapshotParquetCatalog(spark, args.checkpoint), "checkpoints"
            )
        else:
            store = CheckpointStore(spark, args.checkpoint)
        # the report (and the violations write) finishes inside the
        # resumable protocol, before any partition is checkpointed DONE
        res = validate_resumable(
            engine,
            df,
            contract,
            store,
            run_id=args.run_id,
            partition_col=args.partition_col,
            key_columns=keys,
            violations_out=args.violations_out,
        )
        if res.run is None:
            print(json.dumps({"run_id": args.run_id, "status": "ALREADY_DONE",
                              "skipped_partitions": res.skipped}))
            _stop(spark)
            return 0
        run = res.run
    else:
        run = engine.validate(df, contract, key_columns=keys)
        if args.violations_out:
            part_cols = [args.partition_col] if args.partition_col else None
            run.execute(args.violations_out, part_cols)

    rep = run.report()
    if args.summary_out:
        sinks.append_run_summary(
            spark, args.summary_out, args.run_id, contract.name,
            rep.total_records, rep.passed, rep.failed,
            rep.quality.quality_score if rep.quality else None,
            rep.execution_time_ms,
        )
    out = {
        "run_id": args.run_id,
        "contract": contract.name,
        "total": rep.total_records,
        "passed": rep.passed,
        "failed": rep.failed,
        "pass_rate": round(rep.pass_rate, 4),
        "errors_summary": rep.errors_summary,
        "quality": None
        if rep.quality is None
        else {
            "passed": rep.quality.passed,
            "score": rep.quality.quality_score,
            "errors": [e.to_dict() for e in rep.quality.errors],
        },
        "wall_sec": round(time.time() - t0, 3),
    }
    print(json.dumps(out))
    _stop(spark)
    # exit 0 on validation FAIL too — the verdict is data, not a crash
    return 0


def cmd_rollup(args) -> int:
    spark = build_session(app_name="dce-rollup")
    results = spark.read.parquet(args.results)
    m = rollup_mod.with_quality_score(
        rollup_mod.with_consistency(rollup_mod.daily_rollup(results))
    )
    m.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"days": m.count(),
                      "summary": rollup_mod.platform_summary(m)}))
    _stop(spark)
    return 0


def cmd_dedup(args) -> int:
    """Dedup job: exact keep-list or near-dup pair detection over a
    document table — the pipeline operators behind one spark-submit
    surface."""
    from .operators import dedup as dedup_op

    spark = build_session(app_name=f"dce-dedup-{args.method}")
    df = _read_table_or_path(spark, args.input, args.format)
    # Count the input with a plain action, NOT an Observation: the capped
    # MinHash path (materialized_stop_shingles) runs internal actions
    # (sampled probe collect + stop-list localCheckpoint) on plans derived
    # from this frame, and an attached Observation crashes obs.get with a
    # JVM assertion in PythonSQLUtils.toPyRow. One metadata-cheap count on
    # the raw scan is the honest price in a CLI job.
    input_docs = df.count()
    summary = {"method": args.method}
    if args.method == "exact":
        kept = dedup_op.exact_dedup(df, args.text_col, args.id_col)
        kept.write.mode("overwrite").parquet(args.out)
        summary["kept_docs"] = spark.read.parquet(args.out).count()
    else:
        if args.method == "minhash":
            pairs = dedup_op.minhash_near_duplicates(
                df, args.id_col, args.text_col, threshold=args.threshold
            )
        else:  # simhash
            pairs = dedup_op.simhash_near_duplicates(
                df, args.id_col, args.text_col, max_hamming=args.max_hamming
            )
        pairs.write.mode("overwrite").parquet(args.out)
        summary["duplicate_pairs"] = spark.read.parquet(args.out).count()
        if args.clusters_out:
            # pairs -> transitive dedup groups (connected components);
            # read the just-written pairs so clustering doesn't recompute
            # the whole LSH pipeline per label-propagation round
            clusters = dedup_op.duplicate_clusters(
                spark.read.parquet(args.out)
            )
            clusters.write.mode("overwrite").parquet(args.clusters_out)
            summary["clusters"] = (
                spark.read.parquet(args.clusters_out)
                .select("cluster_id").distinct().count()
            )
    summary["input_docs"] = input_docs
    print(json.dumps(summary))
    _stop(spark)
    return 0


def cmd_stream_dedup(args) -> int:
    """Streaming near-duplicate candidate job: consume a document
    directory as a file-source stream (AvailableNow by default — one
    bounded drain per invocation, resumable via the checkpoint), emit
    (band, bucket, rep_id, doc_id) candidate pairs to parquet. Pairs
    feed the batch `dedup` command's exact verifier; state per LSH
    bucket is one representative id (see
    streaming.stateful.stream_near_dup_candidates)."""
    from .streaming.stateful import (
        NEAR_DUP_OUTPUT_SCHEMA,
        stream_near_dup_candidates,
    )

    spark = build_session(app_name="dce-stream-dedup")
    stream = (
        spark.readStream.schema(args.schema)
        .option("maxFilesPerTrigger", str(args.max_files_per_trigger))
        .parquet(args.input)
    )
    pairs = stream_near_dup_candidates(
        stream,
        id_col=args.id_col,
        text_col=args.text_col,
        bands=args.bands,
        num_hashes=args.num_hashes,
        timeout=args.state_timeout,
    )
    q = (
        pairs.writeStream.format("parquet")
        .option("path", args.out)
        .option("checkpointLocation", args.checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # explicit schema: a drain that runs no batch (no new documents)
    # writes no data file, so schema inference on the sink would fail
    n = spark.read.schema(NEAR_DUP_OUTPUT_SCHEMA).parquet(args.out).count()
    print(json.dumps({"candidate_rows": n, "out": args.out}))
    _stop(spark)
    return 0


def cmd_decontaminate(args) -> int:
    """Benchmark-decontamination job: score the corpus for n-gram
    collisions against an eval suite, write the per-doc scores and
    (optionally) the cleaned corpus."""
    from pyspark.sql import Observation, functions as F

    from .operators import decontaminate as decon_op

    spark = build_session(app_name="dce-decontaminate")
    df = _read_table_or_path(spark, args.input, args.format)
    bench = _read_table_or_path(spark, args.benchmark, args.format)
    obs = Observation("decon_input")
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    scores = decon_op.contamination_scores(
        df,
        bench,
        k=args.k,
        id_col=args.id_col,
        text_col=args.text_col,
        min_overlap=args.min_overlap,
        frac_threshold=args.frac_threshold,
    )
    scores.write.mode("overwrite").parquet(args.out)
    written = spark.read.parquet(args.out)
    summary = {
        "input_docs": obs.get["n"],
        "contaminated_docs": written.filter("contaminated").count(),
    }
    if args.clean_out:
        # anti-join against the just-written scores — the expensive
        # shingle/overlap pipeline is not recomputed for the clean write
        bad = written.filter("contaminated").select(args.id_col)
        clean = _read_table_or_path(spark, args.input, args.format).join(
            bad, args.id_col, "left_anti"
        )
        clean.write.mode("overwrite").parquet(args.clean_out)
        summary["clean_docs"] = spark.read.parquet(args.clean_out).count()
    print(json.dumps(summary))
    _stop(spark)
    return 0


def cmd_curate(args) -> int:
    """Full curation funnel as one job: decontaminate → exact dedup →
    quality filter → hash sample → sequence packing."""
    from pyspark.sql import Observation, functions as F

    from .operators import curation

    spark = build_session(app_name="dce-curate")
    df = _read_table_or_path(spark, args.input, args.format)
    bench = _read_table_or_path(spark, args.benchmark, args.format)
    obs = Observation("curate_input")
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    out = curation.curate_corpus(
        df,
        bench,
        k=args.k,
        min_overlap=args.min_overlap,
        frac_threshold=args.frac_threshold,
        quality_threshold=args.quality_threshold,
        sample_rate=args.sample_rate,
        budget=args.budget,
        n_shards=args.n_shards,
        seed=args.seed,
        id_col=args.id_col,
        text_col=args.text_col,
    )
    out.write.mode("overwrite").parquet(args.out)
    written = spark.read.parquet(args.out)
    print(json.dumps({
        "input_docs": obs.get["n"],
        "packed_docs": written.count(),
        "n_packs": written.select("shard", "pack_id").distinct().count(),
    }))
    _stop(spark)
    return 0


def cmd_textstats(args) -> int:
    """Text-analysis job: per-document quality / repetition / language-ID /
    PII features written as one joined parquet relation."""
    from pyspark.sql import functions as F

    from .operators import textstats as ts

    spark = build_session(app_name="dce-textstats")
    df = _read_table_or_path(spark, args.input, args.format)
    ops = set(args.ops.split(","))
    # one row per id BEFORE computing features: a duplicated doc id
    # would otherwise fan out multiplicatively through the left joins
    # below (each op frame carries one row per INPUT row, so a distinct
    # spine alone does not prevent 2^k rows for a doubled id)
    df = df.dropDuplicates([args.id_col])
    out = df.select(F.col(args.id_col))
    if "quality" in ops:
        out = out.join(ts.quality_features(df, args.text_col, args.id_col),
                       args.id_col, "left")
    if "repetition" in ops:
        out = out.join(
            ts.repetition_features(df, args.text_col, args.id_col),
            args.id_col, "left",
        )
    if "langid" in ops:
        out = out.join(ts.lang_id_ngram(df, args.text_col, args.id_col),
                       args.id_col, "left")
    if "pii" in ops:
        out = out.join(
            ts.redact_pii(df, args.text_col, args.id_col).drop("text_redacted"),
            args.id_col, "left",
        )
    out.write.mode("overwrite").parquet(args.out)
    print(json.dumps({
        "docs": spark.read.parquet(args.out).count(),
        "ops": sorted(ops),
    }))
    _stop(spark)
    return 0


def cmd_sample(args) -> int:
    """Deterministic hash-sampling job: reproducible, nested across rates,
    repartition-stable — the dataset-subset primitive for ablations."""
    from .operators import sampling

    if bool(args.strata_col) != bool(args.strata_rates):
        print(
            "error: --strata-col and --strata-rates must be given together",
            file=sys.stderr,
        )
        return 2
    spark = build_session(app_name="dce-sample")
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = _read_table_or_path(spark, args.input, args.format)
    # input count rides the write action via observe (the CollectMetrics
    # node sits above the scan, so the sample filter cannot push below
    # it and the metric counts ALL input rows) — no extra scan
    obs = Observation("sample_input")
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    if args.strata_col:
        rates = {}
        for kv in args.strata_rates.split(","):
            key, sep, val = kv.partition("=")
            if not sep or not key:
                print(
                    f"error: bad --strata-rates entry {kv!r} "
                    "(expected value=rate)",
                    file=sys.stderr,
                )
                _stop(spark)
                return 2
            rates[key] = float(val)
        out = sampling.stratified_hash_sample(
            df, rates, args.strata_col, args.key_col,
            default_rate=args.rate, seed=args.seed,
        )
    else:
        out = sampling.hash_sample(df, args.rate, args.key_col, seed=args.seed)
    out.write.mode("overwrite").parquet(args.out)
    kept = spark.read.parquet(args.out).count()
    print(json.dumps({"input_rows": obs.get["n"], "kept_rows": kept}))
    _stop(spark)
    return 0


def _read_table_or_path(spark: SparkSession, input_: str, fmt):
    if "/" in input_ or input_.endswith((".parquet", ".csv", ".json", ".jsonl")):
        return readers.read_source(spark, input_, fmt)
    return spark.table(input_)


def cmd_expire(args) -> int:
    spark = build_session(app_name="dce-expire")
    removed = sinks.expire_results(
        spark, args.results, retention_days=args.retention_days
    )
    print(json.dumps({"removed": removed}))
    _stop(spark)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="data-contract-engine-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("validate", help="validate a table against a contract")
    v.add_argument("--input", required=True, help="path or catalog table")
    v.add_argument("--format", default=None)
    v.add_argument("--derive-transcripts", action="store_true",
                   help="derive the transcripts relation from an events table")
    v.add_argument("--contract", help="contract YAML path")
    v.add_argument("--contract-name", default="contract")
    v.add_argument("--contract-template", choices=["flagship"], default=None)
    v.add_argument("--run-id", default="adhoc")
    v.add_argument("--partition-col", default="conv_id")
    v.add_argument("--key-columns", default=None, help="comma-separated")
    v.add_argument("--checkpoint", default=None,
                   help="checkpoint table path (enables resume)")
    v.add_argument("--checkpoint-backend", default="plain",
                   choices=("plain", "snapshot"),
                   help="checkpoint storage: plain parquet appends or the "
                        "transactional snapshot catalog (atomic commits)")
    v.add_argument("--violations-out", default=None)
    v.add_argument("--summary-out", default=None)
    v.add_argument("--drift-baseline", default=None,
                   help="parquet path of the drift baseline data, "
                   "snapshotted once per run")
    v.set_defaults(fn=cmd_validate)

    r = sub.add_parser("rollup", help="daily metrics rollup")
    r.add_argument("--results", required=True)
    r.add_argument("--out", required=True)
    r.set_defaults(fn=cmd_rollup)

    e = sub.add_parser("expire", help="retention sweep on results")
    e.add_argument("--results", required=True)
    e.add_argument("--retention-days", type=int, default=90)
    e.set_defaults(fn=cmd_expire)

    d = sub.add_parser("dedup", help="exact / near-duplicate detection")
    d.add_argument("--input", required=True)
    d.add_argument("--format", default=None)
    d.add_argument("--method", choices=["exact", "minhash", "simhash"],
                   default="exact")
    d.add_argument("--id-col", default="doc_id")
    d.add_argument("--text-col", default="text")
    d.add_argument("--threshold", type=float, default=0.8)
    d.add_argument("--max-hamming", type=int, default=3)
    d.add_argument("--out", required=True)
    d.add_argument("--clusters-out", default=None,
                   help="also write (id, cluster_id) connected components")
    d.set_defaults(fn=cmd_dedup)

    sd = sub.add_parser(
        "stream-dedup",
        help="streaming near-duplicate candidate pairs (AvailableNow "
             "drain; resumable via --checkpoint)",
    )
    sd.add_argument("--input", required=True,
                    help="document parquet DIRECTORY (file stream source)")
    sd.add_argument("--schema",
                    default="doc_id bigint, source string, lang string, "
                            "text string, ts timestamp")
    sd.add_argument("--id-col", default="doc_id")
    sd.add_argument("--text-col", default="text")
    sd.add_argument("--num-hashes", type=int, default=32)
    sd.add_argument("--bands", type=int, default=8)
    sd.add_argument("--max-files-per-trigger", type=int, default=16)
    sd.add_argument("--state-timeout", default="NoTimeout",
                    choices=("NoTimeout", "ProcessingTimeTimeout"))
    sd.add_argument("--out", required=True)
    sd.add_argument("--checkpoint", required=True)
    sd.set_defaults(fn=cmd_stream_dedup)

    t = sub.add_parser("textstats", help="per-document text features")
    t.add_argument("--input", required=True)
    t.add_argument("--format", default=None)
    t.add_argument("--id-col", default="doc_id")
    t.add_argument("--text-col", default="text")
    t.add_argument("--ops", default="quality,repetition,langid,pii",
                   help="comma-set of quality,repetition,langid,pii")
    t.add_argument("--out", required=True)
    t.set_defaults(fn=cmd_textstats)

    dc = sub.add_parser(
        "decontaminate", help="n-gram collision check vs an eval benchmark"
    )
    dc.add_argument("--input", required=True)
    dc.add_argument("--benchmark", required=True,
                    help="eval-suite table/path to collide against")
    dc.add_argument("--format", default=None)
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--k", type=int, default=8,
                    help="word n-gram collision width (GPT-3 used 8..13)")
    dc.add_argument("--min-overlap", type=int, default=1)
    dc.add_argument("--frac-threshold", type=float, default=None)
    dc.add_argument("--out", required=True,
                    help="per-doc contamination scores (parquet)")
    dc.add_argument("--clean-out", default=None,
                    help="also write the corpus minus contaminated docs")
    dc.set_defaults(fn=cmd_decontaminate)

    cu = sub.add_parser(
        "curate",
        help="full funnel: decontaminate, dedup, quality, sample, pack",
    )
    cu.add_argument("--input", required=True)
    cu.add_argument("--benchmark", required=True)
    cu.add_argument("--format", default=None)
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--k", type=int, default=8)
    cu.add_argument("--min-overlap", type=int, default=1)
    cu.add_argument("--frac-threshold", type=float, default=None)
    cu.add_argument("--quality-threshold", type=float, default=0.6)
    cu.add_argument("--sample-rate", type=float, default=1.0)
    cu.add_argument("--budget", type=int, default=512)
    cu.add_argument("--n-shards", type=int, default=64)
    cu.add_argument("--seed", type=int, default=42)
    cu.add_argument("--out", required=True,
                    help="(id, n_tokens, shard, pack_id, pack_offset) parquet")
    cu.set_defaults(fn=cmd_curate)

    s = sub.add_parser("sample", help="deterministic hash sampling")
    s.add_argument("--input", required=True)
    s.add_argument("--format", default=None)
    s.add_argument("--rate", type=float, default=0.1)
    s.add_argument("--key-col", default="doc_id")
    s.add_argument("--strata-col", default=None)
    s.add_argument("--strata-rates", default=None,
                   help="comma list value=rate, e.g. web=0.1,books=1.0")
    s.add_argument("--seed", type=int, default=42)
    s.add_argument("--out", required=True)
    s.set_defaults(fn=cmd_sample)
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    if args.cmd == "validate" and not (args.contract or args.contract_template):
        print("error: provide --contract or --contract-template", file=sys.stderr)
        return 2
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
