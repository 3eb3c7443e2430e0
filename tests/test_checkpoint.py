"""Checkpoint / resume: partition-granular re-runs validate only
unfinished partitions; lineage change invalidates old checkpoints."""

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from data_contract_engine_spark import ContractEngine, parse_contract_yaml
from data_contract_engine_spark.checkpoint import (
    CheckpointStore,
    lineage_hash,
    validate_resumable,
)

CONTRACT = """
contract_version: "1.0"
schema:
  conv_id: {type: string, required: true}
  turn_idx: {type: integer, required: true, min: 0}
"""


@pytest.fixture()
def data(spark):
    rows = [(f"conv_{i % 4}", i // 4 if i != 7 else -1) for i in range(40)]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int")


def test_resume_skips_done_partitions(spark, data, tmp_path):
    eng = ContractEngine(spark)
    contract = parse_contract_yaml(CONTRACT, name="ckpt-test")
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))

    # first run: only partitions conv_0 / conv_1 are "reachable"
    half = data.filter(F.col("conv_id").isin("conv_0", "conv_1"))
    r1 = validate_resumable(
        eng, half, contract, store, run_id="r1", partition_col="conv_id",
        key_columns=["conv_id", "turn_idx"], ts_col=None,
    )
    assert r1.validated_now == 2 and r1.skipped == 0

    # resume over the full input: the two done partitions are skipped
    r2 = validate_resumable(
        eng, data, contract, store, run_id="r1", partition_col="conv_id",
        key_columns=["conv_id", "turn_idx"], ts_col=None,
    )
    assert r2.skipped == 2 and r2.validated_now == 2
    # only pending partitions were scanned
    scanned = {
        r["conv_id"] for r in r2.run.validated.select("conv_id").distinct().collect()
    }
    assert scanned == {"conv_2", "conv_3"}

    # fully done → no work
    r3 = validate_resumable(
        eng, data, contract, store, run_id="r1", partition_col="conv_id",
        ts_col=None,
    )
    assert r3.run is None and r3.skipped == 4

    # progress table carries per-partition stats incl. the failed row
    prog = {
        r["partition_key"]: r for r in store.progress("r1").collect()
    }
    assert len(prog) == 4
    assert prog["conv_3"]["failed"] == 1  # turn_idx == -1 lives in conv_3
    assert prog["conv_0"]["failed"] == 0


def test_lineage_change_invalidates(spark, data, tmp_path):
    eng = ContractEngine(spark)
    c1 = parse_contract_yaml(CONTRACT, name="ckpt-test")
    store = CheckpointStore(spark, str(tmp_path / "ckpt2"))
    validate_resumable(
        eng, data, c1, store, run_id="r1", partition_col="conv_id", ts_col=None
    )
    # same run id, changed contract → all partitions re-validate
    c2 = parse_contract_yaml(CONTRACT.replace("min: 0", "min: 1"), name="ckpt-test")
    assert lineage_hash(c1) != lineage_hash(c2)
    r = validate_resumable(
        eng, data, c2, store, run_id="r1", partition_col="conv_id", ts_col=None
    )
    assert r.skipped == 0 and r.validated_now == 4



def test_unreadable_checkpoint_raises_before_validating(spark, data, monkeypatch):
    """A checkpoint path that cannot be read (a filesystem scheme no Hadoop
    FileSystem serves) raises from validate_resumable before any partition
    is validated: it must not read as "nothing done yet"."""
    eng = ContractEngine(spark)
    validated = []
    monkeypatch.setattr(eng, "validate", lambda *a, **k: validated.append(a))
    store = CheckpointStore(spark, "nosuchfs://b/ckpt")
    with pytest.raises(Exception, match='scheme "nosuchfs"'):
        validate_resumable(
            eng, data, parse_contract_yaml(CONTRACT, name="ckpt-test"), store,
            run_id="r1", partition_col="conv_id", ts_col=None,
        )
    assert validated == []

def test_missing_checkpoint_reads_as_nothing_done(spark, tmp_path, monkeypatch):
    """A checkpoint path that does not exist yet (every first run) means
    "nothing done", found through the filesystem without a parquet read
    (which would log a missing-path stack trace)."""
    def no_read(self):
        raise AssertionError("spark.read called for a missing checkpoint")

    store = CheckpointStore(spark, str(tmp_path / "never_written"))
    monkeypatch.setattr(type(spark), "read", property(no_read))
    assert store.done_partitions("r1", "lineage") == []


def test_resumable_violations_written_before_checkpoint(spark, data, tmp_path):
    """Crash-safety ordering: violations land (partitioned, idempotent
    overwrite) before the checkpoint flips; resume does not clobber
    prior partitions' violations."""
    from pyspark.sql import functions as F

    eng = ContractEngine(spark)
    contract = parse_contract_yaml(CONTRACT, name="ckpt-v")
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    vout = str(tmp_path / "viol")

    half = data.filter(F.col("conv_id").isin("conv_2", "conv_3"))
    validate_resumable(
        eng, half, contract, store, run_id="r", partition_col="conv_id",
        key_columns=["conv_id", "turn_idx"], ts_col=None,
        violations_out=vout,
    )
    v1 = spark.read.parquet(vout)
    assert v1.count() == 1  # the turn_idx=-1 row lives in conv_3
    assert "conv_id" in v1.columns

    # resume over the full input: only new partitions written, old kept
    validate_resumable(
        eng, data, contract, store, run_id="r", partition_col="conv_id",
        key_columns=["conv_id", "turn_idx"], ts_col=None,
        violations_out=vout,
    )
    v2 = spark.read.parquet(vout)
    assert v2.count() == 1  # conv_0/conv_1 clean; conv_3's row preserved
    assert {r["conv_id"] for r in v2.collect()} == {"conv_3"}


def test_resumable_violations_partitioned_when_partition_col_not_a_key(
    spark, data, tmp_path
):
    """The partition column is ALWAYS projected into the violations frame
    (from run.validated) so the write stays partitioned + idempotent even
    when partition_col is not among the violation key columns — a resume
    must never clobber completed partitions' violations."""
    eng = ContractEngine(spark)
    contract = parse_contract_yaml(CONTRACT, name="ckpt-v2")
    store = CheckpointStore(spark, str(tmp_path / "ck2"))
    vout = str(tmp_path / "viol2")

    only3 = data.filter(F.col("conv_id") == "conv_3")
    validate_resumable(
        eng, only3, contract, store, run_id="r", partition_col="conv_id",
        key_columns=["turn_idx"], ts_col=None, violations_out=vout,
    )
    v1 = spark.read.parquet(vout)
    assert v1.count() == 1
    assert "conv_id" in v1.columns  # projected despite not being a key

    # resume over the full input (conv_3 done, others clean): the write of
    # an empty violations frame must not wipe conv_3's partition
    validate_resumable(
        eng, data, contract, store, run_id="r", partition_col="conv_id",
        key_columns=["turn_idx"], ts_col=None, violations_out=vout,
    )
    v2 = spark.read.parquet(vout)
    assert {r["conv_id"] for r in v2.collect()} == {"conv_3"}


def test_execute_partitions_by_non_key_column(spark, tmp_path):
    """execute(path, partition_cols) carries a partition column that is
    not a key column into the written rows and partitions the write by
    it; the written rows are the report's violation rows."""
    rows = [
        (f"c{i % 3}", i if i % 4 else -i - 1, f"2025-0{1 + i // 6}")
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, month string")
    run = ContractEngine(spark).validate(
        df, parse_contract_yaml(CONTRACT, name="by-month"),
        key_columns=["conv_id", "turn_idx"],
    )
    out = tmp_path / "viol"
    rep = run.execute(str(out), ["month"])
    assert rep.total_violation_rows == 3  # turn_idx -1, -5, -9
    assert spark.read.parquet(str(out)).count() == rep.total_violation_rows
    per_month = {
        d.name: spark.read.parquet(str(d)).count()
        for d in out.iterdir() if d.is_dir()
    }
    assert per_month == {"month=2025-01": 2, "month=2025-02": 1}


BAD_REFERENTIAL = CONTRACT + """quality_rules:
  referential:
    conv_id: {table: no_such_vocab_table, column: conv_id}
"""


@pytest.mark.parametrize("with_violations", [True, False],
                         ids=["violations_out", "report_only"])
def test_bad_rule_stops_resumable_run_before_any_write(
    spark, data, tmp_path, with_violations
):
    """A rule that cannot be evaluated (an unresolvable referential table)
    raises from validate_resumable before any violation row or checkpoint
    row is written, so every partition stays pending."""
    contract = parse_contract_yaml(BAD_REFERENTIAL, name="bad-ref")
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    vout = tmp_path / "viol"
    kw = dict(
        run_id="r", partition_col="conv_id",
        key_columns=["conv_id", "turn_idx"], ts_col=None,
        violations_out=str(vout) if with_violations else None,
    )
    with pytest.raises(AnalysisException, match="no_such_vocab_table"):
        validate_resumable(ContractEngine(spark), data, contract, store, **kw)
    assert not vout.exists()
    assert store.done_partitions("r", lineage_hash(contract)) == []

    # once the table resolves, the next call still finds all 4 pending
    fixed = ContractEngine(spark, vocab_tables={
        "no_such_vocab_table": data.select("conv_id").distinct(),
    })
    res = validate_resumable(fixed, data, contract, store, **kw)
    assert (res.pending_before, res.validated_now, res.skipped) == (4, 4, 0)


def test_resumable_report_needs_no_second_job(spark, data, tmp_path):
    """validate_resumable finishes the report in the violations write, so
    ``result.run.report()`` starts no Spark job; it agrees with this run's
    checkpoint rows and with the rows written, and keeps its samples."""
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    vout = str(tmp_path / "viol")
    res = validate_resumable(
        ContractEngine(spark), data,
        parse_contract_yaml(CONTRACT, name="ckpt-one-job"), store,
        run_id="r", partition_col="conv_id",
        key_columns=["conv_id", "turn_idx"], ts_col=None,
        violations_out=vout,
    )
    sc = spark.sparkContext
    sc.setJobGroup("resumable_report", "report after validate_resumable")
    try:
        rep = res.run.report()
        jobs = sc.statusTracker().getJobIdsForGroup("resumable_report")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
    checkpointed = sum(r["total"] for r in store.progress("r").collect())
    assert rep.total_records == checkpointed == 40
    assert rep.total_violation_rows == spark.read.parquet(vout).count() == 1
    assert [e["error_type"] for e in rep.sample_errors] == ["VALUE_TOO_SMALL"]


def test_curate_resumable_kill_and_resume(spark, tmp_path):
    """Kill-and-resume parity: run phase 1 over a SUBSET of partitions
    (simulating a preemption after some partitions checkpointed), resume
    over the full input, and the final pack layout must be byte-identical
    to the one-shot funnel — with the second run validating only the
    unfinished partitions."""
    from data_contract_engine_spark.operators import curation

    rows = [
        (i, f"p{i % 4}",
         ("the quick brown fox jumps over the lazy dog number %d ok" % i)
         if i % 5 else "dup dup dup shared text across partitions wow ok")
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "doc_id long, part string, text string")
    bench = spark.createDataFrame(
        [(1000, "the benchmark eval question text nothing matches here")],
        "doc_id long, text string",
    )
    store = CheckpointStore(spark, str(tmp_path / "ck_cur"))
    cand = str(tmp_path / "cand")
    kw = dict(
        k=3, frac_threshold=0.5, quality_threshold=0.0, sample_rate=0.5,
        budget=32, n_shards=4,
    )

    # "crashed" first attempt: only p0/p1 reached DONE
    out1, st1 = curation.curate_corpus_resumable(
        df.filter(F.col("part").isin("p0", "p1")), bench, store, "run1",
        "part", cand, all_partitions=["p0", "p1"], **kw,
    )
    out1.collect()  # materialize phase 1 writes
    assert st1.pending_before == 2 and st1.skipped == 0

    # resume over the FULL input: only p2/p3 are pending
    out2, st2 = curation.curate_corpus_resumable(
        df, bench, store, "run1", "part", cand, **kw
    )
    assert st2.skipped == 2 and st2.pending_before == 2
    resumed = sorted(map(tuple, out2.collect()))

    # third call: nothing pending, pure phase-2 replay
    out3, st3 = curation.curate_corpus_resumable(
        df, bench, store, "run1", "part", cand, **kw
    )
    assert st3.pending_before == 0 and st3.skipped == 4
    assert sorted(map(tuple, out3.collect())) == resumed

    oneshot = sorted(
        map(tuple, curation.curate_corpus(df.drop("part"), bench, **kw)
            .collect())
    )
    assert resumed == oneshot
    assert len(resumed) > 0

    # changed funnel params ⇒ different lineage ⇒ full re-run — into the
    # SAME candidates_out root. The (run_id, lineage) namespacing must
    # keep run1's candidate partitions invisible: with a quality bar no
    # doc clears, the result is EMPTY, never stale rows from the old
    # lineage (round-4 advice: dynamic overwrite only rewrites non-empty
    # partitions, so an un-namespaced dir would leak them).
    store2 = CheckpointStore(spark, str(tmp_path / "ck_cur"))
    kw2 = dict(kw, quality_threshold=101.0)
    out4, st4 = curation.curate_corpus_resumable(
        df, bench, store2, "run1", "part", cand, **kw2
    )
    assert st4.pending_before == 4
    assert out4.count() == 0
    # and a phase-2-only replay of the empty lineage stays empty too
    out5, st5 = curation.curate_corpus_resumable(
        df, bench, store2, "run1", "part", cand, **kw2
    )
    assert st5.pending_before == 0 and out5.count() == 0


def test_null_partition_validated_once(spark, tmp_path):
    """Rows whose partition value is NULL are validated, checkpointed under
    a NULL key, and skipped on the next runs (`IN (..., NULL)` never
    matches a NULL value, so the NULL partition needs its own test)."""
    eng = ContractEngine(spark)
    contract = parse_contract_yaml(
        'contract_version: "1.0"\nschema:\n  v: {type: integer, min: 0}\n',
        name="null-part",
    )
    df = spark.createDataFrame(
        [("a", 1), (None, 2), (None, -1)], "part string, v int"
    )
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))

    def run():
        return validate_resumable(
            eng, df, contract, store, run_id="r", partition_col="part",
            key_columns=["v"], ts_col=None,
        )

    r1 = run()
    assert (r1.pending_before, r1.validated_now) == (2, 2)
    rep = r1.run.report()
    assert (rep.total_records, rep.failed) == (3, 1)
    for _ in range(2):
        r = run()
        assert (r.pending_before, r.validated_now, r.skipped) == (0, 0, 2)
        assert r.run is None
