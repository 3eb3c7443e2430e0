"""File sources (CSV/JSON/JSONL + dispatch), sinks, and Structured
Streaming validation."""

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from data_contract_engine_spark import ContractEngine, parse_contract_yaml
from data_contract_engine_spark.sources import readers, sinks
from data_contract_engine_spark.streaming.validate import (
    foreach_batch_validator,
    validate_stream,
    windowed_verdicts,
)

CONTRACT = """
contract_version: "1.0"
schema:
  user_id: {type: string, required: true, pattern: "^usr_\\\\d+$"}
  age: {type: integer, required: false, min: 0, max: 120}
"""


def test_read_csv_trims_and_validates_stringly(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("user_id , age\nusr_1,30\nbad,200\nusr_3,x\n")
    df = readers.read_csv(spark, str(p))
    assert df.columns == ["user_id", "age"]  # names trimmed
    run = ContractEngine(spark).validate(
        df, parse_contract_yaml(CONTRACT, name="c"), key_columns=["user_id"]
    )
    viol = run.violations().collect()
    kinds = {(r["user_id"], r["error_type"]) for r in viol}
    # stringly CSV: pattern failure, range failure, cast failure
    assert ("bad", "PATTERN_MISMATCH") in kinds
    assert ("bad", "VALUE_TOO_LARGE") in kinds
    assert ("usr_3", "TYPE_MISMATCH") in kinds


def test_read_json_envelope(spark, tmp_path):
    p = tmp_path / "in.json"
    p.write_text(json.dumps({"data": [{"a": 1}, {"a": 2}]}))
    df = readers.read_json(spark, str(p))
    assert df.count() == 2 and df.columns == ["a"]
    p2 = tmp_path / "single.json"
    p2.write_text(json.dumps({"a": 7}))
    assert readers.read_json(spark, str(p2)).count() == 1


def test_read_jsonl_skips_corrupt(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    p.write_text('{"a": 1}\nnot json\n{"a": 3}\n')
    df, n_corrupt = readers.read_jsonl(spark, str(p))
    assert n_corrupt == 1
    assert sorted(r["a"] for r in df.collect()) == [1, 3]


def test_dispatch(spark, tmp_path):
    p = tmp_path / "x.csv"
    p.write_text("a\n1\n")
    assert readers.read_source(spark, str(p)).count() == 1
    with pytest.raises(ValueError):
        readers.read_source(spark, "file.xml")


def test_sinks_roundtrip_and_retention(spark, tmp_path):
    now = dt.datetime(2025, 6, 1)
    rows = [
        ("c1", now - dt.timedelta(days=200), 1.0),
        ("c1", now - dt.timedelta(days=10), 2.0),
    ]
    df = spark.createDataFrame(
        rows, "contract_id string, validated_at timestamp, v double"
    )
    path = str(tmp_path / "results")
    sinks.append_results(df, path)
    removed = sinks.expire_results(spark, path, retention_days=90, now=now)
    assert removed == 1
    assert spark.read.parquet(path).count() == 1


def test_violations_partitioned_write(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "x", 1), ("b", "y", 2)], "part string, field string, n int"
    )
    path = str(tmp_path / "viol")
    sinks.write_violations(df, path, ["part"])
    back = spark.read.parquet(path)
    assert back.count() == 2 and "part" in back.columns


def test_streaming_validation_available_now(spark, tmp_path):
    # file-source stream over parquet, validated with the SAME compiled rules
    src = tmp_path / "stream_in"
    base = dt.datetime(2025, 1, 1)
    rows = [
        ("usr_1", 10, base),
        ("bad", 20, base + dt.timedelta(seconds=30)),
        ("usr_3", 500, base + dt.timedelta(seconds=90)),
    ]
    batch = spark.createDataFrame(
        rows, "user_id string, age int, ts timestamp"
    )
    batch.write.parquet(str(src))

    contract = parse_contract_yaml(
        CONTRACT + "  ts: {type: timestamp, required: true}\n", name="s"
    )
    stream = (
        spark.readStream.schema(batch.schema).parquet(str(src))
    )
    validated = validate_stream(stream, contract, ts_col="ts")
    q = (
        validated.writeStream.format("memory")
        .queryName("validated_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("select * from validated_stream").collect()
    got = {r["user_id"]: r["passed"] for r in out}
    assert got == {"usr_1": True, "bad": False, "usr_3": False}

    # windowed verdicts over the validated stream
    validated2 = validate_stream(stream, contract, ts_col="ts")
    wv = windowed_verdicts(validated2, ts_col="ts", window="1 minute")
    # complete mode: a single availableNow micro-batch never advances the
    # watermark past the last window, so append would emit nothing
    q2 = (
        wv.writeStream.format("memory")
        .queryName("verdict_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(60)
    vrows = spark.sql(
        "select * from verdict_stream order by window_start"
    ).collect()
    assert [r["verdict"] for r in vrows] == ["FAIL", "FAIL"]
    assert [r["total"] for r in vrows] == [2, 1]


def test_foreach_batch_runs_full_engine(spark, tmp_path):
    src = tmp_path / "fb_in"
    spark.createDataFrame(
        [("usr_1", 10), ("bad", 20)], "user_id string, age int"
    ).write.parquet(str(src))
    contract = parse_contract_yaml(CONTRACT, name="fb")
    eng = ContractEngine(spark)
    seen = {}

    def on_batch(batch_id, run):
        rep = run.report()
        seen["total"] = rep.total_records
        seen["failed"] = rep.failed

    stream = spark.readStream.schema("user_id string, age int").parquet(str(src))
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_validator(eng, contract, on_batch)
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert seen == {"total": 2, "failed": 1}


def test_stateful_conversation_progress(spark, tmp_path):
    """applyInPandasWithState carries per-conversation state across
    micro-batches: the second batch fills the gap left by the first and
    re-delivers a duplicate turn (maxFilesPerTrigger=1 → each file is its
    own micro-batch within one availableNow run)."""
    import time as _time

    src = tmp_path / "conv_in"
    src.mkdir()
    # batch 1 (older file): conv A turns 0,2 (gap at 1), conv B turn 0
    spark.createDataFrame(
        [("A", 0), ("A", 2), ("B", 0)], "conv_id string, turn_idx int"
    ).coalesce(1).write.parquet(str(src / "b1"))
    _time.sleep(1.1)  # file-source orders by modification time
    # batch 2 (newer): the missing turn arrives + a duplicate of B:0
    spark.createDataFrame(
        [("A", 1), ("B", 0)], "conv_id string, turn_idx int"
    ).coalesce(1).write.parquet(str(src / "b2"))

    from data_contract_engine_spark.streaming.stateful import (
        conversation_progress,
    )

    stream = (
        spark.readStream.schema("conv_id string, turn_idx int")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q = (
        conversation_progress(stream)
        .writeStream.format("memory")
        .queryName("conv_progress")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from conv_progress").collect()
    by_conv = {}
    for r in rows:  # update mode appends one snapshot per batch per key
        by_conv.setdefault(r["conv_id"], []).append(r)
    # intermediate snapshot observed the gap
    assert any(r["missing"] == 1 and not r["complete"]
               for r in by_conv["A"])
    # final state: gap filled across batches
    assert any(r["missing"] == 0 and r["complete"] for r in by_conv["A"])
    # duplicate delivery detected against state from an earlier batch
    assert any(r["dup_turns"] == 1 and not r["complete"]
               for r in by_conv["B"])


def test_layout_bucketed_join_shuffle_free(spark, tmp_path):
    """Tables bucketed on conv_id join without any Exchange node — the
    write-time shuffle is reused at read time (Iceberg bucket() analog)."""
    from data_contract_engine_spark.sources import layout

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.createDataFrame(
            [(f"c{i}", i % 7, f"t{i}") for i in range(500)],
            "conv_id string, turn_idx int, text string",
        )
        b = spark.createDataFrame(
            [(f"c{i}", i % 3) for i in range(500)],
            "conv_id string, label int",
        )
        layout.write_bucketed_table(a, "t_a", n_buckets=4)
        layout.write_bucketed_table(b, "t_b", n_buckets=4, sort_col=None)
        assert layout.bucketed_join_is_shuffle_free(spark, "t_a", "t_b", "conv_id")
        # sanity: same join on unbucketed frames DOES shuffle
        plain = a.join(b, "conv_id")
        plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("drop table if exists t_a")
        spark.sql("drop table if exists t_b")


def test_layout_date_partition_pruning(spark, tmp_path):
    import datetime as dtm

    from data_contract_engine_spark.sources import layout

    rows = [
        ("a", dtm.datetime(2025, 5, 1, 10)),
        ("b", dtm.datetime(2025, 5, 2, 10)),
        ("c", dtm.datetime(2025, 5, 3, 10)),
    ]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    path = str(tmp_path / "bydate")
    layout.write_date_partitioned(df, path)
    back = spark.read.parquet(path)
    one_day = back.filter(F.col("__day") == "2025-05-02")
    assert one_day.count() == 1
    # partition filter reaches the scan (pruning, not post-filtering)
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2025-05-02" in plan


def test_quarantine_sink(spark, tmp_path):
    from data_contract_engine_spark.sources.sinks import write_quarantine

    df = spark.createDataFrame(
        [("usr_1", 10), ("bad", 20)], "user_id string, age int"
    )
    run = ContractEngine(spark).validate(
        df, parse_contract_yaml(CONTRACT, name="q"), key_columns=["user_id"]
    )
    path = str(tmp_path / "quarantine")
    write_quarantine(run, path)
    q = spark.read.parquet(path).collect()
    assert len(q) == 1 and q[0]["user_id"] == "bad"
    assert q[0]["errors"][0]["error_type"] == "PATTERN_MISMATCH"


def test_streaming_drift_monitor(spark, tmp_path):
    """Per-micro-batch PSI vs a baseline snapshot: an in-distribution
    batch scores low, a shifted batch scores high."""
    import time as _time

    from data_contract_engine_spark.operators.drift import baseline_snapshot
    from data_contract_engine_spark.streaming.validate import drift_monitor

    base = spark.range(0, 5000).selectExpr("cast(id % 100 as double) as v")
    snap = baseline_snapshot(base, {"v": "v"}, bins=10)

    src = tmp_path / "drift_in"
    src.mkdir()
    # batch 1: same distribution; batch 2: concentrated (shifted)
    spark.range(0, 2000).selectExpr("cast(id % 100 as double) as v") \
        .coalesce(1).write.parquet(str(src / "b1"))
    _time.sleep(1.1)
    spark.range(0, 2000).selectExpr("cast(id % 5 as double) as v") \
        .coalesce(1).write.parquet(str(src / "b2"))

    scores = {}
    handler = drift_monitor(
        snap, {"v": "v"},
        lambda bid, s: scores.update({bid: s["v"].psi}),
    )
    q = (
        spark.readStream.schema("v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
        .writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(scores) == 2
    low, high = scores[0], scores[1]
    assert low < 0.05 and high > 0.5


def test_streaming_exact_dedup(spark, tmp_path):
    from data_contract_engine_spark.streaming.validate import (
        stream_exact_dedup,
    )

    src = tmp_path / "dedup_in"
    base = dt.datetime(2025, 1, 1)
    rows = [
        (0, "same content", base),
        (1, "same content", base + dt.timedelta(seconds=10)),  # dup
        (2, "other content", base + dt.timedelta(seconds=20)),
        (3, "same content", base + dt.timedelta(seconds=30)),  # dup
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    batch.write.parquet(str(src))

    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    deduped = stream_exact_dedup(stream, watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("select * from dedup_stream").collect()
    # one row per distinct content within the watermark horizon
    assert sorted(r["text"] for r in out) == ["other content", "same content"]
    assert {r["doc_id"] for r in out} <= {0, 1, 2, 3} and len(out) == 2


def test_replay_phases_pins_watermark_semantics(spark, tmp_path):
    """Pins the empirical semantics the streaming oracle gates rely on
    (streaming/replay.py docstring): (1) an AvailableNow run finalizes
    append windows up to max(seen)-delay, (2) late rows are dropped at
    the batch-start watermark, (3) dropDuplicatesWithinWatermark evicts
    state once watermark >= first_ts + delay (inclusive)."""
    import datetime as _dt

    from data_contract_engine_spark.streaming.replay import replay_phases

    base = _dt.datetime(2024, 1, 1)
    rows_a = [(f"a{d}_{h}", base + _dt.timedelta(days=d, hours=h))
              for d in range(5) for h in (1, 13)]
    rows_a.append(("amax", base + _dt.timedelta(days=4, hours=23)))
    a = spark.createDataFrame(rows_a, "k string, ts timestamp")
    rows_b = [("b6", base + _dt.timedelta(days=6, hours=2)),
              ("late", base + _dt.timedelta(days=1, hours=5))]
    b = spark.createDataFrame(rows_b, "k string, ts timestamp")

    def transform(stream):
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )

    sink = replay_phases(spark, [a, b], transform, str(tmp_path / "wv"))
    got = {str(r["ws"]): r["n"] for r in sink.collect()}
    # all 5 A-day windows finalized by run 2's watermark (Jan 6 01:00);
    # the late row into Jan 2 was dropped (count stays 2); b6's Jan 7
    # window is past the final watermark -> absent
    assert got == {
        "2024-01-01 00:00:00": 2, "2024-01-02 00:00:00": 2,
        "2024-01-03 00:00:00": 2, "2024-01-04 00:00:00": 2,
        "2024-01-05 00:00:00": 3,
    }

    # dedup-state expiry: first_ts <= max_A - 2*delay  ->  re-admitted
    from data_contract_engine_spark.streaming.validate import (
        stream_exact_dedup,
    )

    base2 = _dt.datetime(2024, 3, 1, 12)
    a2 = spark.createDataFrame(
        [(f"t{i}", base2 + _dt.timedelta(hours=i)) for i in range(6)],
        "text string, ts timestamp",
    )
    b2 = spark.createDataFrame(
        [(f"t{i}", base2 + _dt.timedelta(hours=7)) for i in range(6)],
        "text string, ts timestamp",
    )
    sink2 = replay_phases(
        spark, [a2, b2],
        lambda s: stream_exact_dedup(s, text_col="text", ts_col="ts",
                                     watermark="1 hour"),
        str(tmp_path / "dd"),
    )
    from collections import Counter

    kept = Counter(r["text"] for r in sink2.collect())
    # max_A = base2+5h; expired iff ts <= base2+3h -> t0..t3 re-admitted
    assert kept == {"t0": 2, "t1": 2, "t2": 2, "t3": 2, "t4": 1, "t5": 1}


def test_minhash_band_buckets_matches_batch(spark):
    """The per-row (shuffle-free, streaming-safe) band buckets are
    BIT-IDENTICAL to minhash_signatures + lsh_candidates banding at
    equal parameters; short docs (no shingles) yield NULL."""
    from pyspark.sql import functions as F

    from data_contract_engine_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "totally different words about open ocean sailing ships"),
            (3, "too short"),  # < k words → no shingles
        ],
        "doc_id long, text string",
    )
    per_row = (
        docs.select(
            "doc_id",
            F.explode(
                dedup.minhash_band_buckets(
                    F.col("text"), k=3, num_hashes=32, bands=8
                )
            ).alias("bb"),
        )
        .select("doc_id", "bb.band", "bb.bucket")
        .collect()
    )
    sig = dedup.minhash_signatures(docs, k=3, num_hashes=32)
    batch = (
        sig.select(
            F.col("id").alias("doc_id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).cast("int").alias("band"),
                            F.xxhash64(
                                F.concat_ws(
                                    ",",
                                    *[
                                        F.element_at("sig", b * 4 + r + 1)
                                        .cast("string")
                                        for r in range(4)
                                    ],
                                )
                            ).alias("bucket"),
                        )
                        for b in range(8)
                    ]
                )
            ).alias("bb"),
        )
        .select("doc_id", "bb.band", "bb.bucket")
        .collect()
    )
    assert sorted(map(tuple, per_row)) == sorted(map(tuple, batch))
    assert all(r["doc_id"] != 3 for r in per_row)  # short doc excluded
    # duplicate docs share every band bucket
    b0 = {(r["band"], r["bucket"]) for r in per_row if r["doc_id"] == 0}
    b1 = {(r["band"], r["bucket"]) for r in per_row if r["doc_id"] == 1}
    assert b0 == b1 and len(b0) == 8


def test_stream_near_dup_candidates(spark, tmp_path):
    """Streaming LSH candidates carry bucket state ACROSS micro-batches:
    a batch-2 near-dup of a batch-1 doc is flagged against the stored
    representative; state per bucket is ONE row no matter the traffic;
    every emitted pair is also a batch lsh_candidates pair."""
    import time as _time

    from data_contract_engine_spark.operators import dedup
    from data_contract_engine_spark.streaming.stateful import (
        stream_near_dup_candidates,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi")
    other = ("completely unrelated text about mountains rivers valleys "
             "plains forests deserts tundras glaciers")
    src = tmp_path / "docs_in"
    src.mkdir()
    # batch 1: the original + an unrelated doc + a same-batch duplicate
    spark.createDataFrame(
        [(10, base), (20, other), (11, base)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b1"))
    _time.sleep(1.1)
    # batch 2: a near-dup of doc 10 (one word appended) + a fresh doc
    spark.createDataFrame(
        [(30, base + " phi"), (40, "nothing like anything seen before in "
                                   "this tiny corpus of documents")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q = (
        stream_near_dup_candidates(stream)
        .writeStream.format("memory")
        .queryName("near_dup_pairs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from near_dup_pairs").collect()
    pairs = {(r["rep_id"], r["doc_id"]) for r in rows}
    # same-batch duplicate: 11 flagged against 10 (min id wins the rep)
    assert (10, 11) in pairs
    # CROSS-BATCH state: 30 (batch 2) flagged against batch 1's rep
    assert (10, 30) in pairs
    # unrelated docs never flagged
    assert all(d not in (20, 40) for _, d in pairs)
    assert all(r not in (20, 40) for r, _ in pairs)
    # every streamed pair is a batch LSH candidate pair too
    docs = spark.createDataFrame(
        [(10, base), (11, base), (20, other), (30, base + " phi"),
         (40, "nothing like anything seen before in this tiny corpus of "
              "documents")],
        "doc_id long, text string",
    )
    batch_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidates(
            dedup.minhash_signatures(docs)
        ).collect()
    }
    assert all(
        (min(p), max(p)) in batch_pairs for p in pairs
    )
    # the duplicate doc collides in EVERY band; pairs are per-band rows
    assert sum(1 for r in rows if r["doc_id"] == 11) == 8
