"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "throughput": {...}}

The flagship number is the full contract suite (schema rules + quality
aggregates + uniqueness + literal-set referential + PSI drift) over
the transcripts table derived from events — the BASELINE.json metric is
validated turns/sec for exactly that job.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from data_contract_engine_spark import build_session
from data_contract_engine_spark.engine import ContractEngine
from data_contract_engine_spark.fixtures.transcripts import FLAGSHIP_CONTRACT_YAML
from data_contract_engine_spark.fixtures.transcripts_sql import (
    spark_transcripts_from_events,
)
from data_contract_engine_spark.operators import dedup, similarity, textstats

import __spark_entry__ as entrymod


def timed(fn):
    t0 = time.time()
    out = fn()
    return time.time() - t0, out


def _spin_probe_ms():
    """Wall time of a FIXED single-thread Python spin (~100 ms nominal).

    Round-5 attribution instrumentation #2: two back-to-back full bench
    runs of IDENTICAL code measured 22.3 s vs 8.8 s headline seven
    minutes apart, with small JIT/GC deltas on the slow steady runs —
    i.e. the host itself swings ~2.5× in bursts lasting minutes
    (hypervisor neighbor), which is also the shape of the round-4
    driver-bench regression. A fixed spin measured immediately before
    every run stamps the host's speed into the artifact: a slow run
    with a proportionally slow spin is the HOST, not the engine."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return round((time.perf_counter() - t0) * 1000, 1)


def _cpu_steal_jiffies():
    """Cumulative hypervisor steal time (jiffies) from /proc/stat.

    The single-thread spin probe can MISS multi-core steal (the
    scheduler parks the probe on an idle core while the hypervisor
    steals the rest); the kernel's steal counter cannot. This host had
    accumulated 4.37M steal jiffies (≈12 core-hours in a 10-hour
    uptime) when this was added — concentrated in the multi-minute
    bursts documented in BENCH.md. A slow run with a large steal delta
    is the hypervisor, conclusively."""
    try:
        with open("/proc/stat") as f:
            vals = f.readline().split()[1:]
        return int(vals[7]) if len(vals) > 7 else 0
    except (OSError, ValueError, IndexError):
        return 0


def _jvm_counters(spark):
    """(jit_ms, gc_ms) cumulative totals from the driver JVM's JMX beans.

    Round-5 attribution instrumentation: the round-4 driver bench showed
    +24%/+28% on two UNCHANGED queries, surviving min-of-5 — on a host
    with documented JIT-warmup storms. Recording the per-run JIT
    compilation and GC collection deltas next to each wall time makes a
    storm attributable from the artifact alone (a slow run with a
    multi-second JIT delta is the compiler, not the plan)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    jit = mf.getCompilationMXBean().getTotalCompilationTime()
    gc = 0
    it = mf.getGarbageCollectorMXBeans().iterator()
    while it.hasNext():
        gc += it.next().getCollectionTime()
    return int(jit), int(gc)


def timed2(fn, spark=None, detail=None):
    """(first_sec, steady_sec, out): each query runs THREE times
    back-to-back — the first run carries one-off costs (driver plan
    analysis, codegen, shuffle file creation), steady is the MIN of the
    two repeats. Both series are reported so a regression is attributable
    to plan cost vs execution cost (round-2 verdict item: one bench, two
    unexplained numbers per query).

    .. versionchanged:: round 4
       steady was a single second run; this host shows JIT-warmup storms
       (an identical repeat occasionally runs 3-10x its converged time
       with 20s+ of measured JIT compilation — verified by JMX
       CompilationMXBean deltas, with raw-CPU / disk / GC probes all
       stable, and the storms strike repeats as readily as cold runs).
       Steady is now the MIN of up to 5 back-to-back runs, stopping
       early once a run lands within 20% of the best seen (≥3 runs
       total) — the same min-of-runs methodology BENCH.md already uses
       for scaling walls.

    .. versionchanged:: round 5
       when ``spark``/``detail`` are passed, the FULL per-run series and
       the per-run JIT/GC millisecond deltas are appended to ``detail``
       (a list) so BENCH_r{N}.json itself attributes outliers — see
       :func:`_jvm_counters`."""
    times = []
    jits = []
    gcs = []
    spins = []
    steals = []
    for i in range(5):
        if spark is not None:
            # nudge the ContextCleaner: stale localCheckpoint/broadcast
            # blocks from prior runs are only reclaimed on driver GC,
            # and a 128 GiB heap may not GC for the whole bench —
            # measured to stabilize repeat runs of checkpoint-heavy
            # queries (semantic dedup: 13.1/10.6/8.9 → 8.0/8.0/8.4 s)
            spark.sparkContext._jvm.System.gc()
        spins.append(_spin_probe_ms())
        s0 = _cpu_steal_jiffies()
        c0 = _jvm_counters(spark) if spark is not None else (0, 0)
        t1 = time.time()
        out = fn()
        dt = time.time() - t1
        c1 = _jvm_counters(spark) if spark is not None else (0, 0)
        times.append(dt)
        jits.append(c1[0] - c0[0])
        gcs.append(c1[1] - c0[1])
        steals.append(_cpu_steal_jiffies() - s0)
        if i >= 2 and dt <= 1.2 * min(times):
            break
    if detail is not None:
        detail.append(
            {
                "runs_sec": [round(t, 3) for t in times],
                "jit_ms": jits,
                "gc_ms": gcs,
                "spin_ms": spins,
                "steal_j": steals,
            }
        )
    return times[0], min(times), out


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # small-sf inputs are single-digit-MB parquet files — default 128MB
    # splits would scan them on one core (a production table has thousands
    # of real splits); 2MB splits give every query balanced parallelism
    spark = build_session(
        app_name="dce-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
        extra_conf={"spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024)},
    )
    sf = sf_dir.rstrip("/").split("sf")[-1]

    queries = {}
    queries_first = {}
    attribution = {}
    meta = {}

    def run2(name, fn):
        det = []
        queries_first[name], queries[name], out = timed2(
            fn, spark=spark, detail=det
        )
        attribution[name] = det[0]
        return out

    def run_pair(name_a, fn_a, name_b, fn_b):
        """Adversarial-skew twins run INTERLEAVED (a,b,a,b,...): the host
        shows multi-minute ~2.5× interference bursts (see _spin_probe_ms),
        and the twins' steady walls feed a RATIO — measured minutes apart
        a burst lands on one twin only and fabricates (or masks) a skew
        regression. Interleaving puts both series through the same
        minutes, so a burst inflates both and the ratio stays honest.
        Early-stops once BOTH series have a repeat within 20% of their
        min (≥3 runs each), same rule as timed2."""
        series = {name_a: [], name_b: []}
        dets = {
            name_a: {"runs_sec": [], "jit_ms": [], "gc_ms": [],
                     "spin_ms": [], "steal_j": []},
            name_b: {"runs_sec": [], "jit_ms": [], "gc_ms": [],
                     "spin_ms": [], "steal_j": []},
        }
        last = {}
        for i in range(5):
            for name, fn in ((name_a, fn_a), (name_b, fn_b)):
                spark.sparkContext._jvm.System.gc()
                dets[name]["spin_ms"].append(_spin_probe_ms())
                s0 = _cpu_steal_jiffies()
                c0 = _jvm_counters(spark)
                t1 = time.time()
                fn()
                dt = time.time() - t1
                c1 = _jvm_counters(spark)
                series[name].append(dt)
                dets[name]["runs_sec"].append(round(dt, 3))
                dets[name]["jit_ms"].append(c1[0] - c0[0])
                dets[name]["gc_ms"].append(c1[1] - c0[1])
                dets[name]["steal_j"].append(_cpu_steal_jiffies() - s0)
                last[name] = dt
            if i >= 2 and all(
                last[n] <= 1.2 * min(series[n]) for n in series
            ):
                break
        for name in (name_a, name_b):
            queries_first[name] = series[name][0]
            queries[name] = min(series[name])
            attribution[name] = dets[name]

    # q1 — full contract suite over transcripts (the authoritative metric).
    # Small-sf parquet arrives as ONE split; repartition the cached input
    # to the worker count so the suite measures the engine, not a serial
    # scan (a production table has thousands of splits already).
    tr = (
        spark_transcripts_from_events(
            spark, spark.read.parquet(f"{sf_dir}/events.parquet")
        )
        .repartition(cpus)
        .cache()
    )
    n_turns = tr.count()  # materialize cache so q1 times the suite, not the derive

    # drift baseline snapshot: established once per baseline, not per run
    from data_contract_engine_spark import parse_contract_yaml
    from data_contract_engine_spark.operators import drift as drift_op

    contract = parse_contract_yaml(FLAGSHIP_CONTRACT_YAML, name="flagship")
    snap = drift_op.contract_baseline_snapshot(tr, contract.quality.drift)

    # warmup (not timed): JIT + codegen + python workers + parquet footers
    # — same methodology as scripts/bench_scaling.py; the suite number is
    # steady-state engine throughput, not JVM cold-start
    ContractEngine(spark, drift_baseline_snapshot=snap).validate(
        tr.limit(2000), contract, key_columns=["conv_id", "turn_idx"]
    ).report()

    # per-stage walls for the round-4 unattributed regression (+24% on
    # unchanged code): "plan" = validate() — pure driver-side analysis /
    # compilation, the JIT-storm-sensitive half; "exec" = execute() —
    # the single write+observe action. Each run appends to both series;
    # BENCH.md reads min/max off them.
    suite_steps = {"plan_sec": [], "exec_sec": []}

    def full_suite():
        import tempfile

        eng = ContractEngine(spark, drift_baseline_snapshot=snap)
        t0 = time.time()
        run = eng.validate(
            tr, contract, key_columns=["conv_id", "turn_idx"]
        )
        t1 = time.time()
        # production path: violations artifact written while the SAME
        # scan's aggregates are collected via observe() — one pass total
        rep = run.execute(tempfile.mkdtemp(prefix="dce_bench_viol_"))
        suite_steps["plan_sec"].append(round(t1 - t0, 3))
        suite_steps["exec_sec"].append(round(time.time() - t1, 3))
        return rep.total_records, rep.total_violation_rows

    total, n_viol = run2("full_contract_suite", full_suite)
    attribution["full_contract_suite"]["steps"] = suite_steps
    meta["validated_turns"] = total
    meta["violations"] = n_viol
    meta["validated_turns_per_sec"] = round(total / queries["full_contract_suite"], 1)

    # q2 — minhash LSH near-dup pipeline over documents
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # warmup (not timed): compile the minhash plan shapes — clean-corpus
    # path AND the capped path (tiny cap on a tiny boilerplate corpus so
    # the probe fires and the stop-list/anti-join codegen classes JIT
    # before any timed run; this host's JIT storms cost 20s+ on first
    # execution of a cold plan shape)
    warm = docs.limit(400)
    dedup.minhash_near_duplicates(warm, threshold=0.8).count()
    dedup.minhash_near_duplicates(
        warm.withColumn("text", F.concat(F.col("text"), F.lit(" wz0 wz1 wz2"))),
        threshold=0.8,
        max_shingle_freq=50,
    ).count()
    # adversarial twin (interleaved with the natural corpus — see
    # run_pair): one shingle shared by ~50% of docs (appended fixed
    # 3-gram)
    skew_docs = docs.withColumn(
        "text",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(2)) == 0,
            F.concat(F.col("text"), F.lit(" zq0 zq1 zq2")),
        ).otherwise(F.col("text")),
    ).cache()
    skew_docs.count()
    run_pair(
        "dedup_minhash_lsh",
        lambda: dedup.minhash_near_duplicates(docs, threshold=0.8).count(),
        "dedup_minhash_hot_shingle",
        lambda: dedup.minhash_near_duplicates(skew_docs, threshold=0.8).count(),
    )
    skew_docs.unpersist()

    # q3 — similarity search (exact + LSH) over embeddings
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter("vec_id = 0").select("embedding").collect()[0][0]

    sim_steps = {"cosine_sec": [], "ann_lsh_sec": []}

    def sim():
        t0 = time.time()
        similarity.cosine_topk(emb, qv, 10).collect()
        t1 = time.time()
        similarity.ann_lsh_topk(emb, qv, 10, planes=8, probe_hamming=2).collect()
        sim_steps["cosine_sec"].append(round(t1 - t0, 3))
        sim_steps["ann_lsh_sec"].append(round(time.time() - t1, 3))

    run2("similarity_search", sim)
    attribution["similarity_search"]["steps"] = sim_steps

    # q4 — relational: pricing summary + 5-way broadcast join
    run2(
        "tpch_agg_join",
        lambda: (
            entrymod.q_pricing_summary(spark, sf_dir).collect(),
            entrymod.q_revenue_by_nation(spark, sf_dir).collect(),
        ),
    )

    # q5 — text-analysis pipeline over documents (quality + lang + tokens + fp)
    def text_pipeline():
        textstats.quality_features(docs).count()
        textstats.lang_id(docs).count()
        textstats.token_stats(docs).collect()
        textstats.doc_fingerprints(docs).count()

    run2("text_pipeline", text_pipeline)

    # q6/q7 — ADVERSARIAL SKEW twins: same operators on pathologically
    # skewed keys, so BENCH_r{N}.json carries direct evidence the
    # aggregation/dedup plans absorb hot keys (map-side partial combine;
    # LSH banding needs a full band match, not one shared shingle).
    from data_contract_engine_spark.operators import uniqueness as uniq_op

    # one conversation owns ~10% of ALL turns (deterministic row pick)
    hot = (
        tr.withColumn(
            "conv_id",
            F.when(
                F.pmod(F.xxhash64("conv_id", "turn_idx", "text"), F.lit(10))
                == 0,
                F.lit("conv_hot"),
            ).otherwise(F.col("conv_id")),
        )
        .repartition(cpus)
        .cache()
    )
    n_hot = hot.filter(F.col("conv_id") == "conv_hot").count()
    meta["skew_hot_conv_turns"] = n_hot
    run_pair(
        "uniqueness_balanced",
        lambda: uniq_op.duplicate_report(tr, ["conv_id", "turn_idx"]),
        "uniqueness_hot_key",
        lambda: uniq_op.duplicate_report(hot, ["conv_id", "turn_idx"]),
    )
    hot.unpersist()

    # q8 — benchmark decontamination over documents (every 20th doc plays
    # the eval suite); rides "queries" but not the headline total
    from data_contract_engine_spark.operators import decontaminate as decon

    run2(
        "decontaminate_docs",
        lambda: decon.contamination_scores(
            docs.filter(F.col("doc_id") % 20 != 0),
            docs.filter(F.col("doc_id") % 20 == 0),
            k=3,
        ).count(),
    )

    # q9 — the composed curation funnel (decontaminate → dedup → quality
    # → sample → pack) as one plan
    from data_contract_engine_spark.operators import curation

    run2(
        "corpus_curation",
        lambda: curation.curate_corpus(
            docs.filter(F.col("doc_id") % 20 != 0),
            docs.filter(F.col("doc_id") % 20 == 0),
            k=3,
            frac_threshold=0.1,
            quality_threshold=0.8,
            sample_rate=0.5,
            budget=256,
            n_shards=8,
        ).count(),
    )

    # q10 — corpus-trained unigram-LM perplexity (capped top-k model)
    from data_contract_engine_spark.operators import lm

    run2(
        "lm_perplexity",
        lambda: lm.unigram_perplexity(docs, top_k=50_000).count(),
    )

    # q11/q12 — SemDeDup semantic dedup (LSH pair stage) + ADVERSARIAL
    # hot-cluster twin: the sf embeddings table ×8 deterministic jittered
    # copies (so the pair stage has real work), balanced = 16 coarse
    # clusters, hot = ONE cluster holding every vector — exactly where
    # exact=True goes quadratic; the within-cluster hyperplane-LSH path
    # must hold (skew bar: hot ≤ 2× balanced).
    emb_dim = 64
    big_emb = emb
    for j in range(1, 8):
        big_emb = big_emb.unionByName(
            emb.select(
                (F.col("vec_id") + F.lit(j * 1_000_000)).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x, i: x + F.lit(0.001 * j) * F.cos(i + F.lit(j)),
                ).alias("embedding"),
                *[c for c in emb.columns if c not in ("vec_id", "embedding")],
            )
        )
    big_emb = big_emb.select("vec_id", "embedding").repartition(cpus).cache()
    n_vecs = big_emb.count()
    meta["semantic_dedup_vectors"] = n_vecs
    cents16 = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter("vec_id < 16").orderBy("vec_id").collect()
    ]
    # warmup (not timed): compile the assign/LSH-pair/cluster plan shapes
    dedup.semantic_dedup(
        big_emb.limit(400), threshold=0.95, centroids=cents16, dim=emb_dim
    ).count()
    run_pair(
        "dedup_semantic",
        lambda: dedup.semantic_dedup(
            big_emb, threshold=0.95, centroids=cents16, dim=emb_dim
        ).count(),
        "dedup_semantic_hot_cluster",
        lambda: dedup.semantic_dedup(
            big_emb, threshold=0.95, centroids=cents16[:1], dim=emb_dim
        ).count(),
    )
    big_emb.unpersist()

    # q13 — real BPE encode over documents (broadcast fixture merges,
    # Arrow batches)
    from data_contract_engine_spark.operators import bpe as bpe_op

    merges = entrymod._bpe_merges()
    bpe_op.bpe_encode(docs.limit(200), merges).count()  # warmup
    run2(
        "bpe_encode",
        lambda: bpe_op.bpe_encode(docs, merges).agg(
            F.sum("n_tokens")
        ).collect(),
    )

    # the headline total is the SAME 5-query suite as rounds 1-2, but
    # NOTE the methodology shift: rounds 1-2 timed q3/q4 cold (no
    # warmup) while round 3+ sums steady-state second runs for all five
    # — cross-round totals overstate the round-3 improvement by the
    # first-run plan costs (~0.8s per BENCH.md's first-run column);
    # queries_first_run preserves the cold series for fair comparison.
    # The non-headline entries ride "queries" but are not summed.
    headline = (
        "full_contract_suite", "dedup_minhash_lsh", "similarity_search",
        "tpch_agg_join", "text_pipeline",
    )
    total_sec = sum(queries[k] for k in headline)
    out = {
        "metric": "headline_suite_wall_sec",
        "value": round(total_sec, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in queries.items()},
        "queries_first_run": {k: round(v, 3) for k, v in queries_first.items()},
        # per-run wall series + JIT/GC deltas + sub-step walls: the
        # round-4 regression was unattributable from steady numbers
        # alone; this block makes the artifact self-attributing (see
        # _jvm_counters docstring)
        "attribution": attribution,
        "sf": sf,
        "cpus": cpus,
        "throughput": meta,
    }
    # scaling evidence measured separately by scripts/bench_scaling.py on a
    # multi-million-turn input (this sf is too small to amortize fixed
    # costs); read from its artifact so there is ONE source of truth
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_SCALING.json")
        ) as f:
            out["scaling_evidence"] = json.load(f)
    except OSError:
        pass
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
