"""Closed-loop benchmark of the PySpark data-contract engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload bulk_execute --seed 1 --seconds 12 --trace 0

One process, one client, one Spark session at ``local[<cpus>]``; each
iteration waits for the previous one. Inputs come from
``fixtures.transcripts.transcripts_df`` with the given seed; the engine only
sees the generated parquet tables, while the expected outcome of every
iteration is derived from the generator's injection flags. The last line of
standard output is the result object; the line before it holds host
attribution and every iteration's wall. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass
from typing import Dict, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import pyarrow.parquet as pq  # noqa: E402
import yaml  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from data_contract_engine_spark import (  # noqa: E402
    ContractEngine,
    build_session,
    contract_from_dict,
)
from data_contract_engine_spark import checkpoint as ckpt  # noqa: E402
from data_contract_engine_spark.fixtures.transcripts import (  # noqa: E402
    FLAGSHIP_CONTRACT_YAML,
    transcripts_df,
)
from data_contract_engine_spark.operators.drift import baseline_snapshot  # noqa: E402

import layertrace  # noqa: E402

WORK_DIR_NAME = ".perfbench_work"
KEYS = ["conv_id", "turn_idx"]
VOCABS = {  # referential column -> (vocabulary table name, its values)
    "tool": ("tools_vocab", ("search", "browser", "python", "sql")),
    "role": ("roles_vocab", ("system", "user", "assistant", "tool")),
}
ERROR_FLAGS = {  # schema error type -> generator injection flag
    "ENUM_MISMATCH": "_inj_role",
    "LENGTH_TOO_SHORT": "_inj_text",
    "VALUE_TOO_SMALL": "_inj_turn",
    "TIMESTAMP_TOO_OLD": "_inj_ts",
}
# The generator's default skew (1% of conversations "hot" with 1200-1599
# turns) makes the row count swing by several percent between seeds at
# these sizes, which shows up as run-to-run spread; no rule of the contract
# groups by conversation, so the skew buys nothing here.
HOT_CONV_PCT = 0.1
HOT_TURNS = 200
RUN_ID = "perfbench"
PARTITION_COL = "month"
PENDING_PARTITIONS = 2


@dataclass(frozen=True)
class Workload:
    name: str
    n_convs: int
    text_max_length: Optional[int] = None  # tightens schema.text.max_length
    resume: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload("bulk_execute", n_convs=10000),
        Workload("resume_incremental", n_convs=10000, resume=True),
        # not in BENCHMARK.json (run budget); run by hand, see README
        Workload("violation_heavy", n_convs=10000, text_max_length=200),
    )
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_run_s": "s",
    "run_s_p50": "s",
    "turns_per_s": "1/s",
}


# --------------------------------------------------------------------------
# contract and expected outcome


def bench_contract(workload: Workload):
    """The flagship contract with role/tool checked against vocabulary
    *tables* instead of inline value lists."""
    raw = yaml.safe_load(FLAGSHIP_CONTRACT_YAML)
    raw["quality_rules"]["referential"] = {
        col: {"table": table, "column": col}
        for col, (table, _values) in VOCABS.items()
    }
    if workload.text_max_length is not None:
        raw["schema"]["text"]["max_length"] = workload.text_max_length
    return contract_from_dict(raw, name=workload.name)


@dataclass
class Expected:
    total: int
    passed: int
    errors_summary: Dict[str, int]
    referential: Dict[str, int]  # vocab column -> invalid count
    duplicate_rows: int
    skipped: int = 0

    @property
    def failed(self) -> int:
        return self.total - self.passed

    @property
    def violation_rows(self) -> int:
        return sum(self.errors_summary.values())

    def quality_rules(self) -> set:
        out = {("REFERENTIAL", c) for c, n in self.referential.items() if n}
        if self.duplicate_rows:
            out.add(("UNIQUENESS", ",".join(KEYS)))
        return out


def generated(spark, workload: Workload, seed: int):
    """The generator's output with its injection flags (and, for the
    resume workload, the partition column)."""
    df = transcripts_df(spark, n_convs=workload.n_convs, seed=seed,
                        hot_conv_pct=HOT_CONV_PCT, hot_turns=HOT_TURNS,
                        with_flags=True)
    if workload.resume:
        df = df.withColumn(PARTITION_COL, F.date_format("ts", "yyyy-MM"))
    return df


def flag_counts(flags_df, workload: Workload, group_col=None) -> List[dict]:
    """Counts derived only from the generator's injection flags (and the
    generated text length for a tightened max_length), per ``group_col``."""
    checks = {et: F.col(flag) for et, flag in ERROR_FLAGS.items()}
    if workload.text_max_length is not None:
        checks["LENGTH_TOO_LONG"] = F.length("text") > workload.text_max_length
    any_fail = F.lit(False)
    for c in checks.values():
        any_fail = any_fail | c
    aggs = [
        F.count(F.lit(1)).alias("total"),
        F.sum((~any_fail).cast("long")).alias("passed"),
        F.sum(F.col("_inj_tool").cast("long")).alias("ref_tool"),
        F.sum(F.col("_inj_role").cast("long")).alias("ref_role"),
        F.sum(F.col("_inj_dup").cast("long")).alias("dup"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    ] + [F.sum(c.cast("long")).alias(f"err_{et}") for et, c in checks.items()]
    grouped = flags_df.groupBy(group_col) if group_col else flags_df.groupBy()
    return [r.asDict() for r in grouped.agg(*aggs).collect()]


def expected_from(rows: List[dict], skipped: int = 0) -> Expected:
    def tot(key):
        return sum(int(r[key] or 0) for r in rows)

    return Expected(
        total=tot("total"),
        passed=tot("passed"),
        errors_summary={
            k[4:]: tot(k) for k in rows[0] if k.startswith("err_") and tot(k)
        },
        referential={"tool": tot("ref_tool"), "role": tot("ref_role")},
        duplicate_rows=tot("dup"),
        skipped=skipped,
    )


def parquet_rows(path: str) -> int:
    """Rows in the parquet files under ``path``, read from their footers
    with pyarrow rather than through Spark (0 when absent)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                total += pq.read_metadata(os.path.join(dirpath, name)).num_rows
    return total


def check_iteration(exp: Expected, report, viol_path: str, resumed=None,
                    ckpt_path: str = "", seeded_rows: int = 0) -> List[str]:
    """Problems with one iteration's outputs ([] when correct)."""
    problems = []

    def want(name, got, expected):
        if got != expected:
            problems.append(f"{name}: got {got!r}, expected {expected!r}")

    want("total", report.total_records, exp.total)
    want("passed", report.passed, exp.passed)
    want("failed", report.failed, exp.failed)
    want("errors_summary", dict(report.errors_summary), exp.errors_summary)
    want("total_violation_rows", report.total_violation_rows, exp.violation_rows)
    want("written violation rows", parquet_rows(viol_path),
         report.total_violation_rows)
    quality = report.quality.errors if report.quality else []
    want("quality rules fired",
         {(e.rule_type, e.details.get("field")) for e in quality},
         exp.quality_rules())
    for e in quality:
        if e.rule_type == "REFERENTIAL":
            col = e.details["field"]
            want(f"REFERENTIAL {col} invalid_count",
                 e.details["invalid_count"], exp.referential[col])
    if resumed is not None:
        want("skipped partitions", resumed.skipped, exp.skipped)
        want("pending partitions", resumed.pending_before, PENDING_PARTITIONS)
        want("checkpoint rows written", parquet_rows(ckpt_path) - seeded_rows,
             PENDING_PARTITIONS)
    return problems


# --------------------------------------------------------------------------
# set-up


def start_session(work: str, cpus: int, event_log: Optional[str] = None):
    conf = {
        "spark.driver.memory": "3g",
        # keep the JVM's scratch files inside the work directory
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_session(
        app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf
    )


@dataclass
class Prepared:
    """What set-up wrote, independent of any Spark session."""
    workload: Workload
    contract: object
    input_path: str
    expected: Expected
    snapshot: dict
    seed_ckpt: str = ""
    seeded_rows: int = 0


def prepare(spark, workload: Workload, seed: int, work: str) -> Prepared:
    """Write the generated input (without its flags), derive the expected
    outcome from the flags, take the drift baseline snapshot and (resume)
    write the pre-seeded checkpoint, whose rows carry the done partitions'
    true counts as a previous run would have written them."""
    contract = bench_contract(workload)
    data = os.path.join(work, "data")
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    input_path = os.path.join(data, "input")
    flags = generated(spark, workload, seed)
    gen = flags.drop(*[c for c in flags.columns if c.startswith("_inj_")])
    drift_exprs = {
        c: spec.get("expr") or c for c, spec in contract.quality.drift.items()
    }
    bins = max(spec.get("bins", 10) for spec in contract.quality.drift.values())

    if not workload.resume:
        gen.write.parquet(input_path)
        expected = expected_from(flag_counts(flags, workload))
        snap = baseline_snapshot(spark.read.parquet(input_path), drift_exprs, bins)
        return Prepared(workload, contract, input_path, expected, snap)

    gen.write.partitionBy(PARTITION_COL).parquet(input_path)
    per_month = sorted(flag_counts(flags, workload, PARTITION_COL),
                       key=lambda r: r[PARTITION_COL])
    pending = per_month[-PENDING_PARTITIONS:]
    done = per_month[:-PENDING_PARTITIONS]
    # drift baseline from the partitions an iteration validates, so drift
    # is scored every time but never fires and the expected rule set is exact
    snap = baseline_snapshot(
        spark.read.parquet(input_path).filter(
            F.col(PARTITION_COL).isin([r[PARTITION_COL] for r in pending])
        ),
        drift_exprs, bins,
    )
    lineage = ckpt.lineage_hash(contract)
    seed_rows = [
        (RUN_ID, r[PARTITION_COL], lineage, "DONE", r["total"], r["passed"],
         r["total"] - r["passed"], r["min_ts"], r["max_ts"], 0.0)
        for r in done
    ]
    seed_ckpt = os.path.join(data, "checkpoint_seed")
    spark.createDataFrame(seed_rows, ckpt.CHECKPOINT_SCHEMA).coalesce(1) \
        .write.parquet(seed_ckpt)
    return Prepared(workload, contract, input_path,
                    expected_from(pending, skipped=len(done)), snap,
                    seed_ckpt, len(seed_rows))


class Bound:
    """The session-bound objects an iteration uses: the input DataFrame and
    an engine with the vocabulary tables registered."""

    def __init__(self, spark, prep: Prepared):
        self.spark = spark
        self.prep = prep
        self.df = spark.read.parquet(prep.input_path)
        vocab_tables = {
            table: spark.createDataFrame([(v,) for v in values], [col])
            for col, (table, values) in VOCABS.items()
        }
        self.engine = ContractEngine(
            spark, vocab_tables=vocab_tables,
            drift_baseline_snapshot=prep.snapshot,
        )


# --------------------------------------------------------------------------
# one iteration


@dataclass
class IterationResult:
    wall_s: float
    turns: int
    problems: List[str]


def run_iteration(bound: Bound, work: str, tracer=None, index: int = 0
                  ) -> IterationResult:
    """One timed iteration; output dirs are prepared before the clock
    starts and the output check runs after it stops."""
    prep = bound.prep
    out = os.path.join(work, "out")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    viol = os.path.join(out, "violations")
    ckpt_path = os.path.join(out, "checkpoint")
    if prep.workload.resume:
        shutil.copytree(prep.seed_ckpt, ckpt_path)

    if tracer is not None:
        tracer.begin(index)
    t0 = time.perf_counter()
    resumed = None
    if prep.workload.resume:
        resumed = ckpt.validate_resumable(
            bound.engine, bound.df, prep.contract,
            ckpt.CheckpointStore(bound.spark, ckpt_path), run_id=RUN_ID,
            partition_col=PARTITION_COL, key_columns=KEYS,
            all_partitions=None, violations_out=viol,
        )
        report = resumed.run.report() if resumed.run is not None else None
    else:
        run = bound.engine.validate(bound.df, prep.contract, key_columns=KEYS)
        report = run.execute(viol)
    wall = time.perf_counter() - t0
    if tracer is not None:
        tracer.end()

    if report is None:
        return IterationResult(wall, 0, ["nothing was pending"])
    problems = check_iteration(prep.expected, report, viol, resumed,
                               ckpt_path, prep.seeded_rows)
    return IterationResult(wall, report.total_records, problems)


# --------------------------------------------------------------------------
# host attribution


def steal_seconds() -> Optional[float]:
    """Cumulative CPU steal time of the host, from /proc/stat."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


# --------------------------------------------------------------------------
# the run


# run_s_p50 is a median over at least this many timed iterations, however
# short --seconds is. The first of them, the first warm iteration after the
# cold one, runs 10-25% slower than the rest; the median absorbs it, which
# costs less of the run budget than a separate warm-up iteration.
MIN_TIMED = 4


def stop_jvm() -> None:
    """Shut down the JVM behind the (already stopped) sessions and wait
    until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Recorder:
    """Every iteration's wall and output-check result, and a phase
    timeline of the run."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.iterations: List[dict] = []
        self.timeline: Dict[str, float] = {}

    def mark(self, phase: str) -> None:
        self.timeline[phase] = time.perf_counter() - self.t0

    def add(self, phase: str, res: IterationResult) -> IterationResult:
        self.iterations.append({"phase": phase, "wall_s": res.wall_s,
                                "turns": res.turns, "problems": res.problems})
        if res.problems:
            print(f"[perfbench] {phase} iteration failed the output check: "
                  f"{res.problems}", file=sys.stderr)
        return res

    @property
    def failed(self) -> int:
        return sum(bool(i["problems"]) for i in self.iterations)


def timed_window(bound: Bound, work: str, seconds: float, rec: Recorder,
                 phase: str, tracer=None) -> List[IterationResult]:
    """Iterations until ``seconds`` have passed and at least MIN_TIMED
    have run."""
    t_window, out = time.perf_counter(), []
    while len(out) < MIN_TIMED or time.perf_counter() - t_window < seconds:
        index = len(out) + 1
        out.append(rec.add(phase, run_iteration(bound, work, tracer, index)))
    return out


def run_benchmark(workload: Workload, seed: int, seconds: float, trace: bool,
                  work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # scratch files of this process, the JVM and its Python workers stay
    # inside the work directory
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    rec = Recorder()

    # The set-up includes the JVM launch and session start, and the cold
    # iteration follows it in that fresh JVM.
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cpus)
        rec.mark("session")
        bound = Bound(spark, prepare(spark, workload, seed, work))
        setup_s = time.perf_counter() - t0
        rec.mark("setup")
        cold = rec.add("cold", run_iteration(bound, work))
        rec.mark("cold")

        steal0, load0 = steal_seconds(), os.getloadavg()[0]
        timed = timed_window(bound, work, seconds, rec, "timed")
        rec.mark("timed")
        steal1 = steal_seconds()
        host = {
            "cpus": cpus,
            "steal_s": None if steal0 is None else steal1 - steal0,
            "loadavg_1m": [load0, os.getloadavg()[0]],
        }
        run_p50 = statistics.median(r.wall_s for r in timed)
        end_to_end = {
            "setup_s": setup_s,
            "cold_run_s": cold.wall_s,
            "run_s_p50": run_p50,
            "turns_per_s": statistics.median(r.turns for r in timed) / run_p50,
        }
        if trace:
            metrics, layers = traced_run(bound, work, cpus, seconds, run_p50,
                                         rec)
        else:
            spark.stop()
            metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in end_to_end.items()}
            layers = None
    finally:
        stop_jvm()
    rec.mark("stopped")

    detail = {
        "workload": workload.name, "seed": seed, "host": host,
        "end_to_end": end_to_end,
        "iterations": rec.iterations, "timeline_s": rec.timeline,
        "layers": layers,
    }
    return {
        "detail": detail,
        "result": {
            "correct": rec.failed == 0,
            "attempted": len(rec.iterations),
            "failed": rec.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def traced_run(bound: Bound, work: str, cpus: int, seconds: float,
               untraced_p50: float, rec: Recorder):
    """Restart the session with the event log on, rebind the layer entry
    points and run one traced warm-up plus a traced window; returns the
    per-layer metrics and their detail."""
    event_dir = os.path.join(work, "eventlog")
    shutil.rmtree(event_dir, ignore_errors=True)
    bound.spark.stop()
    spark = start_session(work, cpus, event_log=event_dir)
    app_id = spark.sparkContext.applicationId
    bound = Bound(spark, bound.prep)
    tracer = layertrace.LayerTracer(spark)
    tracer.install()
    try:
        rec.add("trace-warmup", run_iteration(bound, work, tracer, index=0))
        traced = timed_window(bound, work, seconds, rec, "traced", tracer)
    finally:
        tracer.uninstall()
        spark.stop()  # flushes and closes the event log
    counted = list(range(1, len(traced) + 1))
    flat, detail = layertrace.layer_metrics(
        tracer, os.path.join(event_dir, app_id), counted
    )
    metrics = {
        k: (v, layertrace.METRICS[k.rsplit(".", 1)[1]]) for k, v in flat.items()
    }
    metrics["trace.overhead_s"] = (
        statistics.median(r.wall_s for r in traced) - untraced_p50, "s"
    )
    detail["calls"] = dict(tracer.calls)
    return metrics, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, WORK_DIR_NAME, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = run_benchmark(WORKLOADS[args.workload], args.seed, args.seconds,
                        bool(args.trace), work)
    detail = out["detail"]
    with open(os.path.join(work, "detail.json"), "w", encoding="utf-8") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps({
        "host": detail["host"],
        "walls_s": [(i["phase"], i["wall_s"]) for i in detail["iterations"]],
    }))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
