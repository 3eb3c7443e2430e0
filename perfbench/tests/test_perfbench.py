"""Self-test of the benchmark on a tiny input, with the benchmark's own
schedule.

Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import layertrace  # noqa: E402
import run as bench  # noqa: E402

COMMON_LAYERS = {
    "compiler", "sinks", "operators.uniqueness", "operators.referential",
    "operators.drift",
}
CHECKPOINT_LAYERS = {
    "checkpoint.discover", "checkpoint.done_partitions", "checkpoint.write_done",
}


def _tiny(name: str, n_convs: int) -> bench.Workload:
    return dataclasses.replace(bench.WORKLOADS[name], n_convs=n_convs)


def _traced(tmp_path, workload):
    out = bench.run_benchmark(workload, seed=7, seconds=0, trace=True,
                              work=str(tmp_path))
    return out["result"], out["detail"]


def test_bulk_traced_layers_and_sink_input_rows(tmp_path):
    result, detail = _traced(tmp_path, _tiny("bulk_execute", 60))
    assert result["correct"], detail["iterations"]
    assert result["failed"] == 0
    assert set(detail["layers"]["calls"]) == COMMON_LAYERS
    metrics = result["metrics"]
    assert set(metrics) == {
        f"{layer}.{m}" for layer in layertrace.LAYERS for m in layertrace.METRICS
    } | {"trace.overhead_s"}
    turns = detail["iterations"][-1]["turns"]
    assert metrics["sinks.input_rows"]["value"] == turns
    assert metrics["operators.referential.jobs"]["value"] > 0
    for layer in CHECKPOINT_LAYERS:
        assert metrics[f"{layer}.wall_s"]["value"] == 0
        assert metrics[f"{layer}.jobs"]["value"] == 0


def test_resume_traced_layers(tmp_path):
    # 800 conversations span two calendar months plus the injected 2019
    # timestamps, so one partition is pre-seeded as done and two are pending
    result, detail = _traced(tmp_path, _tiny("resume_incremental", 800))
    assert result["correct"], detail["iterations"]
    assert set(detail["layers"]["calls"]) == (
        COMMON_LAYERS | CHECKPOINT_LAYERS | {"engine.report"}
    )
    assert result["metrics"]["checkpoint.write_done.output_rows"]["value"] == 2


def test_check_rejects_contract_without_quality_rules(tmp_path):
    """A malformed referential spec makes the parser drop *every* quality
    rule with only a log warning; the output check must catch that."""
    from data_contract_engine_spark import contract_from_dict

    workload = _tiny("bulk_execute", 60)
    spark = bench.start_session(str(tmp_path), 2)
    try:
        prep = bench.prepare(spark, workload, 7, str(tmp_path))
        good = bench.Bound(spark, prep)
        assert bench.run_iteration(good, str(tmp_path)).problems == []

        import yaml

        from data_contract_engine_spark.fixtures.transcripts import (
            FLAGSHIP_CONTRACT_YAML,
        )

        raw = yaml.safe_load(FLAGSHIP_CONTRACT_YAML)
        raw["quality_rules"]["referential"]["tool"] = {"table": "tools_vocab"}
        broken = contract_from_dict(raw, name="broken")
        assert not broken.quality.any()
        bad = bench.Bound(spark, dataclasses.replace(prep, contract=broken))
        problems = bench.run_iteration(bad, str(tmp_path)).problems
        assert any(p.startswith("quality rules fired") for p in problems)
    finally:
        spark.stop()
        bench.stop_jvm()


@pytest.mark.parametrize("layer", sorted(layertrace.LAYERS))
def test_every_layer_entry_point_resolves(layer):
    for module_path, attr_path in layertrace.LAYERS[layer]:
        owner, name = layertrace._resolve(module_path, attr_path)
        assert callable(owner.__dict__[name])
