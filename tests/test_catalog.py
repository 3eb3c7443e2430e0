"""TableCatalog contract tests — the Iceberg seam.

One scenario, any backend: append-read round trip, MERGE idempotence,
retention delete, and a full checkpoint/resume cycle through
``catalog_checkpoint_store``. The local snapshot catalog runs it for
real; the Iceberg implementation's SQL generation is pinned here (execution needs
the iceberg-spark-runtime jars, absent in this sandbox — see
sources/catalog.py for the required session config).
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_contract_engine_spark import ContractEngine, parse_contract_yaml
from data_contract_engine_spark.checkpoint import validate_resumable
from data_contract_engine_spark.sources.catalog import (
    ConcurrentWriteError,
    IcebergCatalog,
    SnapshotParquetCatalog,
    catalog_checkpoint_store,
)

CONTRACT = """
contract_version: "1.0"
schema:
  conv_id: {type: string, required: true}
  turn_idx: {type: integer, required: true, min: 0}
"""


@pytest.fixture(params=["snapshot"])
def pcat(spark, tmp_path):
    """The catalog CONTRACT tests run against every local backend (one
    param per backend; the snapshot catalog is the only one)."""
    return SnapshotParquetCatalog(spark, str(tmp_path / "warehouse"))


def test_catalog_append_read_merge_contract(spark, pcat):
    df = spark.createDataFrame(
        [("r1", "a", 1), ("r1", "b", 2)], "run_id string, k string, v int"
    )
    assert pcat.read("results") is None
    pcat.append("results", df)
    assert pcat.read("results").count() == 2

    # MERGE: update one key, insert one, and re-merging is a no-op
    upd = spark.createDataFrame(
        [("r1", "b", 20), ("r1", "c", 3)], "run_id string, k string, v int"
    )
    pcat.merge("results", upd, keys=("run_id", "k"))
    pcat.merge("results", upd, keys=("run_id", "k"))  # idempotent
    got = {r["k"]: r["v"] for r in pcat.read("results").collect()}
    assert got == {"a": 1, "b": 20, "c": 3}


def test_catalog_retention_delete(spark, pcat):
    now = dt.datetime(2026, 6, 1)
    rows = [("x", now - dt.timedelta(days=d)) for d in (1, 50, 200)]
    pcat.append(
        "hist", spark.createDataFrame(rows, "k string, validated_at timestamp")
    )
    removed = pcat.delete_older_than(
        "hist", "validated_at", now - dt.timedelta(days=90)
    )
    assert removed == 1
    assert pcat.read("hist").count() == 2
    assert pcat.delete_older_than("missing", "validated_at", now) == 0


def test_checkpoint_round_trip_through_catalog(spark, pcat):
    """Resume semantics must hold on ANY backend: completion rows land via
    idempotent MERGE; a re-run of a done partition replaces its checkpoint
    row exactly once instead of duplicating it."""
    eng = ContractEngine(spark)
    contract = parse_contract_yaml(CONTRACT, name="cat-ckpt")
    store = catalog_checkpoint_store(pcat, "checkpoints")
    data = spark.createDataFrame(
        [(f"conv_{i % 3}", i) for i in range(30)],
        "conv_id string, turn_idx int",
    )

    half = data.filter(F.col("conv_id") != "conv_2")
    r1 = validate_resumable(
        eng, half, contract, store, run_id="r", partition_col="conv_id",
        key_columns=["conv_id", "turn_idx"], ts_col=None,
    )
    assert r1.validated_now == 2

    r2 = validate_resumable(
        eng, data, contract, store, run_id="r", partition_col="conv_id",
        key_columns=["conv_id", "turn_idx"], ts_col=None,
    )
    assert r2.skipped == 2 and r2.validated_now == 1

    # MERGE keyed by (run_id, partition_key, lineage_hash): exactly one
    # checkpoint row per partition even after multiple writes
    prog = store.progress("r").collect()
    assert len(prog) == 3
    assert {r["partition_key"] for r in prog} == {"conv_0", "conv_1", "conv_2"}


def test_iceberg_sql_generation_pinned(spark):
    """The Iceberg path's statements are deterministic text — pin them so
    the seam's contract survives refactors even without the runtime jars."""
    cat = IcebergCatalog(spark, catalog="local", namespace="dce")
    assert cat.qualified("checkpoints") == "local.dce.checkpoints"

    merge = cat.merge_sql(
        "checkpoints", "src",
        keys=("run_id", "partition_key"),
        columns=("run_id", "partition_key", "status"),
    )
    assert merge == (
        "MERGE INTO local.dce.checkpoints t\n"
        "USING src s\n"
        "ON t.run_id = s.run_id AND t.partition_key = s.partition_key\n"
        "WHEN MATCHED THEN UPDATE SET t.status = s.status\n"
        "WHEN NOT MATCHED THEN INSERT (run_id, partition_key, status) "
        "VALUES (s.run_id, s.partition_key, s.status)"
    )
    assert cat.delete_sql("results", "validated_at", "2026-01-01 00:00:00") == (
        "DELETE FROM local.dce.results "
        "WHERE validated_at < TIMESTAMP '2026-01-01 00:00:00'"
    )
    assert cat.expire_snapshots_sql("results", "2026-01-01 00:00:00") == (
        "CALL local.system.expire_snapshots(table => 'dce.results', "
        "older_than => TIMESTAMP '2026-01-01 00:00:00', retain_last => 5)"
    )


def test_iceberg_merge_sql_key_only_table(spark):
    """All columns are keys → no UPDATE SET clause (a bare one is a parse
    error); the upsert degenerates to insert-if-absent, matching the
    local catalog's behavior for key-presence tables."""
    cat = IcebergCatalog(spark, catalog="local", namespace="dce")
    sql = cat.merge_sql("seen", "src", keys=("k",), columns=("k",))
    assert "UPDATE SET" not in sql
    assert "WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)" in sql



def test_iceberg_read_maps_only_a_missing_table_to_none(spark):
    """read() returns None for a table that does not exist; a name the
    catalog cannot resolve at all raises instead of reading as absent."""
    from pyspark.errors import AnalysisException

    cat = IcebergCatalog(spark, catalog="spark_catalog", namespace="default")
    assert cat.read("no_such_table") is None
    with pytest.raises(AnalysisException, match="REQUIRES_SINGLE_PART_NAMESPACE"):
        IcebergCatalog(spark, catalog="nosuchcat", namespace="dce").read("t")

# ---------------------------------------------------------------------------
# SnapshotParquetCatalog-specific guarantees (the Iceberg storage model
# rebuilt on parquet + JSON manifests)
# ---------------------------------------------------------------------------


@pytest.fixture()
def scat(spark, tmp_path):
    return SnapshotParquetCatalog(spark, str(tmp_path / "snap_wh"))


def _units(scat, table):
    """Data units on disk vs the ones any published manifest references."""
    import json
    import os

    tdir = scat._dir(table)
    on_disk = {os.path.join("data", n)
               for n in os.listdir(os.path.join(tdir, "data"))}
    referenced = set()
    for name in os.listdir(os.path.join(tdir, "snapshots")):
        if name.endswith(".json"):
            with open(os.path.join(tdir, "snapshots", name)) as f:
                referenced.update(u["path"] for u in json.load(f)["units"])
    return on_disk, referenced


class _Killed(BaseException):
    """Stands in for the writer process dying at the link."""


def test_snapshot_commit_is_atomic(spark, scat, monkeypatch):
    """A writer that dies before its link leaves a temp manifest and an
    unreferenced unit — and nothing else: readers keep the old snapshot,
    the next writer commits at once (no grace window), and expiry
    reclaims the leftovers."""
    import json
    import os

    scat.overwrite("t", spark.createDataFrame([("a", 1)], "k string, v int"))
    sdir = os.path.join(scat._dir("t"), "snapshots")
    df_dead = spark.createDataFrame([("dead", 2)], "k string, v int")
    df_next = spark.createDataFrame([("next", 3)], "k string, v int")
    real_link = os.link
    seen = {}

    def die_at_link(src, dst):
        # the writer is frozen here with everything but the link done —
        # from any other process this is exactly a crash
        monkeypatch.setattr(os, "link", real_link)
        seen["temp"] = [n for n in os.listdir(sdir) if n.endswith(".tmp")]
        with open(src) as f:
            seen["temp_path"], seen["temp_body"] = src, f.read()
        on_disk, referenced = _units(scat, "t")
        seen["orphans"] = on_disk - referenced
        seen["rows"] = {r["k"] for r in scat.read("t").collect()}
        scat.append("t", df_next)  # the next writer, not blocked
        raise _Killed

    monkeypatch.setattr(os, "link", die_at_link)
    with pytest.raises(_Killed):
        scat.append("t", df_dead)

    assert seen["temp"] == [os.path.basename(seen["temp_path"])]
    assert len(seen["orphans"]) == 1
    # the unpublished manifest was already complete when the writer died
    assert json.loads(seen["temp_body"])["units"][-1]["path"] \
        in seen["orphans"]
    assert seen["rows"] == {"a"}  # the dead commit was never visible
    assert scat._version("t") == 2
    assert {r["k"] for r in scat.read("t").collect()} == {"a", "next"}
    on_disk, referenced = _units(scat, "t")
    assert seen["orphans"] <= on_disk - referenced

    # a killed writer runs no cleanup: put its temp manifest back the
    # way a real crash leaves it; expiry reclaims it with the unit
    with open(seen["temp_path"], "w") as f:
        f.write(seen["temp_body"])
    res = scat.expire_snapshots("t", retain_last=2)
    assert res == {"snapshots": 0, "units": 1}
    assert sorted(os.listdir(sdir)) == ["v1.json", "v2.json"]


def test_snapshot_racing_writers_exactly_one_commits(spark, scat, monkeypatch):
    """Writers A and B commit from the same parent; B commits between
    A's manifest write and A's link. Exactly one commit stands: A raises
    ConcurrentWriteError, the table reads B's rows and no manifest
    references A's unit."""
    import os

    scat.overwrite("t", spark.createDataFrame([("a", 1)], "k string, v int"))
    df_a = spark.createDataFrame([("A", 2)], "k string, v int")
    df_b = spark.createDataFrame([("B", 3)], "k string, v int")
    real_link = os.link

    def b_commits_first(src, dst):
        monkeypatch.setattr(os, "link", real_link)
        scat.append("t", df_b)
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", b_commits_first)
    with pytest.raises(ConcurrentWriteError, match="already committed"):
        scat.append("t", df_a)

    assert scat._version("t") == 2
    assert {r["k"] for r in scat.read("t").collect()} == {"a", "B"}
    on_disk, referenced = _units(scat, "t")
    (unit_a,) = on_disk - referenced
    assert [r["k"] for r in spark.read.parquet(
        os.path.join(scat._dir("t"), unit_a)).collect()] == ["A"]
    # A's temp manifest is gone; only the published manifests remain
    assert sorted(os.listdir(os.path.join(scat._dir("t"), "snapshots"))) \
        == ["v1.json", "v2.json"]


def test_snapshot_commit_stress_no_lost_update(tmp_path):
    """More writer threads than cores append-commit to one table,
    re-reading the parent and retrying on ConcurrentWriteError: every
    commit lands exactly once, so the final manifest holds every unit
    (a lost update would drop one)."""
    import sys
    import threading

    cat = SnapshotParquetCatalog(None, str(tmp_path / "wh"))
    n_writers, per_writer = 8, 10
    failures = []

    def writer(w):
        try:
            for i in range(per_writer):
                unit = {"path": f"data/{w}-{i}", "rows": 0, "stats": {}}
                while True:
                    parent = cat._version("t")
                    prev = cat._snapshot("t", parent)
                    units = (prev["units"] if prev else []) + [unit]
                    try:
                        cat._commit("t", parent, units, "append", "{}")
                        break
                    except ConcurrentWriteError:
                        continue
        except Exception as e:  # surfaced by the assert below
            failures.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(w,))
                   for w in range(n_writers)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads) and failures == []
    final = cat._snapshot("t")
    assert final["version"] == n_writers * per_writer
    assert sorted(u["path"] for u in final["units"]) == sorted(
        f"data/{w}-{i}" for w in range(n_writers) for i in range(per_writer)
    )

def test_snapshot_time_travel_and_isolation(spark, scat):
    df1 = spark.createDataFrame([("a", 1)], "k string, v int")
    df2 = spark.createDataFrame([("b", 2)], "k string, v int")
    scat.overwrite("t", df1)
    scat.append("t", df2)
    v1 = scat.read("t", version=1)
    assert {r["k"] for r in v1.collect()} == {"a"}
    assert {r["k"] for r in scat.read("t").collect()} == {"a", "b"}
    # snapshot isolation: a reader holding v2's plan is unaffected by v3
    v2 = scat.read("t")
    scat.overwrite("t", spark.createDataFrame([("z", 9)], "k string, v int"))
    assert {r["k"] for r in v2.collect()} == {"a", "b"}


def test_snapshot_metadata_only_delete(spark, scat):
    """Units wholly past retention are dropped from the manifest WITHOUT
    rewriting surviving data: the kept unit's directory must be the same
    one the original append created (no rewrite), the expired unit's
    rows disappear, and a straddling unit is rewritten."""
    import datetime as dt
    import os

    now = dt.datetime(2026, 6, 1)
    old = [("old", now - dt.timedelta(days=200 + i)) for i in range(3)]
    new = [("new", now - dt.timedelta(days=i + 1)) for i in range(3)]
    mixed = [("mix_old", now - dt.timedelta(days=150)),
             ("mix_new", now - dt.timedelta(days=2))]
    ddl = "k string, validated_at timestamp"
    scat.append("hist", spark.createDataFrame(old, ddl))
    scat.append("hist", spark.createDataFrame(new, ddl))
    scat.append("hist", spark.createDataFrame(mixed, ddl))
    units_before = {u["path"]: u for u in scat._snapshot("hist")["units"]}
    keep_unit = next(
        p for p, u in units_before.items()
        if u["stats"]["validated_at"]["min"]["v"] >
        (now - dt.timedelta(days=90)).isoformat()
    )

    removed = scat.delete_older_than(
        "hist", "validated_at", now - dt.timedelta(days=90)
    )
    assert removed == 4  # 3 old + mix_old
    rows = {r["k"] for r in scat.read("hist").collect()}
    assert rows == {"new", "mix_new"}
    units_after = [u["path"] for u in scat._snapshot("hist")["units"]]
    assert keep_unit in units_after  # untouched, not rewritten
    assert len(units_after) == 2     # kept + rewritten straddler

    # time travel still sees the pre-delete data until snapshots expire
    pre = scat.read("hist", version=3)
    assert pre.count() == 8

    # the listing is the version of record: expiring every manifest
    # would reset the table to absent, so it is refused
    with pytest.raises(ValueError, match="retain_last"):
        scat.expire_snapshots("hist", retain_last=0)

    # expire: keep only the latest snapshot; orphaned units are GC'd
    res = scat.expire_snapshots("hist", retain_last=1)
    assert res["snapshots"] == 3 and res["units"] == 2
    assert scat.read("hist", version=3) is None
    assert {r["k"] for r in scat.read("hist").collect()} == {"new", "mix_new"}
    data_dirs = os.listdir(os.path.join(scat._dir("hist"), "data"))
    assert len(data_dirs) == 2


def test_snapshot_concurrent_write_detected(spark, scat):
    df = spark.createDataFrame([("a", 1)], "k string, v int")
    scat.overwrite("t", df)
    # writer 1 reads parent=1, writer 2 commits first
    parent = scat._version("t")
    unit = scat._write_unit("t", df)
    scat.append("t", df)  # version -> 2
    with pytest.raises(ConcurrentWriteError):
        scat._commit("t", parent, [unit], "append", df.schema.json())


def test_snapshot_merge_atomic_and_idempotent(spark, scat):
    df = spark.createDataFrame([("r", "a", 1)], "run_id string, k string, v int")
    scat.append("results", df)
    upd = spark.createDataFrame(
        [("r", "a", 10), ("r", "b", 2)], "run_id string, k string, v int"
    )
    scat.merge("results", upd, keys=("run_id", "k"))
    scat.merge("results", upd, keys=("run_id", "k"))
    got = {r["k"]: r["v"] for r in scat.read("results").collect()}
    assert got == {"a": 10, "b": 2}
    # each merge = one new single-unit snapshot; history retained
    assert scat._version("results") == 3


# ---------------------------------------------------------------------------
# Real Iceberg execution — auto-activates when the runtime jars appear.
# Round-3 environment check: no iceberg-spark-runtime*.jar anywhere on
# disk and no network route to Maven Central (DNS resolution fails), so
# this remains skip-gated; the scenario is ready to run unchanged.
# ---------------------------------------------------------------------------


def _iceberg_jar():
    import glob
    import os

    import pyspark

    hits = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars",
                     "iceberg-spark-runtime*.jar")
    )
    return (hits + [os.environ.get("ICEBERG_JAR")])[0] if (
        hits or os.environ.get("ICEBERG_JAR")
    ) else None


@pytest.mark.skipif(
    _iceberg_jar() is None,
    reason="iceberg-spark-runtime jars absent (no network in sandbox)",
)
def test_iceberg_catalog_execution(tmp_path):
    """The SAME contract scenario the local backends pass, executed
    against a real Iceberg hadoop catalog (own session via subprocess —
    extensions must be set at session build)."""
    import json
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(f"""
        import datetime as dt, json
        from data_contract_engine_spark import build_session
        from data_contract_engine_spark.sources.catalog import IcebergCatalog
        spark = build_session(app_name="iceberg-exec", master="local[2]",
            shuffle_partitions=2, extra_conf={{
            "spark.jars": {_iceberg_jar()!r},
            "spark.sql.extensions":
                "org.apache.iceberg.spark.extensions"
                ".IcebergSparkSessionExtensions",
            "spark.sql.catalog.local":
                "org.apache.iceberg.spark.SparkCatalog",
            "spark.sql.catalog.local.type": "hadoop",
            "spark.sql.catalog.local.warehouse": {str(tmp_path / "wh")!r},
        }})
        spark.sql("CREATE NAMESPACE IF NOT EXISTS local.dce")
        cat = IcebergCatalog(spark, catalog="local", namespace="dce")
        spark.sql("CREATE TABLE local.dce.results "
                  "(run_id string, k string, v int) USING iceberg")
        df = spark.createDataFrame([("r1","a",1),("r1","b",2)],
                                   "run_id string, k string, v int")
        cat.append("results", df)
        upd = spark.createDataFrame([("r1","b",20),("r1","c",3)],
                                    "run_id string, k string, v int")
        cat.merge("results", upd, keys=("run_id","k"))
        cat.merge("results", upd, keys=("run_id","k"))
        got = {{r["k"]: r["v"] for r in cat.read("results").collect()}}
        spark.sql("CREATE TABLE local.dce.hist "
                  "(k string, validated_at timestamp) USING iceberg")
        now = dt.datetime(2026, 6, 1)
        rows = [("x", now - dt.timedelta(days=d)) for d in (1, 50, 200)]
        cat.append("hist", spark.createDataFrame(
            rows, "k string, validated_at timestamp"))
        cat.delete_older_than("hist", "validated_at",
                              now - dt.timedelta(days=90))
        n_hist = cat.read("hist").count()
        spark.sql(cat.expire_snapshots_sql(
            "hist", now.strftime("%Y-%m-%d %H:%M:%S"), retain_last=1))
        print("RESULT " + json.dumps({{"merge": got, "hist": n_hist}}))
        spark.stop()
    """)
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        cwd="/root/repo", timeout=600,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")]
    assert line, f"no RESULT line; stderr tail: {out.stderr[-2000:]}"
    res = json.loads(line[0][7:])
    assert res["merge"] == {"a": 1, "b": 20, "c": 3}
    assert res["hist"] == 2


def test_snapshot_review_fixes(spark, scat, tmp_path):
    """Round-3 review findings: schema-evolved reads honor the manifest
    schema; stray files in snapshots/ don't abort maintenance; tz-aware
    retention cutoffs work."""
    import datetime as dt
    import os

    scat.append("evo", spark.createDataFrame([(1, "x")], "a long, b string"))
    scat.append(
        "evo",
        spark.createDataFrame([(2, "y", 9.0)], "a long, b string, c double"),
    )
    got = scat.read("evo")
    assert "c" in got.columns          # recorded schema wins, not footers
    rows = {r["a"]: r for r in got.collect()}
    assert rows[2]["c"] == 9.0 and rows[1]["c"] is None

    # stray file in snapshots/ is ignored by expire, not a crash
    sdir = os.path.join(str(tmp_path / "snap_wh"), "evo", "snapshots")
    with open(os.path.join(sdir, "v1.json~"), "w") as f:
        f.write("backup")
    scat.expire_snapshots("evo", retain_last=1)
    assert os.path.exists(os.path.join(sdir, "v1.json~"))

    # tz-aware cutoff: same semantics as a naive UTC one
    scat.append(
        "ret",
        spark.createDataFrame(
            [(1, dt.datetime(2020, 1, 1)), (2, dt.datetime(2025, 1, 1))],
            "id long, ts timestamp",
        ),
    )
    cut = dt.datetime(2022, 1, 1, tzinfo=dt.timezone.utc)
    assert scat.delete_older_than("ret", "ts", cut) == 1
    assert {r["id"] for r in scat.read("ret").collect()} == {2}
