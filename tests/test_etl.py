"""End-to-end pipeline: CSV → raw parquet → partitioned marts, with
partition pruning observable in the read plan."""

from __future__ import annotations

import csv
import os

from ufc_data_warehouse_spark.etl import run_pipeline


def _write_csv(path, header, rows):
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


def test_pipeline_end_to_end_with_partition_pruning(spark, tmp_path):
    csv_dir = tmp_path / "csvs"
    wh = tmp_path / "wh"
    os.makedirs(csv_dir)
    _write_csv(
        csv_dir / "ufc_event_details.csv",
        ["EVENT", "URL", "DATE", "LOCATION"],
        [[f"UFC {i}", f"http://e/{i}", f"Jan {i + 1}, 200{i % 10}", "X, Y, Z"]
         for i in range(8)],
    )
    _write_csv(
        csv_dir / "ufc_fight_results.csv",
        ["EVENT", "BOUT", "OUTCOME", "WEIGHTCLASS", "METHOD", "ROUND",
         "TIME", "TIME FORMAT", "REFEREE", "DETAILS", "URL"],
        [
            [f"UFC {i}", "A One vs. B Two", "W/L",
             ("UFC Lightweight Title Bout" if i % 2 else "UFC Heavyweight Title Bout"),
             "KO/TKO", "1", "1:26", "5 Rnd (5-5-5-5-5)", "R", "", f"http://f/{i}"]
            for i in range(8)
        ],
    )
    result = run_pipeline(spark, str(csv_dir), str(wh))
    assert "fct_fights" in result.marts
    # no scraper CSV supplied → the reigns family is skipped, not failed
    assert "title_reigns" not in result.marts
    assert "fighters_by_wins" in result.marts

    # observe()-based metrics rode the write jobs (no re-scan):
    assert result.metrics["fct_fights"]["n_rows"] == 8
    assert set(result.metrics) == set(result.marts)

    mart = spark.read.parquet(result.marts["fct_fights"])
    pruned = mart.filter(mart["weight_category"] == "Lightweight")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(weight_category" in plan
    assert pruned.count() == 4


def _reigns_inputs(tmp_path):
    """Two title bouts plus one vacancy: enough for every default mart."""
    csv_dir = tmp_path / "csvs"
    os.makedirs(csv_dir)
    _write_csv(
        csv_dir / "ufc_event_details.csv",
        ["EVENT", "URL", "DATE", "LOCATION"],
        [["UFC 1", "http://e/1", "Nov 12, 1993", "X"],
         ["UFC 2", "http://e/2", "Mar 11, 1994", "X"]],
    )
    _write_csv(
        csv_dir / "ufc_fight_results.csv",
        ["EVENT", "BOUT", "OUTCOME", "WEIGHTCLASS", "METHOD", "ROUND",
         "TIME", "TIME FORMAT", "REFEREE", "DETAILS", "URL"],
        [["UFC 1", "A One vs. B Two", "W/L", "UFC Heavyweight Title Bout",
          "KO/TKO", "1", "1:26", "5R", "R", "", "http://f/1"],
         ["UFC 2", "A One vs. C Three", "L/W", "UFC Heavyweight Title Bout",
          "Submission", "2", "3:00", "5R", "R", "", "http://f/2"]],
    )
    vac = tmp_path / "title_vacancies.csv"
    _write_csv(
        vac,
        ["DATE", "FIGHTER", "WEIGHT_CATEGORY", "REASON", "STATEMENT"],
        [["Dec 1, 1993", "A One", "UFC Heavyweight Championship",
          "retirement", "s"]],
    )
    return str(csv_dir), str(vac)


def test_pipeline_with_vacancy_builds_reigns(spark, tmp_path):
    csv_dir, vac = _reigns_inputs(tmp_path)
    result = run_pipeline(spark, csv_dir, str(tmp_path / "wh"), vacancy_csv=vac)
    assert "title_reigns" in result.marts
    reigns = spark.read.parquet(result.marts["title_reigns"])
    rows = {(r["fighter"], r["end_reason"]) for r in reigns.collect()}
    # A One wins at UFC 1, the Dec 1 1993 retirement ends the reign before
    # C Three's UFC 2 win starts the next
    assert ("A One", "retirement") in rows


_REIGN_CHECKS = {
    "fct_fights": {"not_null": ["fight_id"], "unique": [["fight_id"]]},
    "title_reigns": {"not_null": ["fighter"]},
    "fighters_by_wins": {"unique": [["fighter"]]},
}


def test_pipeline_keeps_sequential_order_and_contents(spark, tmp_path):
    """The concurrent phases return what a one-at-a-time run would: raw
    tables in glob order, marts and metrics in topological order, and
    every mart holding exactly its model's rows."""
    from ufc_data_warehouse_spark.etl import MART_PARTITIONS
    from ufc_data_warehouse_spark.registry import REGISTRY
    from ufc_data_warehouse_spark.sources.ingest import load_raw

    csv_dir, vac = _reigns_inputs(tmp_path)
    wh = str(tmp_path / "wh")
    result = run_pipeline(spark, csv_dir, wh, vacancy_csv=vac, checks=_REIGN_CHECKS)

    assert list(result.raw_tables) == [
        "dim_ufc_event_details",
        "fact_ufc_fight_results",
        "title_status_changes_outside_octagon",
    ]
    order = REGISTRY.topo_order(list(MART_PARTITIONS))
    assert list(result.marts) == order
    assert list(result.metrics) == order
    assert list(result.checks) == list(_REIGN_CHECKS)

    expected = REGISTRY.build(load_raw(spark, wh), order)
    for name in order:
        want = expected[name]
        # an empty partitioned mart has no file to infer a schema from
        got = spark.read.schema(want.schema).parquet(result.marts[name])
        got = got.select(*want.columns)
        assert sorted(map(tuple, got.collect()), key=repr) == sorted(
            map(tuple, want.collect()), key=repr
        ), name
        assert result.metrics[name]["n_rows"] == want.count(), name
    assert all(n == 0 for c in result.checks.values() for n in c.values())


def test_pipeline_jobs_inherit_the_callers_job_group(spark, tmp_path):
    """Every job of the refresh, run on worker threads, lands in the
    caller's job group: none runs ungrouped, so cancelJobGroup covers the
    whole pipeline."""
    csv_dir, vac = _reigns_inputs(tmp_path)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("refresh-test", "pipeline under one job group")
    try:
        result = run_pipeline(
            spark, csv_dir, str(tmp_path / "wh"), vacancy_csv=vac,
            checks=_REIGN_CHECKS,
        )
    finally:
        sc._jsc.clearJobGroup()
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    grouped = tracker.getJobIdsForGroup("refresh-test")
    # at least one job per raw table, mart write and check
    assert len(grouped) >= (
        len(result.raw_tables) + len(result.marts) + len(result.checks)
    )


def test_repeated_pipelines_do_not_grow_the_thread_count(spark, tmp_path):
    import threading

    csv_dir, vac = _reigns_inputs(tmp_path)
    baseline = threading.active_count()
    counts = []
    for i in range(3):
        run_pipeline(spark, csv_dir, str(tmp_path / f"wh{i}"), vacancy_csv=vac)
        counts.append(threading.active_count())
    assert counts == [baseline] * 3


def test_incremental_overwrite_touches_only_changed_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark.etl import incremental_overwrite

    path = str(tmp_path / "inc")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)],
        "id int, part string, v int",
    )
    base.write.partitionBy("part").parquet(path)
    before = {
        p: sorted(os.listdir(f"{path}/part={p}")) for p in ("a", "b", "c")
    }

    # increment carries only partition 'a' (with a changed + a new row)
    inc = spark.createDataFrame(
        [(1, "a", 11), (5, "a", 50)], "id int, part string, v int"
    )
    incremental_overwrite(spark, inc, path, ["part"])

    out = spark.read.parquet(path)
    got = {(r["id"], r["part"], r["v"]) for r in out.collect()}
    # 'a' fully replaced by the increment; 'b' and 'c' untouched
    assert got == {(1, "a", 11), (5, "a", 50), (3, "b", 30), (4, "c", 40)}
    assert sorted(os.listdir(f"{path}/part=b")) == before["b"]
    assert sorted(os.listdir(f"{path}/part=c")) == before["c"]
    assert sorted(os.listdir(f"{path}/part=a")) != before["a"]
    # overwrite mode restored (session default must not leak)
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode") != "dynamic"
    )


def test_upsert_replaces_matching_keys(spark):
    from ufc_data_warehouse_spark.etl import upsert

    base = spark.createDataFrame(
        [(1, "old", 1), (2, "keep", 1)], "k int, v string, ver int"
    )
    updates = spark.createDataFrame(
        [(1, "new", 2), (3, "ins", 1), (1, "newer", 3)],
        "k int, v string, ver int",
    )
    out = upsert(base, updates, ["k"], version_col="ver")
    got = {(r["k"], r["v"]) for r in out.collect()}
    # key 1 replaced by the HIGHEST-version update row, 2 passes through,
    # 3 inserted
    assert got == {(1, "newer"), (2, "keep"), (3, "ins")}
    assert set(out.columns) == {"k", "v", "ver"}


def test_pipeline_runs_declared_checks(spark, tmp_path):
    csv_dir = tmp_path / "csvs"
    wh = tmp_path / "wh"
    os.makedirs(csv_dir)
    _write_csv(
        csv_dir / "ufc_event_details.csv",
        ["EVENT", "URL", "DATE", "LOCATION"],
        [[f"UFC {i}", f"http://e/{i}", f"Jan {i + 1}, 2005", "X"] for i in range(4)],
    )
    _write_csv(
        csv_dir / "ufc_fight_results.csv",
        ["EVENT", "BOUT", "OUTCOME", "WEIGHTCLASS", "METHOD", "ROUND",
         "TIME", "TIME FORMAT", "REFEREE", "DETAILS", "URL"],
        [[f"UFC {i}", "A One vs. B Two", "W/L", "UFC Heavyweight Title Bout",
          "KO/TKO", "1", "1:26", "5R", "R", "", f"http://f/{i}"] for i in range(4)],
    )
    result = run_pipeline(
        spark,
        str(csv_dir),
        str(wh),
        marts=["fct_fights"],
        checks={
            "fct_fights": {
                "not_null": ["fight_id", "event_name"],
                "unique": [["fight_id"]],
            }
        },
    )
    got = result.checks["fct_fights"]
    assert got == {
        "not_null:fight_id": 0,
        "not_null:event_name": 0,
        "unique:fight_id": 0,
    }


def test_versioned_publish_atomic_history(spark, tmp_path):
    """Publishing keeps history: v1 stays byte-readable after v2 lands,
    the _LATEST pointer resolves to the newest snapshot, and pinned reads
    reproduce the exact historical data."""
    from ufc_data_warehouse_spark import etl

    table = str(tmp_path / "mart")
    v1 = etl.versioned_publish(
        spark.createDataFrame([(1, "a")], "id long, s string"), table
    )
    v2 = etl.versioned_publish(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"), table
    )
    assert (v1, v2) == (1, 2)
    assert etl.read_published(spark, table).count() == 2
    assert etl.read_published(spark, table, version=1).count() == 1
    # pointer survives a failed publish attempt (directory already there)
    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.createDataFrame([(9, "x")], "id long, s string").write.mode(
            "errorifexists"
        ).parquet(f"{table}/v=2")
    assert etl.read_published(spark, table).count() == 2


def test_write_audit_publish_gates_bad_data(spark, tmp_path):
    """WAP: a snapshot failing its audit is staged but NEVER published —
    readers stay on the last good version; a clean snapshot publishes."""
    from ufc_data_warehouse_spark import etl

    table = str(tmp_path / "wap_mart")
    good = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    v, checks = etl.write_audit_publish(
        spark, good, table, not_null=["id", "s"], unique=[["id"]]
    )
    assert v == 1 and all(n == 0 for n in checks.values())
    assert etl.read_published(spark, table).count() == 2

    bad = spark.createDataFrame(
        [(3, "c"), (3, "d"), (4, None)], "id long, s string"
    )
    v2, checks2 = etl.write_audit_publish(
        spark, bad, table, not_null=["id", "s"], unique=[["id"]]
    )
    assert v2 is None
    assert any(n > 0 for n in checks2.values()), checks2
    # pointer still on v1; staged bad version exists for debugging
    assert etl.read_published(spark, table).count() == 2
    import os

    assert os.path.isdir(f"{table}/v=2")

    fixed = spark.createDataFrame([(3, "c"), (4, "d")], "id long, s string")
    v3, _ = etl.write_audit_publish(
        spark, fixed, table, not_null=["id", "s"], unique=[["id"]]
    )
    assert v3 == 3
    assert etl.read_published(spark, table).count() == 2
    assert {r["id"] for r in etl.read_published(spark, table).collect()} == {3, 4}


def test_prune_versions_keeps_latest_and_n(spark, tmp_path):
    """Retention drops old snapshots but never the pointer target: after
    5 publishes with keep=2, v4/v5 survive, v1-v3 are gone, and a pinned
    pointer older than the cutoff is always retained."""
    import os

    from ufc_data_warehouse_spark import etl

    d = str(tmp_path / "tbl")
    for i in range(5):
        df = spark.range(i + 1).selectExpr("id", f"{i + 1} as ver")
        etl.versioned_publish(df, d)
    pruned = etl.prune_versions(d, keep=2)
    assert pruned == [1, 2, 3]
    assert sorted(x for x in os.listdir(d) if x.startswith("v=")) == [
        "v=4",
        "v=5",
    ]
    assert etl.read_published(spark, d).count() == 5

    # pin the pointer to an old version, then prune — the target survives
    with open(f"{d}/_LATEST", "w") as f:
        f.write("4")
    etl.versioned_publish(spark.range(9), d)  # v=5 exists → writes v=6
    with open(f"{d}/_LATEST", "w") as f:
        f.write("4")
    pruned2 = etl.prune_versions(d, keep=1)
    left = sorted(x for x in os.listdir(d) if x.startswith("v="))
    assert "v=4" in left and "v=6" in left and "v=5" not in left
    assert 5 in pruned2
    assert etl.read_published(spark, d).count() == 4
