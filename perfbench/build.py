"""One-time build of the benchmark's inputs and oracles, cached in the checkout.

Run by ``run.py`` in a child process when the cache is missing or stale
(``python3 perfbench/build.py <cache_dir>``), so no run's timed session
shares a JVM with it. It writes, under ``.perfbench/cache/<key>/``:

- ``corpus_sf<sf>/``: the generated base parquet (``datagen.py``);
- ``csv/`` + ``vacancies.csv``: the UFC raw layer the engine derives from
  the sf0.01 corpus (``synth.ufc_raw_tables``), exported once as the six
  source CSVs plus the vacancy CSV that ``etl.run_pipeline`` ingests;
- ``oracles/*.pkl``: DuckDB answers, computed once and never timed —
  every card model over the corpus (raw: each run orders and limits it
  with its own ``k``), every refreshed mart over the CSVs (DuckDB's CSV
  reader, like Spark's, reads an empty field as NULL), and every curation
  query over its corpus (both already normalized for comparison);
- ``manifest.json``: input sizes (rows, MB on disk) and build seconds.

The key hashes the benchmark's and the engine's sources, so any change to
either rebuilds.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "ufc_data_warehouse_spark"

DASH_SF = 0.001  # dashboard cards
REFRESH_SF = 0.001  # the refresh CSVs are the raw layer derived at this scale
CURATION_SF = 0.01  # curation queries
BUILD_INPUTS = ("datagen.py", "build.py", "workloads.py")

VACANCY_TABLE = "title_status_changes_outside_octagon"


def cache_key() -> str:
    h = hashlib.sha1()
    files = [os.path.join(HERE, f) for f in BUILD_INPUTS]
    files += sorted(glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True))
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_built(work_dir: str) -> dict:
    """Return the manifest of the current cache, building it if needed
    (one builder at a time: concurrent runs wait on a lock file)."""
    import fcntl

    cache = os.path.join(work_dir, "cache", cache_key())
    manifest = os.path.join(cache, "manifest.json")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(os.path.join(work_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(manifest):
            for stale in glob.glob(os.path.join(work_dir, "cache", "*")):
                shutil.rmtree(stale, ignore_errors=True)
            subprocess.run([sys.executable, os.path.abspath(__file__), cache], check=True)
    with open(manifest) as fh:
        return {**json.load(fh), "dir": cache}


def _mb(path: str) -> float:
    if os.path.isfile(path):
        return os.path.getsize(path) / 1e6
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 1e6


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        return int(fh.readline().split()[1]) / 1024.0


def _duck_views(con, sf_dir: str) -> None:
    from datagen import TABLES

    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")


def _export_csvs(spark, sf_dir: str, csv_dir: str, vacancy_csv: str) -> dict[str, int]:
    from ufc_data_warehouse_spark.synth import ufc_raw_tables

    os.makedirs(csv_dir)
    rows = {}
    for name, df in ufc_raw_tables(spark, sf_dir).items():
        pdf = df.toPandas()
        # ingest routes the stem back to the fact_/dim_ table name
        stem = name.split("_", 1)[1]
        path = vacancy_csv if name == VACANCY_TABLE else os.path.join(csv_dir, f"{stem}.csv")
        pdf.to_csv(path, index=False, quoting=csv.QUOTE_MINIMAL)
        rows[name] = len(pdf)
    return rows


def mart_oracle_sql(name: str) -> str:
    """``oracle_for(name)`` over loaded raw tables instead of the synth CTEs."""
    from ufc_data_warehouse_spark.oracle import oracle_for
    from ufc_data_warehouse_spark.synth import synth_ctes

    sql = oracle_for(name)
    synth = synth_ctes().strip() + ",\n"
    assert synth in sql, name
    return sql.replace(synth, "", 1)


def _build(cache: str) -> None:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    import duckdb

    import host
    import workloads
    from datagen import write_corpus
    from tests.conftest import normalize_frame
    from ufc_data_warehouse_spark.extra_queries import EXTRA_ORACLES
    from ufc_data_warehouse_spark.oracle import oracle_for
    from ufc_data_warehouse_spark.session import get_spark
    from ufc_data_warehouse_spark.sources.ingest import table_name

    t0 = time.perf_counter()
    tmp = cache + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "oracles"))
    sizes: dict[str, dict] = {}
    for sf in sorted({DASH_SF, REFRESH_SF, CURATION_SF}):
        d = os.path.join(tmp, f"corpus_sf{sf}")
        rows = write_corpus(sf, d)
        sizes[f"corpus_sf{sf}"] = {"rows": rows, "mb": round(_mb(d), 3)}

    spark = get_spark(app_name="perfbench-build")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        csv_dir, vac = os.path.join(tmp, "csv"), os.path.join(tmp, "vacancies.csv")
        rows = _export_csvs(spark, os.path.join(tmp, f"corpus_sf{REFRESH_SF}"), csv_dir, vac)
        sizes["refresh_csv"] = {"rows": rows, "mb": round(_mb(csv_dir) + _mb(vac), 3)}
    finally:
        host.stop(spark)

    def save(name: str, frame, normalized: bool = True) -> None:
        if normalized:
            frame = normalize_frame(frame)
        frame.to_pickle(os.path.join(tmp, "oracles", f"{name}.pkl"))

    con = duckdb.connect()
    _duck_views(con, os.path.join(tmp, f"corpus_sf{DASH_SF}"))
    for model in sorted({spec["model"] for spec in workloads.card_specs().values()}):
        save(f"model__{model}", con.execute(oracle_for(model)).df(), normalized=False)
    con.close()

    con = duckdb.connect()
    for path in glob.glob(os.path.join(csv_dir, "*.csv")) + [vac]:
        name = VACANCY_TABLE if path == vac else table_name(path)
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_csv('{path}', header=true, all_varchar=true)"
        )
    for mart in workloads.oracle_marts():
        save(f"mart__{mart}", con.execute(mart_oracle_sql(mart)).df())
    con.close()

    con = duckdb.connect()
    _duck_views(con, os.path.join(tmp, f"corpus_sf{CURATION_SF}"))
    for q in workloads.CURATION_QUERIES:
        save(f"query__{q}", con.execute(EXTRA_ORACLES[q]).df())
    con.close()

    manifest = {
        "dash_sf": DASH_SF,
        "refresh_sf": REFRESH_SF,
        "curation_sf": CURATION_SF,
        "sizes": sizes,
        # the largest working set is a few times its input; RAM is GBs
        "fits_in_memory": 10 * sum(s["mb"] for s in sizes.values()) < _mem_total_mb(),
        "build_s": round(time.perf_counter() - t0, 3),
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    shutil.rmtree(cache, ignore_errors=True)
    os.rename(tmp, cache)


def paths(manifest_dir: str) -> dict[str, str]:
    return {
        "dash_corpus": os.path.join(manifest_dir, f"corpus_sf{DASH_SF}"),
        "curation_corpus": os.path.join(manifest_dir, f"corpus_sf{CURATION_SF}"),
        "csv": os.path.join(manifest_dir, "csv"),
        "vacancy_csv": os.path.join(manifest_dir, "vacancies.csv"),
        "oracles": os.path.join(manifest_dir, "oracles"),
    }


if __name__ == "__main__":
    _build(os.path.abspath(sys.argv[1]))
