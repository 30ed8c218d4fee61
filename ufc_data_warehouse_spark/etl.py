"""End-to-end pipeline runner — the ``startup.sh`` analog (SURVEY §3).

The reference's flow: download CSVs → dlt load → ``dbt run`` (views) →
Metabase cards (/root/reference/startup.sh:14-53). Spark-native flow:

    ingest CSVs → raw parquet → resolve model DAG → write analytics marts
    as partitioned parquet → serve via ``api.sql`` / DataFrames.

Marts are partitioned by their natural keys (the 100 TB layout knob):
readers filtering on weight_category prune partitions at the source.

Usage::

    from ufc_data_warehouse_spark.etl import run_pipeline
    result = run_pipeline(spark, csv_dir, warehouse_dir)
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from . import models  # noqa: F401 — populates the registry
from .registry import REGISTRY
from .session import apply_runtime_confs, run_concurrently
from .sources.ingest import ingest_dir, load_raw
from .validation import run_checks

# analytics marts worth materializing, with their partition keys
MART_PARTITIONS: dict[str, list[str]] = {
    "fct_fights": ["weight_category"],
    "title_reigns": ["weight_category"],
    "fct_title_reigns": ["weight_category"],
    "title_defenses": ["weight_category"],
    "fighters_by_wins": [],
    "fighters_best_record": [],
}


@dataclass
class PipelineResult:
    raw_tables: dict[str, str] = field(default_factory=dict)
    marts: dict[str, str] = field(default_factory=dict)
    checks: dict[str, dict[str, int]] = field(default_factory=dict)
    metrics: dict[str, dict] = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    csv_dir: str,
    warehouse_dir: str,
    vacancy_csv: str | None = None,
    marts: list[str] | None = None,
    checks: dict[str, dict] | None = None,
) -> PipelineResult:
    """CSV → raw parquet → model DAG → partitioned parquet marts.

    ``checks`` maps mart name → keyword rules for ``validation.run_checks``
    (the dbt `dbt test`-after-`dbt run` step); violation counts land in
    ``result.checks[mart]`` keyed by check name.

    Each phase (ingest, marts, checks) runs its independent Spark jobs
    concurrently on worker threads (``session.run_concurrently``), so one
    job's driver-side planning overlaps another's execution. The workers
    inherit the caller's job group and description: set them before the
    call and ``cancelJobGroup`` stops the whole refresh."""
    apply_runtime_confs(spark)
    result = PipelineResult()
    result.raw_tables = ingest_dir(spark, csv_dir, warehouse_dir, vacancy_csv)
    raw = load_raw(spark, warehouse_dir)
    targets = [m for m in (marts or list(MART_PARTITIONS)) if m in REGISTRY.models]
    buildable = [
        t
        for t in targets
        if all(
            dep in raw or dep in REGISTRY.models
            for dep in REGISTRY.models[t].deps
        )
        # title_reigns needs the scraper table; skip its family when absent
        and not (
            "title_status_changes_outside_octagon"
            not in raw
            and "title_status_changes_outside_octagon"
            in _transitive_sources(t)
        )
    ]
    result.marts = REGISTRY.materialize(
        raw,
        warehouse_dir,
        targets=buildable,
        partition_by={k: v for k, v in MART_PARTITIONS.items() if v},
        metrics=result.metrics,
    )

    def check(name: str, rule_kw: dict) -> dict[str, int]:
        mart_df = spark.read.parquet(result.marts[name])
        return {
            r["check_name"]: r["n_violations"]
            for r in run_checks(mart_df, **rule_kw).collect()
        }

    checked = [(n, kw) for n, kw in (checks or {}).items() if n in result.marts]
    counts = run_concurrently(spark, [functools.partial(check, *c) for c in checked])
    result.checks = {name: n for (name, _), n in zip(checked, counts)}
    return result


def incremental_overwrite(
    spark: SparkSession,
    df,
    path: str,
    partition_cols: list[str],
) -> None:
    """Incremental load: rewrite ONLY the partitions present in ``df``.

    The reference reloads every table wholesale on each run
    (dlt ``write_disposition="replace"``, /root/reference/dlt/load.py:35) —
    fine at MBs, impossible at 100 TB. Dynamic partition overwrite is the
    scale path: a daily/divisional increment touches just its own
    partition directories, readers see other partitions untouched, and
    the job's write cost is proportional to the increment, not the table.
    """
    apply_runtime_confs(spark)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def versioned_publish(df, table_dir: str) -> int:
    """Atomic publish with retained history on plain parquet: write the
    new snapshot to ``table_dir/v=<n+1>/``, then flip a one-line
    ``_LATEST`` pointer file. Readers resolve the pointer and scan one
    version directory — they NEVER observe a half-written snapshot
    (the pointer flips only after the parquet job commits), and old
    versions stay intact for audits/rollback (time-travel-lite without a
    table format; prune old versions with retention policy out-of-band).

    The pointer write is a single small file — effectively atomic on any
    filesystem with atomic rename/create semantics. Returns the published
    version number. Single-writer assumption: concurrent publishers race
    on max(version)+1 (the loser fails on ``errorifexists`` rather than
    corrupting — serialize publishes per table in the orchestrator).
    """
    import os

    os.makedirs(table_dir, exist_ok=True)
    existing = [
        int(d.split("=", 1)[1])
        for d in os.listdir(table_dir)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    ]
    version = max(existing, default=0) + 1
    df.write.mode("errorifexists").parquet(f"{table_dir}/v={version}")
    tmp = f"{table_dir}/_LATEST.tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, f"{table_dir}/_LATEST")
    return version


def prune_versions(table_dir: str, keep: int = 3) -> list[int]:
    """Retention (VACUUM-lite) for :func:`versioned_publish` history: drop
    all but the newest ``keep`` snapshot directories, NEVER the one
    ``_LATEST`` points at (even if it is older than the cutoff — a reader
    pinned to the pointer must always resolve). Returns the pruned
    version numbers.

    Deletion order is safety-first: the pointer is read BEFORE listing,
    and candidate directories are removed oldest-first, so a crash mid-
    prune leaves a longer history, never a dangling pointer. Run it from
    the orchestrator after a publish — same single-writer assumption as
    the publish itself.
    """
    import os
    import shutil

    try:
        with open(f"{table_dir}/_LATEST") as f:
            latest = int(f.read().strip())
    except FileNotFoundError:
        latest = None
    versions = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(table_dir)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    )
    keep_set = set(versions[-keep:]) if keep > 0 else set()
    if latest is not None:
        keep_set.add(latest)
    pruned = []
    for v in versions:
        if v not in keep_set:
            shutil.rmtree(f"{table_dir}/v={v}")
            pruned.append(v)
    return pruned


def read_published(spark: SparkSession, table_dir: str, version: int | None = None):
    """Read a published snapshot: the ``_LATEST`` pointer by default, or a
    pinned historical ``version`` (reproducibility: a training run records
    the version it consumed and can re-read exactly that data later)."""
    if version is None:
        with open(f"{table_dir}/_LATEST") as f:
            version = int(f.read().strip())
    return spark.read.parquet(f"{table_dir}/v={version}")


def write_audit_publish(
    spark: SparkSession,
    df,
    table_dir: str,
    not_null: list[str] | None = None,
    accepted: dict[str, list[str]] | None = None,
    unique: list[list[str]] | None = None,
) -> tuple[int | None, dict[str, int]]:
    """Write-Audit-Publish: stage the snapshot as the next version
    directory, AUDIT the staged files (validation.run_checks re-reads
    what was actually written — not the in-memory frame, so serialization
    bugs are caught too), and flip the ``_LATEST`` pointer only when every
    check passes. On violation the pointer stays on the last good
    version; readers never see bad data, and the staged directory remains
    on disk for debugging.

    Returns (published_version | None, {check_name: n_violations}).
    The pattern costs one extra read of the increment — nothing re-reads
    the historical table — so it scales with the snapshot, not the
    warehouse."""
    import os

    from . import validation

    os.makedirs(table_dir, exist_ok=True)
    existing = [
        int(d.split("=", 1)[1])
        for d in os.listdir(table_dir)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    ]
    version = max(existing, default=0) + 1
    staged = f"{table_dir}/v={version}"
    df.write.mode("errorifexists").parquet(staged)
    audited = spark.read.parquet(staged)
    results = {
        r["check_name"]: r["n_violations"]
        for r in validation.run_checks(
            audited, not_null=not_null, accepted=accepted, unique=unique
        ).collect()
    }
    if any(v > 0 for v in results.values()):
        return None, results
    tmp = f"{table_dir}/_LATEST.tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, f"{table_dir}/_LATEST")
    return version, results


def snapshot_diff(old, new, keys: list[str], compare_cols: list[str]):
    """Data-diff between two snapshots of the same table (e.g. two
    ``versioned_publish`` versions): one row per changed key with
    ``change_type`` ∈ {'added','removed','changed'} — the change-data-feed
    a plain-parquet warehouse can compute after the fact. Unchanged keys
    are filtered out BEFORE the result materializes.

    Shape: one full-outer hash join on the keys; the change classifier is
    a null-pattern/equality projection. Null-safe equality (``eqNullSafe``)
    so NULL→NULL does not register as a change. At scale, diff
    partition-by-partition (both snapshots share layout) to bound the
    join."""
    from pyspark.sql import functions as F

    if not compare_cols:
        raise ValueError("snapshot_diff needs at least one compare column")
    # presence is tracked via a sentinel column, not value nullability:
    # a present row whose compare columns are all NULL must not read as absent
    o2 = old.select(*keys, F.lit(1).alias("_old_present"), *[
        F.col(c).alias(f"_old_{c}") for c in compare_cols
    ])
    n2 = new.select(*keys, F.lit(1).alias("_new_present"), *[
        F.col(c).alias(f"_new_{c}") for c in compare_cols
    ])
    j = o2.join(n2, keys, "full_outer")
    same = None
    for c in compare_cols:
        eq = F.col(f"_old_{c}").eqNullSafe(F.col(f"_new_{c}"))
        same = eq if same is None else (same & eq)
    change = (
        F.when(F.col("_old_present").isNull(), "added")
        .when(F.col("_new_present").isNull(), "removed")
        .when(~same, "changed")
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*keys, "change_type")
    )


def upsert(base, updates, keys: list[str], version_col: str | None = None):
    """MERGE-style upsert as a batch transform: rows in ``updates`` replace
    same-key rows in ``base``; unmatched rows pass through.

    One union + one window (single shuffle on the key). With
    ``version_col`` the highest version wins within each side too
    (late-arriving duplicates). This is the compute half of an
    incremental pipeline — compose with :func:`incremental_overwrite` to
    write only the affected partitions.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    b = base.withColumn("_src", F.lit(0))
    u = updates.withColumn("_src", F.lit(1))
    order = [F.desc("_src")] + (
        [F.desc_nulls_last(version_col)] if version_col else []
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        b.unionByName(u)
        .withColumn("_pick", F.row_number().over(w))
        .filter(F.col("_pick") == 1)
        .drop("_src", "_pick")
    )


def incremental_agg_apply(
    base_agg,
    delta,
    keys: list[str],
    op_col: str,
    count_col: str,
    sum_cols: dict[str, str],
):
    """Incremental view maintenance for a count/sum aggregate mart: apply
    an insert/delete delta to the MATERIALIZED aggregate instead of
    recomputing from the fact table.

    ``base_agg`` holds (keys, count_col, *sum_cols-aggregates);
    ``delta`` holds raw rows with ``op_col`` ∈ {'I','D'} and the measure
    columns named by ``sum_cols`` values. Counts and sums are
    sign-weighted (+1 insert, −1 delete) — both are self-maintainable
    aggregates, so the update never touches the fact table. Keys whose
    maintained count reaches 0 are dropped (the group no longer exists).

    Cost ∝ |delta|, not |fact|: one small shuffle to aggregate the delta,
    then a key-hash merge join against the mart — keep the mart bucketed
    on ``keys`` (operators/scale.py::write_bucketed) and the merge is
    exchange-free on the big side. min/max are NOT self-maintainable
    under deletes (a deleted max needs a rescan); restrict marts
    maintained this way to count/sum/avg-of-sums.
    """
    from pyspark.sql import functions as F

    sign = F.when(F.col(op_col) == "I", F.lit(1)).otherwise(F.lit(-1))
    d = delta.groupBy(*keys).agg(
        F.sum(sign).alias("_dn"),
        *[
            F.sum(sign * F.col(src)).alias(f"_d_{dst}")
            for dst, src in sum_cols.items()
        ],
    )
    merged = base_agg.join(d, keys, "full_outer").select(
        *keys,
        (
            F.coalesce(F.col(count_col), F.lit(0))
            + F.coalesce(F.col("_dn"), F.lit(0))
        ).alias(count_col),
        *[
            (
                F.coalesce(F.col(dst), F.lit(0))
                + F.coalesce(F.col(f"_d_{dst}"), F.lit(0))
            ).alias(dst)
            for dst in sum_cols
        ],
    )
    return merged.filter(F.col(count_col) > 0)


def _transitive_sources(target: str) -> set[str]:
    out: set[str] = set()
    stack = [target]
    while stack:
        name = stack.pop()
        if name in REGISTRY.models:
            stack.extend(REGISTRY.models[name].deps)
        else:
            out.add(name)
    return out
