"""Per-layer metrics of the traced run, computed from its spans and the
Spark event log. Every per-layer metric is reported on every workload; a
layer the workload never calls reads 0.

Units: ``api.*`` are per card request; ``registry.build_s`` and
``registry.models_resolved`` per card request on ``query`` and per pipeline
pass on ``refresh`` (whose marts build models too); ``ingest.*``,
``registry.materialize*`` and ``validation.*`` per pipeline pass;
``operators.*.exec_s``, ``streaming.exec_s`` and ``curation.*`` per pass
over the workload's operations; ``spark.*`` counters per timed operation
of any kind.
"""

from __future__ import annotations

import os
from collections import defaultdict

from spans import OPERATOR_FAMILIES, duration, outermost, self_times
from workloads import CURATION_QUERIES, REFRESH_MARTS

SPARK_COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb", "gc_s", "executor_run_s",
                  "scheduler_delay_s")


def cached_storage(spark) -> dict[str, float]:
    """Bytes and RDD count in the session's block manager (persisted frames)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    size = sum(i.memSize() + i.diskSize() for i in infos)
    return {"mb": size / 1e6, "rdds": float(len(infos))}


def span_dump(spans: list[dict]) -> list[dict]:
    own = self_times(spans)
    return [{**s, "duration_s": duration(s), "self_s": own[s["id"]]} for s in spans]


def per_layer(spans, counters, workload, runner, session_s, overhead_pct, cached, peak_mb) -> dict:
    ops = [s for s in spans if s["name"] == "op"]
    n_ops = max(len(ops), 1)
    by_id = {s["id"]: s for s in spans}
    total: dict[str, float] = defaultdict(float)
    count: dict[str, int] = defaultdict(int)
    for s in spans:
        total[s["name"]] += duration(s)
        count[s["name"]] += 1
    n_cards = max(count["api.sql.build"], 1)
    n_refresh = max(count["etl.run_pipeline"], 1)

    def per_card(name: str) -> float:
        return total[name] / n_cards

    def per_refresh(name: str) -> float:
        return total[name] / n_refresh

    n_builds = n_cards if count["api.sql.build"] else n_refresh

    out = {
        "session.get_spark_s": session_s,
        "api.sql.build_s": per_card("api.sql.build"),
        "api.sql.plan_s": per_card("api.sql.plan"),
        "api.sql.exec_s": per_card("api.sql.exec"),
        "api.register_views_s": per_card("api.register_views"),
        "registry.build_s": total["registry.build"] / n_builds,
        "registry.models_resolved": sum(s.get("models_resolved", 0) for s in spans) / n_builds,
        "api.cached_mb": cached["mb"],
        "api.cached_rdds": cached["rdds"],
        "peak_rss_mb": peak_mb,
        "ingest.ingest_dir_s": per_refresh("ingest.ingest_dir"),
        "registry.materialize_s": per_refresh("registry.materialize"),
        "trace.overhead_pct": overhead_pct,
        "error_rate": runner.failed / max(runner.attempted, 1),
    }
    csv_mb = getattr(workload, "csv_mb", 0.0)
    out["ingest.csv_mb_per_s"] = csv_mb / out["ingest.ingest_dir_s"] if out["ingest.ingest_dir_s"] else 0.0

    mart_s: dict[str, float] = defaultdict(float)
    checks_s = 0.0
    for s in spans:
        parent = by_id.get(s["parent"])
        if s["name"] == "write.parquet" and parent and parent["name"] == "registry.materialize":
            mart_s[os.path.basename(s["path"].rstrip("/"))] += duration(s)
        if s["name"] == "etl.run_pipeline":
            mats = [c for c in spans if c["parent"] == s["id"] and c["name"] == "registry.materialize"]
            if mats:
                checks_s += s["end"] - mats[-1]["end"]
    for mart in REFRESH_MARTS:
        out[f"registry.materialize.{mart}_s"] = mart_s[mart] / n_refresh
    out["validation.run_checks_s"] = checks_s / n_refresh

    # operator families, per pass (the traced run times one): time inside
    # their public functions, plus the plan and exec phases of the curation
    # queries they build
    for fam in OPERATOR_FAMILIES:
        inside = sum(duration(s) for s in outermost(spans, fam))
        phases = sum(
            duration(c) for op in ops if op.get("family") == fam
            for c in spans if c["parent"] == op["id"]
            and c["name"].endswith((".plan", ".exec"))
        )
        key = "streaming.exec_s" if fam == "streaming" else f"{fam}.exec_s"
        out[key] = inside + phases
    for q in CURATION_QUERIES:
        for phase in ("build", "plan", "exec"):
            out[f"curation.{q}.{phase}_s"] = total[f"curation.{q}.{phase}"]

    groups = [c for g, c in counters.items() if g.startswith("perfbench-op")]
    for name in SPARK_COUNTERS:
        out[f"spark.{name}"] = sum(c[name] for c in groups) / n_ops
    stages = sum(c["stages"] for c in groups)
    out["spark.stages_skipped_ratio"] = sum(c["stages_skipped"] for c in groups) / stages if stages else 0.0

    covered = []
    for op in ops:
        child = sum(duration(c) for c in spans if c["parent"] == op["id"])
        covered.append(child / duration(op) if duration(op) else 0.0)
    out["trace.accounted_pct"] = 100.0 * sum(covered) / len(covered) if covered else 0.0
    return out
