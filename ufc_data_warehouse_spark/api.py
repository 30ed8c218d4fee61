"""High-level engine API: build any model over a testdata scale-factor dir.

This is the reference's ``dbt run`` + Metabase-card surface in one place
(SURVEY §3): resolve the model DAG lazily, hand back DataFrames.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from . import models  # noqa: F401 — populates the registry
from .registry import REGISTRY
from .session import apply_runtime_confs
from .synth import ufc_raw_tables

# Hot-frame cache per (session, sf_dir): every model consumes the two
# staging views, and title_reigns feeds three dependents (fct_title_reigns,
# total_champ_days, the reign card) — persisting these once turns the
# N-query workload (the correctness driver runs ~30 model queries
# back-to-back) from N full derivations into one. Default persist level is
# MEMORY_AND_DISK so the worst case spills instead of OOMing.
_PERSISTED = (
    "stg_fight_results",
    "stg_event_details",
    "stg_title_fights_norm",
    "title_reigns",
)
_frame_cache: dict[tuple[int, str], dict[str, DataFrame]] = {}
# r8 (guide §4/§5 — the driver boundary): deriving the raw layer is
# ~1.2 s of pure driver-side plan CONSTRUCTION (py4j chatter), and it was
# re-run on every build_model call. The frames are lazy — memoizing them
# per (session, sf_dir) caches plan objects, not data, so repeated
# builds (the driver runs ~50 queries back-to-back) skip the rebuild
# while every execution still computes from parquet.
_raw_cache: dict[tuple[int, str], dict[str, DataFrame]] = {}


def _sources(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    # applicationId is unique per SparkContext and survives GC churn
    # (an id()-based key could collide after a session is collected)
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _frame_cache.get(key)
    raw = _raw_cache.get(key)
    if raw is None:
        raw = _raw_cache[key] = ufc_raw_tables(spark, sf_dir)
    if cached is None:
        built = REGISTRY.build(raw, targets=list(_PERSISTED))
        cached = {name: built[name].persist() for name in _PERSISTED}
        _frame_cache[key] = cached
    return {**raw, **cached}


def release_caches(spark: SparkSession) -> None:
    """Release every frame this engine persisted in ``spark`` — the
    ``_PERSISTED`` staging cache for all sf_dirs plus query-internal
    persists that outlive their builder (title_reigns' status_changes;
    text_token_rarity's vocab): cached plans live in the session
    CacheManager until session end otherwise (r6 ADVICE 3) — and drop the
    memoized raw-layer plans and the BI view registration of every session
    on this SparkContext. Call it after the data under an sf_dir changes:
    the next build, ``register_views`` or ``sql`` re-derives everything."""
    key_prefix = spark.sparkContext.applicationId
    for key in [k for k in _frame_cache if k[0] == key_prefix]:
        for df in _frame_cache.pop(key).values():
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — session already stopped
                pass
    for cache in (_raw_cache, _views):  # plan objects only — nothing to unpersist
        for key in [k for k in cache if k[0] == key_prefix]:
            cache.pop(key)
    try:
        spark.catalog.clearCache()  # untracked query-internal persists
    except Exception:  # noqa: BLE001
        pass


def build_model(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Resolve model ``name`` over the UFC raw layer derived from ``sf_dir``."""
    apply_runtime_confs(spark)
    return REGISTRY.build(_sources(spark, sf_dir), targets=[name])[name]


def build_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    apply_runtime_confs(spark)
    return REGISTRY.build(_sources(spark, sf_dir))


# ---------------------------------------------------------------------------
# SQL serving surface — the Metabase entry point (SURVEY §3 entry 3).
# dbt composes the target schema with each model's custom schema
# (ufc/profiles.yml:12 + config(schema=...)), so the reference's BI cards
# query fighters_extracted_goat_status.mv_* etc. Spark temp views are
# flat-namespaced; register_views flattens `<schema>.<alias>` to
# `<schema>__<alias>` and sql() rewrites qualified names in card SQL.
# ---------------------------------------------------------------------------

_DBT_TARGET_SCHEMA = "fighters_extracted"


def _qualified_schema(custom: str | None) -> str:
    return f"{_DBT_TARGET_SCHEMA}_{custom}" if custom else _DBT_TARGET_SCHEMA


# Registration per SparkSession — temp views live in the session's flat
# namespace, so the key is (applicationId, sessionUUID), and one entry holds
# the sf_dir currently registered there: a request for another sf_dir
# re-registers. An entry keeps the dotted-name mapping and the compiled
# rewrite pattern; the views hold the same lazy plans _raw_cache and
# _frame_cache pin, so release_caches is the one invalidation hook.
_views: dict[tuple[str, str], tuple[str, dict[str, str], re.Pattern]] = {}


def _rewrite_pattern(mapping: dict[str, str]) -> re.Pattern:
    """One case-insensitive pattern for every dotted name, each part
    optionally back-quoted, matched only on identifier boundaries."""
    names = "|".join(
        "\\.".join(f"(?:`{re.escape(p)}`|{re.escape(p)})" for p in dotted.split("."))
        for dotted in mapping
    )
    return re.compile(rf"(?<![\w.`])(?:{names})(?![\w`])", re.IGNORECASE)


def _session_views(
    spark: SparkSession, sf_dir: str
) -> tuple[str, dict[str, str], re.Pattern]:
    key = (spark.sparkContext.applicationId, spark._jsparkSession.sessionUUID())
    memo = _views.get(key)
    if memo is None or memo[0] != sf_dir:
        built = build_all(spark, sf_dir)
        mapping: dict[str, str] = {}
        for name, model in REGISTRY.models.items():
            schema = _qualified_schema(model.schema)
            alias = model.alias or name
            view = f"{schema}__{alias}"
            df = built[name]
            if df.sparkSession is not spark:
                # the memoized frames belong to the session that first built
                # them; rebind the plan so the view lands in this catalog
                jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                    spark._jsparkSession, df._jdf.logicalPlan()
                )
                df = DataFrame(jdf, spark)
            df.createOrReplaceTempView(view)
            mapping[f"{schema}.{alias}"] = view
        memo = _views[key] = (sf_dir, mapping, _rewrite_pattern(mapping))
    return memo


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Register every model as a temp view named ``<schema>__<alias>``
    (once per session and sf_dir); returns the dotted name → view name
    mapping."""
    return dict(_session_views(spark, sf_dir)[1])


def sql(
    spark: SparkSession, sf_dir: str, query: str, args: dict | list | None = None
) -> DataFrame:
    """Run BI-card SQL against the model layer: dotted reference names
    (e.g. ``fighters_extracted_goat_status.mv_title_reigns``, in any case,
    either part optionally back-quoted) are rewritten to the registered
    flat temp views, then handed to ``spark.sql``.

    ``args`` enables parameterized SQL (named ``:param`` or positional
    ``?`` markers) — parameters bind as literals in the plan, never by
    string concatenation, so card filters like ``LIMIT :k`` are
    injection-safe and plan-cache-friendly. Spark's session-variable form
    (``DECLARE VARIABLE`` / ``SET VAR`` / ``EXECUTE IMMEDIATE``) works
    through here too since this is a thin veneer over ``spark.sql``."""
    apply_runtime_confs(spark)
    _, mapping, pattern = _session_views(spark, sf_dir)
    query = pattern.sub(lambda m: mapping[m[0].replace("`", "").lower()], query)
    if args is not None:
        return spark.sql(query, args=args)
    return spark.sql(query)
