"""The BI serving surface: card-shaped SQL against registered model views,
using the reference's qualified names (charts.sh:154-498 shape)."""

from __future__ import annotations

import logging

from tests.conftest import SF_DIR

from ufc_data_warehouse_spark import api, session
from ufc_data_warehouse_spark.api import build_model, register_views, sql
from ufc_data_warehouse_spark.registry import REGISTRY

OTHER_SF_DIR = (
    "/root/testdata/sf0.01" if SF_DIR != "/root/testdata/sf0.01" else "/root/testdata/sf0.001"
)
WINS_CARD = "SELECT * FROM fighters_extracted.mv_fighters_by_wins"


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _spy_builds(monkeypatch) -> list:
    """Record every REGISTRY.build call's resolved model names."""
    calls = []
    real = REGISTRY.build

    def spy(*a, **kw):
        built = real(*a, **kw)
        calls.append(list(built))
        return built

    monkeypatch.setattr(REGISTRY, "build", spy)
    return calls


def test_register_views_namespacing(spark):
    mapping = register_views(spark, SF_DIR)
    assert "fighters_extracted_goat_status.mv_title_reigns" in mapping
    assert "fighters_extracted_semantic.fct_fights" in mapping
    assert "fighters_extracted.mv_fighters_by_wins" in mapping


def test_card_sql_top_k(spark):
    # the exact query shape Metabase sends (charts.sh:171-173)
    df = sql(
        spark,
        SF_DIR,
        """
        SELECT fighter, wins
        FROM fighters_extracted.mv_fighters_by_wins
        ORDER BY wins DESC, fighter LIMIT 5
        """,
    )
    rows = df.collect()
    assert len(rows) == 5
    assert rows[0]["wins"] >= rows[-1]["wins"]
    # matches the DataFrame API result
    api_top = (
        build_model(spark, SF_DIR, "fighters_by_wins")
        .orderBy("wins", ascending=False)
        .limit(50)
        .collect()
    )
    assert rows[0]["wins"] == api_top[0]["wins"]


def test_card_sql_goat_status_schema(spark):
    df = sql(
        spark,
        SF_DIR,
        """
        SELECT weight_category, fighter, total_champ_days
        FROM fighters_extracted_goat_status.mv_total_champ_days
        ORDER BY total_champ_days DESC NULLS LAST LIMIT 3
        """,
    )
    assert df.count() == 3


def test_parameterized_sql_and_session_variables(spark):
    """Parameterized SQL (named + positional markers), session variables,
    and EXECUTE IMMEDIATE — the injection-safe BI-parameter surface."""
    from tests.conftest import SF_DIR
    from ufc_data_warehouse_spark import api

    named = api.sql(
        spark,
        SF_DIR,
        "SELECT fighter, wins FROM fighters_extracted.mv_fighters_by_wins "
        "WHERE wins >= :min_wins ORDER BY wins DESC, fighter LIMIT :k",
        args={"min_wins": 1, "k": 5},
    ).collect()
    assert 0 < len(named) <= 5

    positional = api.sql(
        spark,
        SF_DIR,
        "SELECT count(*) AS n FROM fighters_extracted.mv_fighters_by_wins "
        "WHERE wins >= ?",
        args=[1],
    ).collect()
    assert positional[0]["n"] >= len(named)

    spark.sql("DECLARE OR REPLACE VARIABLE min_w INT DEFAULT 0")
    spark.sql("SET VAR min_w = 1")
    via_var = api.sql(
        spark,
        SF_DIR,
        "SELECT count(*) AS n FROM fighters_extracted.mv_fighters_by_wins "
        "WHERE wins >= min_w",
    ).collect()
    assert via_var[0]["n"] == positional[0]["n"]

    ei = spark.sql(
        "EXECUTE IMMEDIATE 'SELECT 1 + ? AS v' USING 41"
    ).collect()
    assert ei[0]["v"] == 42


def test_sql_macro_matches_column_expr(spark):
    """The SQL TEMPORARY FUNCTION form of the reference's image-url macro
    must be row-identical to the Column-expression form (exprs.X13), and
    inline into the plan with no Python eval."""
    from pyspark.sql import functions as F

    from ufc_data_warehouse_spark import exprs

    exprs.register_sql_macros(spark)
    names = spark.createDataFrame(
        [("Jon Jones",), ("Khabib - Nurmagomedov!",), ("",), (None,), ("ñ",)],
        ["fighter"],
    )
    both = names.select(
        exprs.image_slug_url("fighter").alias("col_form"),
        F.expr("fighter_image_url(fighter)").alias("sql_form"),
    )
    rows = both.collect()
    assert all(r["col_form"] == r["sql_form"] for r in rows), rows
    plan = both._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_second_sql_on_same_session_resolves_no_models(spark, monkeypatch):
    first = _rows(sql(spark, SF_DIR, WINS_CARD))
    calls = _spy_builds(monkeypatch)
    second = _rows(sql(spark, SF_DIR, WINS_CARD))
    assert calls == [], "a registered session rebuilt model plans"
    assert second == first


def test_switching_sf_dir_reregisters_and_switching_back(spark, monkeypatch):
    calls = _spy_builds(monkeypatch)
    for sf_dir in (OTHER_SF_DIR, SF_DIR):
        calls.clear()
        card = _rows(sql(spark, sf_dir, WINS_CARD))
        assert calls, f"no re-registration for {sf_dir}"
        assert card == _rows(build_model(spark, sf_dir, "fighters_by_wins"))


def test_new_session_gets_its_own_registration(spark, monkeypatch):
    sql(spark, SF_DIR, WINS_CARD)
    other = spark.newSession()
    calls = _spy_builds(monkeypatch)
    got = _rows(sql(other, SF_DIR, WINS_CARD))
    assert calls, "the new session reused another session's registration"
    assert got == _rows(build_model(spark, SF_DIR, "fighters_by_wins"))
    keys = {k for k in api._views if k[0] == spark.sparkContext.applicationId}
    assert len(keys) >= 2


def test_card_sql_upper_case_and_back_quoted_names(spark):
    expected = _rows(sql(spark, SF_DIR, WINS_CARD))
    for ref in (
        "FIGHTERS_EXTRACTED.MV_FIGHTERS_BY_WINS",
        "`fighters_extracted`.`mv_fighters_by_wins`",
        "`Fighters_Extracted`.mv_fighters_by_wins",
    ):
        assert _rows(sql(spark, SF_DIR, f"SELECT * FROM {ref}")) == expected, ref
    # names inside longer identifiers are left alone
    pattern = api._views[
        (spark.sparkContext.applicationId, spark._jsparkSession.sessionUUID())
    ][2]
    for longer in (
        "fighters_extracted.mv_fighters_by_wins_2",
        "xfighters_extracted.mv_fighters_by_wins",
        "cat.fighters_extracted.mv_fighters_by_wins",
    ):
        assert not pattern.search(longer), longer


def test_locked_runtime_conf_warns_once(spark, monkeypatch, caplog):
    monkeypatch.setitem(session.RUNTIME_CONFS, "spark.sql.warehouse.dir", "/nonexistent")
    monkeypatch.setattr(session, "_locked_confs", set())
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.apply_runtime_confs(spark)
        session.apply_runtime_confs(spark)
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "spark.sql.warehouse.dir" in warnings[0].getMessage()
