"""The two workloads: what one run sets up, the operations it times, and
how each result is checked against its DuckDB oracle.

A workload is a list of *operations* grouped into *passes*:

- ``query``: one pass = the 13 Metabase cards, each one BI SQL request
  through ``api.sql`` (dotted view names, ``LIMIT :k`` bound as a
  parameter), and five curation queries, one per operator family, all
  in one seeded order with seeded ``k``;
- ``refresh``: one pass = one operation, ``etl.run_pipeline`` over the
  seeded-shuffled CSVs (ingest → 9 partitioned marts → validation
  checks), after ``api.release_caches``.

Operations take the engine's public entry points and nothing else; the
benchmark only times them, and checks their results afterwards, untimed.
"""

from __future__ import annotations

import csv
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd

# one scale-tier curation query per operator family; the family builds
# it, so its plan and execution time count toward that family's
# operators.*.exec_s
QUERY_FAMILY = {
    "dedup_simhash48_pairs": "operators.dedup",
    "graph_pagerank_top100": "operators.graph",
    "ann_pq_adc_topk": "operators.simsearch",
    "bm25_doc_ranking": "operators.text",
    "streaming_tumbling_counts": "streaming",
}
CURATION_QUERIES = list(QUERY_FAMILY)
# the refresh pass writes these marts (MART_PARTITIONS targets + deps)
REFRESH_MARTS = [
    "stg_fight_results", "stg_event_details", "stg_title_fights_norm",
    "fct_fights", "title_reigns", "fct_title_reigns", "title_defenses",
    "fighters_by_wins", "fighters_best_record",
]


def oracle_marts() -> list[str]:
    """Refreshed marts with a DuckDB oracle; ``stg_title_fights_norm`` is an
    engine-internal staging step with none (its dependents are checked)."""
    from ufc_data_warehouse_spark.oracle import model_names

    return [m for m in REFRESH_MARTS if m in model_names()]


# validation rules run after the marts are written (dbt `test` after `run`)
REFRESH_CHECKS = {
    "fct_fights": {"not_null": ["fight_id", "event_date"], "unique": [["fight_id"]]},
    "title_reigns": {"not_null": ["fighter", "weight_category"]},
    "fighters_by_wins": {"unique": [["fighter"]]},
}
# the frames api.sql's model layer persists; counting them fills its cache
API_PERSISTED = ("stg_fight_results", "stg_event_details", "stg_title_fights_norm", "title_reigns")
K_RANGE = (5, 61)  # LIMIT :k is drawn from [5, 60]

_SPARK_IMG = (
    "CASE WHEN fighter IS NULL OR fighter = '' THEN NULL ELSE concat('http://localhost:8888/', "
    "regexp_replace(regexp_replace(lower(fighter), '[^a-z0-9]+', '_'), '^_+|_+$', ''), '.png') END"
)
_DUCK_IMG = (
    "CASE WHEN fighter IS NULL OR fighter = '' THEN NULL ELSE concat('http://localhost:8888/', "
    "regexp_replace(regexp_replace(lower(fighter), '[^a-z0-9]+', '_', 'g'), '^_+|_+$', '', 'g'), '.png') END"
)
_ORDER = {"asc": "ASC", "desc": "DESC", "asc_nl": "ASC NULLS LAST", "desc_nl": "DESC NULLS LAST"}


def card_specs() -> dict[str, dict]:
    from ufc_data_warehouse_spark.extra_queries import CARD_SPECS

    return CARD_SPECS


def card_sql(spec: dict, table: str, img: str, limit: str) -> str:
    order = ", ".join(f"{c} {_ORDER[d]}" for c, d in spec["order"])
    cols = ", ".join(spec["cols"])
    return f"SELECT fighter, {img} AS fighter_image_url, {cols} FROM {table} ORDER BY {order} LIMIT {limit}"


def load_oracle(oracle_dir: str, name: str) -> pd.DataFrame:
    return pd.read_pickle(os.path.join(oracle_dir, f"{name}.pkl"))


@dataclass
class Op:
    """One timed operation: ``run(phase)`` returns what ``check`` verifies.
    ``phase(name)`` is a context manager the harness supplies (a span in
    the traced run, a no-op otherwise); ``before`` runs untimed first."""

    name: str
    run: Callable
    check: Callable
    before: Callable | None = None
    family: str | None = None


class Workload:
    name = ""

    def __init__(self, spark, built: dict, rng: np.random.Generator, run_dir: str):
        self.spark, self.built, self.rng, self.run_dir = spark, built, rng, run_dir
        self.inputs: dict = {}

    def prepare(self) -> None:
        """Benchmark-side input preparation from the seed (untimed)."""

    def warm(self) -> None:
        """The engine-side part of set-up after the session starts (timed
        into ``setup_s``)."""

    def warmup_ops(self) -> list[Op]:
        """Operations the traced run runs once, checked, before it compares
        untraced and traced copies, so that both copies run warm."""
        return []

    def one_pass(self) -> list[Op]:
        raise NotImplementedError


class Query(Workload):
    """The read side on one warm session: the dashboard's cards and the
    curation queries, interleaved in one seeded order."""

    name = "query"

    def prepare(self) -> None:
        import duckdb

        from ufc_data_warehouse_spark.registry import REGISTRY

        specs = card_specs()
        ks = {n: int(k) for n, k in zip(specs, self.rng.integers(*K_RANGE, len(specs)))}
        con = duckdb.connect()
        self.cards = []
        for n, spec in specs.items():
            model = REGISTRY.models[spec["model"]]
            schema = "fighters_extracted" + (f"_{model.schema}" if model.schema else "")
            dotted = f"{schema}.{model.alias or spec['model']}"
            frame = load_oracle(self.built["oracles"], f"model__{spec['model']}")
            con.register("m", frame)
            expected = normalize(con.execute(card_sql(spec, "m", _DUCK_IMG, str(ks[n]))).df())
            con.unregister("m")
            self.cards.append((n, card_sql(spec, dotted, _SPARK_IMG, ":k"), ks[n], expected))
        con.close()
        self.expected = {q: load_oracle(self.built["oracles"], f"query__{q}") for q in CURATION_QUERIES}
        names = [c[0] for c in self.cards] + CURATION_QUERIES
        self.order = [names[i] for i in self.rng.permutation(len(names))]
        self.inputs = {"order": self.order, "k": ks,
                       "card_sf": self.built["dash_sf"], "curation_sf": self.built["curation_sf"]}

    def warm(self) -> None:
        from ufc_data_warehouse_spark import api

        sf = self.built["dash_corpus"]
        api.release_caches(self.spark)
        api.register_views(self.spark, sf)
        for name in API_PERSISTED:
            api.build_model(self.spark, sf, name).count()

    def card_op(self, name: str, sql: str, k: int, expected: pd.DataFrame) -> Op:
        from ufc_data_warehouse_spark import api

        sf = self.built["dash_corpus"]

        def run(phase):
            with phase("api.sql.build"):
                df = api.sql(self.spark, sf, sql, args={"k": k})
            with phase("api.sql.plan"):
                df._jdf.queryExecution().executedPlan()
            with phase("api.sql.exec"):
                return df.toPandas()

        return Op(name, run, lambda got: frames_match(got, expected))

    def curation_op(self, q: str) -> Op:
        from ufc_data_warehouse_spark.extra_queries import EXTRA_QUERIES

        sf = self.built["curation_corpus"]

        def run(phase):
            with phase(f"curation.{q}.build"):
                df = EXTRA_QUERIES[q](self.spark, sf)
            with phase(f"curation.{q}.plan"):
                df._jdf.queryExecution().executedPlan()
            with phase(f"curation.{q}.exec"):
                return df.toPandas()

        return Op(q, run, lambda got: frames_match(got, self.expected[q]), family=QUERY_FAMILY[q])

    def one_pass(self) -> list[Op]:
        ops = {c[0]: self.card_op(*c) for c in self.cards}
        ops.update((q, self.curation_op(q)) for q in CURATION_QUERIES)
        return [ops[n] for n in self.order]


class Refresh(Workload):
    name = "refresh"

    def prepare(self) -> None:
        src_csv, src_vac = self.built["csv"], self.built["vacancy_csv"]
        self.csv_dir = os.path.join(self.run_dir, "input", "csv")
        self.vacancy_csv = os.path.join(self.run_dir, "input", "vacancies.csv")
        self.warehouse = os.path.join(self.run_dir, "warehouse")
        os.makedirs(self.csv_dir, exist_ok=True)
        copies = [(os.path.join(src_csv, f), os.path.join(self.csv_dir, f)) for f in sorted(os.listdir(src_csv))]
        copies.append((src_vac, self.vacancy_csv))
        rows = {}
        for src, dst in copies:
            frame = pd.read_csv(src, dtype=str, keep_default_na=False)
            frame = frame.iloc[self.rng.permutation(len(frame))]
            frame.to_csv(dst, index=False, quoting=csv.QUOTE_MINIMAL)
            rows[os.path.basename(dst)] = len(frame)
        self.csv_mb = sum(os.path.getsize(dst) for _, dst in copies) / 1e6
        self.expected = {m: load_oracle(self.built["oracles"], f"mart__{m}") for m in oracle_marts()}
        self.inputs = {"csv_rows": rows, "csv_mb": round(self.csv_mb, 3), "sf": self.built["refresh_sf"]}

    def warmup_ops(self) -> list[Op]:
        return self.one_pass()

    def one_pass(self) -> list[Op]:
        from ufc_data_warehouse_spark import api, etl

        def before():
            api.release_caches(self.spark)
            shutil.rmtree(self.warehouse, ignore_errors=True)

        def run(phase):
            return etl.run_pipeline(self.spark, self.csv_dir, self.warehouse,
                                    vacancy_csv=self.vacancy_csv, checks=REFRESH_CHECKS)

        return [Op("pipeline", run, self.check, before=before)]

    def check(self, result) -> bool:
        if sorted(result.marts) != sorted(REFRESH_MARTS):
            return False
        for mart, expected in self.expected.items():
            if not frames_match(read_mart(result.marts[mart]), expected):
                return False
        return all(
            result.checks.get(mart) == expected_checks(self.expected[mart], rules)
            for mart, rules in REFRESH_CHECKS.items()
        )


WORKLOADS = {w.name: w for w in (Query, Refresh)}


def normalize(frame: pd.DataFrame) -> pd.DataFrame:
    from tests.conftest import normalize_frame

    return normalize_frame(frame)


def frames_match(got: pd.DataFrame, right: pd.DataFrame) -> bool:
    """The test suite's oracle comparison (``tests/conftest.py``) against an
    already-normalized oracle frame: normalize ``got``, then equal
    columns, rows and values within rtol 1e-5 / atol 1e-8."""
    left = normalize(got)
    if list(left.columns) != list(right.columns) or len(left) != len(right):
        return False
    try:
        pd.testing.assert_frame_equal(left, right, check_dtype=False, check_exact=False,
                                      rtol=1e-5, atol=1e-8)
    except AssertionError:
        return False
    return True


def read_mart(path: str) -> pd.DataFrame:
    """A written mart as pandas, Hive partition columns included (Spark's
    ``__HIVE_DEFAULT_PARTITION__`` reads back as null)."""
    import pyarrow.dataset as ds

    part = ds.HivePartitioning.discover(infer_dictionary=False)
    return ds.dataset(path, format="parquet", partitioning=part).to_table().to_pandas()


def expected_checks(frame: pd.DataFrame, rules: dict) -> dict[str, int]:
    """Violation counts ``validation.run_checks`` must report for ``rules``
    (``frame`` is a normalized oracle: nulls are None/NaN either way)."""
    out = {}
    for col in rules.get("not_null", []):
        out[f"not_null:{col}"] = int(frame[col].isna().sum())
    for keys in rules.get("unique", []):
        sizes = frame.groupby(keys, dropna=False).size()
        out["unique:" + ",".join(keys)] = int((sizes > 1).sum())
    return out
