"""Workload definitions, the happiness streaming leg, and the
correctness checks (DuckDB oracles and upsert invariants)."""

from __future__ import annotations

import contextlib
import os
import shutil
import sqlite3

WORKLOADS: dict[str, list[str]] = {
    # read-side declarative plans: scans plus codegen joins, aggregates
    # and windows inside the final write; no cache steps, no Arrow
    "star_sql": [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q6_forecast_revenue",
        "scalar_subquery_above_avg",
        "window_top3_per_supplier",
        "range_join_orders_events_7d",
        "asof_join_view_before_purchase",
    ],
    # multi-step curation operators: eager functions.cache steps,
    # driver-side loops, Arrow kernels
    "curation_steps": [
        "dedup_minhash_lsh_candidates",
        "sim_semantic_dedup_clusters",
    ],
    # write side: streaming state store, offset/commit logs and
    # checkpoints, plus the CSV -> fit -> message stream -> scored
    # upsert topology
    "stream_upsert": [
        "stream_tumbling_hourly_counts",
        "happiness_upsert",
    ],
}
HAPPINESS = "happiness_upsert"

# Untimed passes in the timed form, run after the checked first pass
# and before timing starts. The curation operators keep getting faster
# pass after pass (JIT of the planner and of generated code, Python
# workers importing their kernels): on 4 cores a pass takes 4.1, 3.1,
# 3.0, 2.7 s over passes 2-5 and falls more slowly after that. The
# streaming workload is flat after its second pass.
WARM_PASSES: dict[str, int] = {
    "star_sql": 1,
    "curation_steps": 3,
    "stream_upsert": 1,
}


def no_span(name: str, **attrs):
    """Span factory used outside traced passes."""
    return contextlib.nullcontext()


class HappinessLeg:
    """The source system's own topology: five-schema CSV ETL, split
    flags, MLlib fit, JSON messages as a file stream, then
    ``score_and_upsert_stream`` into a fresh SQLite ``predictions``
    table. ``run`` returns the number of rows in the warehouse."""

    def __init__(self, spark, csv_paths: dict[int, str], work_dir: str):
        self.spark = spark
        self.paths = csv_paths
        self.work_dir = work_dir
        # the tracer's span factory during traced passes
        self.span = no_span
        self.n_runs = 0
        self.last = None

    def _stream(self, topic: str, model, db: str, ckpt: str) -> None:
        from workshop3_etl_spark.schema import MESSAGE_SCHEMA
        from workshop3_etl_spark.sources.kafka_io import parse_json_messages
        from workshop3_etl_spark.streaming.pipeline import score_and_upsert_stream

        raw = self.spark.readStream.schema("value string").text(topic)
        q = score_and_upsert_stream(parse_json_messages(raw, MESSAGE_SCHEMA), model, db, ckpt)
        q.awaitTermination()

    def run(self) -> int:
        from workshop3_etl_spark.ml import build_linreg_pipeline, with_split_flags
        from workshop3_etl_spark.schema import FEATURES, TARGET
        from workshop3_etl_spark.sources.happiness import clean, load_unified
        from workshop3_etl_spark.sources.kafka_io import to_kafka_messages

        self.n_runs += 1
        d = os.path.join(self.work_dir, f"leg{self.n_runs}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        with self.span("sources.etl"):
            data = with_split_flags(clean(load_unified(self.spark, self.paths)),
                                    ["Country", "Year"])
        with self.span("ml.fit"):
            model = build_linreg_pipeline(FEATURES, TARGET).fit(data.filter("is_train = 1"))
        transform = model.transform

        def score(df):
            with self.span("ml.score"):
                return transform(df)

        model.transform = score
        topic = os.path.join(d, "topic")
        with self.span("sources.publish"):
            to_kafka_messages(data).write.mode("overwrite").text(topic)
        db = os.path.join(d, "warehouse.sqlite")
        with self.span("streaming.upsert"):
            self._stream(topic, model, db, os.path.join(d, "ckpt"))
        with contextlib.closing(sqlite3.connect(db)) as con:
            n = con.execute("SELECT COUNT(*) FROM predictions").fetchone()[0]
        model.transform = transform
        if self.last is not None:
            shutil.rmtree(self.last[0], ignore_errors=True)
        self.last = (d, data, model, topic, db)
        return n

    def check(self) -> list[str]:
        """Upsert invariants on the most recent run; returns the
        failures (empty when all hold)."""
        d, data, model, topic, db = self.last
        problems = []
        table = _read_predictions(db)
        keys = data.select("Country", "Year", "is_train", "is_test").distinct().count()
        if len(table) != keys:
            problems.append(f"predictions has {len(table)} rows, expected {keys} distinct keys")
        batch = model.transform(data).select(
            "Country", "Year", "is_train", "is_test", "prediction").collect()
        want = {tuple(r[:4]): r[4] for r in batch}
        got = {k: v[-1] for k, v in table.items()}
        bad = [k for k in want if got.get(k) != want[k]]
        if bad or len(got) != len(want):
            problems.append(f"y_pred differs from batch model.transform on {len(bad)} keys")
        self._stream(topic, model, db, os.path.join(d, "ckpt-replay"))
        if _read_predictions(db) != table:
            problems.append("replay with a fresh checkpoint changed the predictions table")
        return problems

    def close(self) -> None:
        if self.last is not None:
            shutil.rmtree(self.last[0], ignore_errors=True)


def _read_predictions(db: str) -> dict[tuple, tuple]:
    with contextlib.closing(sqlite3.connect(db)) as con:
        rows = con.execute(
            "SELECT country, year, is_train, is_test, gdp, social, health, "
            "freedom, corrupt, y_true, y_pred FROM predictions").fetchall()
    return {tuple(r[:4]): tuple(r[4:]) for r in rows}


class OracleChecker:
    """Compares a query's collected rows with its DuckDB oracle, with
    the column and row normalization of the parity test suite."""

    def __init__(self, data_dir: str, threads: int):
        import duckdb

        from workshop3_etl_spark.plans import registry
        from workshop3_etl_spark.sources.tables import TABLE_NAMES

        self.oracles = registry.oracles()
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={int(threads)}")
        for name in TABLE_NAMES:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{name}.parquet'")

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        from tests.test_oracle_parity import _canon, _normalize

        sql = self.oracles.get(name)
        if sql is None:
            return "no oracle registered"
        res = self.con.execute(sql)
        d_cols = [c[0] for c in res.description]
        d_rows = res.fetchall()
        if sorted(cols) != sorted(d_cols):
            return f"columns differ: spark={cols} duckdb={d_cols}"
        if len(rows) != len(d_rows):
            return f"row count differs: spark={len(rows)} duckdb={len(d_rows)}"
        s_norm, _ = _normalize(rows, cols)
        d_norm, _ = _normalize(d_rows, d_cols)
        bad = sum(
            1 for sr, dr in zip(s_norm, d_norm) for sv, dv in zip(sr, dr)
            if _canon(sv) != _canon(dv)
        )
        return f"{bad} cells differ" if bad else None

    def close(self) -> None:
        self.con.close()
