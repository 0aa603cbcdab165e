"""``nightly_copy``: the reference tool's own job, run night after night,
then the SQL user who reads and fixes the target the morning after.

The seeded sources are generated once, untimed, while the JVM starts.
Set-up (five times, the median kept): restart the session and load the
staged sources' schemas.

Timed: a backfill of a fresh target over the window the mutation set
reaches, then one-day nights through ``plans.pipeline.run`` — lineitem as a
normal fact, orders as a copy+update fact, five dims reloaded in parallel,
audit table and log files on. After the backfill the user registers the
target in a ``NamedCatalog`` and creates a dims-kind materialized view over
orders (untimed). After the last night comes one SQL session through
``NamedCatalog.sql``: ``refresh``, a one-week join read, UPDATE, DELETE
and MERGE in a seeded order with ``refresh`` after each write, and the
materialized-view read.

The traced run also follows the orders target with a change-data-feed
replica (``streaming.cdf_sync.stream_replicate``) before the SQL session:
one bootstrap, one more night, one drain.
"""

from __future__ import annotations

import time
from datetime import datetime, timedelta

import duckdb

import gen
import harvest
from runtime import (
    SETUP_REPS, Run, canon, commit_log, op_layer_metrics, selftime_median,
    span_totals, table_roots,
)
from stats import median

N_NIGHTS = 4
MIN_NIGHTS = 1
ORDER_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority", "update_datetime",
]
NAMES = {"orders": "global_temp.orders", "lineitem": "global_temp.lineitem",
         "supplier": "global_temp.supplier", "mv": "global_temp.orders_mv"}
DUCK_NAMES = {"orders": "orders", "lineitem": "lineitem", "supplier": "supplier"}


def _config(src: str, target: str, logs: str, d0: str, d1: str):
    from data_warehouse_copy_spark.config import load_config

    return load_config({
        "source": src, "target": target, "date_from": d0, "date_to": d1,
        "log_dir": logs,
        "tables": [
            {"table_name": "orders", "table_type": "fact",
             "date_column": "o_orderdate", "update_date_column": "update_datetime",
             "primary_key": "o_orderkey"},
            {"table_name": "lineitem", "table_type": "fact", "date_column": "l_shipdate"},
        ] + [{"table_name": d, "table_type": "dim"} for d in gen.DIM_TABLES],
    })


def _window(col: str, d0: str, d1: str) -> str:
    return f"{col} BETWEEN TIMESTAMP '{d0} 00:00:00' AND TIMESTAMP '{d1} 23:59:59.997'"


class Nightly:
    def __init__(self, run: Run):
        self.run = run
        self.duck = duckdb.connect()
        self.target = run.work / "target"
        self.sql_rows: dict[str, int] = {}

    def _count(self, src: str, table: str, where: str = "TRUE") -> int:
        return self.duck.sql(
            f"SELECT count(*) FROM read_parquet('{src}/{table}.parquet') WHERE {where}"
        ).fetchone()[0]

    def pipeline(self, src: str, d0: str, d1: str):
        from data_warehouse_copy_spark.plans import pipeline

        cfg = _config(src, str(self.target), str(self.run.work / "logs"), d0, d1)
        now = datetime.fromisoformat(d1) + timedelta(days=1, hours=2)
        return pipeline.run(self.run.spark, cfg, now=now)

    def check_outcomes(self, res, src: str, d0: str, d1: str, upsert_keys: int) -> None:
        """Records per table against DuckDB over the source parquet, and
        the upsert key count against the generator's known answer."""
        run = self.run
        got = {(o.table, o.process): (o.status, o.records) for o in res.outcomes}
        want = {
            ("orders", "Copy"): self._count(src, "orders", _window("o_orderdate", d0, d1)),
            ("lineitem", "Copy"): self._count(src, "lineitem", _window("l_shipdate", d0, d1)),
            ("orders", "Update"): upsert_keys,
        }
        for d in gen.DIM_TABLES:
            want[(d, "Copy")] = self._count(src, d)
        oracle_keys = self.duck.sql(
            f"""SELECT count(*) FROM read_parquet('{src}/orders.parquet')
            WHERE CAST(update_datetime AS DATE) BETWEEN DATE '{d0}' AND DATE '{d1}'
            AND o_orderkey NOT IN (SELECT o_orderkey FROM read_parquet('{src}/orders.parquet')
              WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '{d0}' AND DATE '{d1}')"""
        ).fetchone()[0]
        run.check(oracle_keys == upsert_keys, f"mutated keys {oracle_keys} != {upsert_keys}")
        for key, n in want.items():
            run.check(got.get(key) == ("Completed", n), f"{key}: {got.get(key)} != {n}")

    def check_target(self, src: str, d1: str) -> None:
        """Target row counts after the nights against DuckDB."""
        from data_warehouse_copy_spark.sources.managed_table import ManagedTable

        d0 = self.plan.backfill_from
        want = {
            "orders": self._count(src, "orders", _window("o_orderdate", d0, d1)),
            "lineitem": self._count(src, "lineitem", _window("l_shipdate", d0, d1)),
        }
        for t, n in want.items():
            got = ManagedTable(self.run.spark, self.target / t).read().count()
            self.run.check(got == n, f"target {t} rows {got} != {n}")

    # --------------------------------------------------------------- run

    def prepare(self) -> None:
        self.plan = gen.stage_nightly(self.run.seed, self.run.work / "src", N_NIGHTS + 1)

    def set_up(self) -> None:
        spark = self.run.session()
        src = self.plan.source_dirs[0]
        for t in ("orders", "lineitem", *gen.DIM_TABLES):
            spark.read.parquet(f"{src}/{t}.parquet").schema  # noqa: B018

    def backfill(self) -> None:
        p = self.plan
        res = self.run.op(
            "backfill", lambda: self.pipeline(p.source_dirs[0], p.backfill_from, p.backfill_to))
        self.check_outcomes(res, p.source_dirs[0], p.backfill_from, p.backfill_to, 0)

    def open_catalog(self) -> None:
        """The SQL user's catalog over the target, with the view."""
        from data_warehouse_copy_spark.sources.names import NamedCatalog

        spark, work = self.run.spark, self.run.work
        self.catalog = NamedCatalog(work / "catalog.json")
        for t in ("orders", "lineitem", "supplier"):
            self.catalog.register(NAMES[t], self.target / t)
        self.catalog.attach(spark)
        self.catalog.sql(spark, (
            f"CREATE MATERIALIZED VIEW {NAMES['mv']} LOCATION '{work / 'mv'}' AS "
            + gen.MV_SQL.format(orders=NAMES["orders"])))

    def night(self, i: int, kind: str = "night") -> None:
        run, p = self.run, self.plan
        src, night = p.source_dirs[i + 1], p.nights[i]
        res = run.op(kind, lambda: self.pipeline(src, night, night))
        self.check_outcomes(res, src, night, night, p.mutated_keys[i])

    def sql_session(self, nights: int) -> None:
        """The morning session over the target after ``nights`` nights.
        Reads are checked against DuckDB over the staged sources the
        target was loaded from, with the session's writes replayed."""
        run, spark, cat = self.run, self.run.spark, self.catalog
        statements = self.plan.statements
        src, d1 = self.plan.source_dirs[nights], self.plan.nights[nights - 1]
        d0 = self.plan.backfill_from
        self.check_target(src, d1)

        def session():
            cat.refresh(spark)  # the nights' commits become visible
            out = []
            for st in statements:
                def execute(st=st):
                    rows = cat.sql(spark, st.sql.format(**NAMES)).toPandas()
                    if st.kind in gen.WRITE_KINDS:
                        cat.refresh(spark)
                    return rows
                out.append(run.step(st.kind, execute))
            return out

        got = run.op("sql", session)
        self.duck.sql(f"""CREATE TABLE orders AS SELECT * FROM read_parquet('{src}/orders.parquet')
            WHERE {_window('o_orderdate', d0, d1)}""")
        self.duck.sql(f"""CREATE TABLE lineitem AS SELECT * FROM read_parquet('{src}/lineitem.parquet')
            WHERE {_window('l_shipdate', d0, d1)}""")
        self.duck.sql(f"CREATE TABLE supplier AS SELECT * FROM read_parquet('{src}/supplier.parquet')")
        for st, rows in zip(statements, got):
            self.sql_rows[st.kind] = len(rows)
            if st.kind in gen.WRITE_KINDS:
                for q in st.oracle:
                    res = self.duck.execute(q.format(**DUCK_NAMES))
                if st.kind != "merge":
                    n = res.fetchone()[0]
                    run.check(int(rows["rows_affected"][0]) == n,
                              f"{st.kind} affected {rows['rows_affected'][0]} rows, oracle {n}")
                continue
            want = self.duck.sql(st.oracle[0].format(**DUCK_NAMES)).df()
            key = list(want.columns)
            run.check(canon(rows[key], key) == canon(want, key),
                      f"{st.kind} read differs from the replayed oracle: {st.sql[:80]}")

    def execute(self) -> dict[str, float]:
        run = self.run
        run.boot(self.prepare)
        for _ in range(SETUP_REPS):
            run.timed_setup(self.set_up)
        deadline = run.deadline()
        nights = 0
        try:
            self.backfill()
            self.open_catalog()
            while nights < N_NIGHTS and (nights < MIN_NIGHTS or time.perf_counter() < deadline):
                self.night(nights)
                nights += 1
            if run.tracer is not None:
                self.follow_replica(nights)
                nights += 1
            self.sql_session(nights)
        except Exception:  # the program failed: count it, keep the samples
            run.crashed()
        return {"job_s": median(run.samples["night"]), "query_s": median(run.samples["sql"])}

    # ------------------------------------------------------ traced extras

    def follow_replica(self, i: int) -> None:
        from data_warehouse_copy_spark.streaming.cdf_sync import stream_replicate

        run = self.run
        rep_root = run.work / "replica"
        q = stream_replicate(
            run.spark, str(self.target / "orders"), str(rep_root),
            str(run.work / "replica_ckpt"), key_cols="o_orderkey",
        )
        try:
            run.op("replica_bootstrap", q.processAllAvailable)
            self.check_replica(rep_root)
            n0 = len(q.recentProgress)
            self.night(i, "replica_night")
            run.op("replica_lag", q.processAllAvailable)
            self.check_replica(rep_root)
            self.lag_progress = q.recentProgress[n0:]
            self.lag_changed = self.plan.mutated_keys[i] + self._count(
                self.plan.source_dirs[i + 1], "orders",
                _window("o_orderdate", self.plan.nights[i], self.plan.nights[i]))
        finally:
            q.stop()

    def check_replica(self, rep_root) -> None:
        from data_warehouse_copy_spark.sources.managed_table import ManagedTable

        spark = self.run.spark
        tgt = ManagedTable(spark, self.target / "orders").read().select(*ORDER_COLS)
        rep = ManagedTable(spark, rep_root).read().select(*ORDER_COLS)
        self.run.check(
            canon(tgt.toPandas(), ["o_orderkey"]) == canon(rep.toPandas(), ["o_orderkey"]),
            "replica differs from the orders target",
        )

    def layer_metrics(self) -> dict[str, float]:
        run, spans = self.run, self.run.tracer.finished()
        ops = [s for s in spans if s["parent"] is None and s["name"] == "night"]
        changed = sum(s["attrs"].get("records", 0) for s in spans
                      if s["name"] in ("copy", "upsert")
                      and any(o["start"] <= s["start"] <= o["end"] for o in ops))
        out = op_layer_metrics(run, ops, commit_log(table_roots(self.target)), changed)
        per_op = lambda name: median(span_totals(spans, ops, name))  # noqa: E731
        out.update({
            "pipeline.self_s": selftime_median(spans, "pipeline.run"),
            "audit.appends": median([
                sum(1 for s in spans if s["name"] == "audit.append"
                    and o["start"] <= s["start"] <= o["end"]) for o in ops]),
            "audit.s": per_op("audit.append"),
            "copy.s": per_op("copy"),
            "upsert.s": per_op("upsert"),
            "upsert.keys": median([
                sum(s["attrs"].get("records", 0) for s in spans if s["name"] == "upsert"
                    and o["start"] <= s["start"] <= o["end"]) for o in ops]),
            "merge_by_key.s": per_op("managed_table.merge_by_key"),
            "overwrite_range.s": per_op("managed_table.overwrite_range"),
            "overwrite.s": per_op("managed_table.overwrite"),
            "backfill_s": median(run.samples["backfill"]),
        })
        out.update(self.replica_metrics(spans))
        out.update(self.sql_metrics(spans))
        return out

    def replica_metrics(self, spans: list[dict]) -> dict[str, float]:
        """The replica's work for the night after its bootstrap: the stream
        starts on the night's first commit, so its batches overlap the
        night and the drain that follows it."""
        run = self.run
        boot = [s for s in spans if s["name"] == "replica_bootstrap" and s["parent"] is None]
        applies = [s for s in spans if s["name"] == "cdf_sync.apply"
                   and s["start"] >= boot[0]["end"]]
        prog = self.lag_progress
        return {
            "replica_bootstrap_s": median(run.samples["replica_bootstrap"]),
            "replica_lag_s": median(run.samples["replica_lag"]),
            "cdf_sync.batches": len(applies),
            "cdf_sync.apply_s": sum(a["end"] - a["start"] for a in applies),
            "cdf_sync.source_s": sum(
                p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)
                for p in prog) / 1000.0,
            "cdf_sync.change_rows_per_changed_key":
                sum(p.get("numInputRows", 0) for p in prog) / self.lag_changed,
        }

    def sql_metrics(self, spans: list[dict]) -> dict[str, float]:
        """The SQL session's statements: each is a step span of the
        session's op; a write's step holds the ``refresh`` after it."""
        (op,) = [s for s in spans if s["parent"] is None and s["name"] == "sql"]
        step = {s["name"]: s for s in spans if s["parent"] == op["id"]}
        dur = lambda s: s["end"] - s["start"]  # noqa: E731
        inside = lambda name, within: [  # noqa: E731
            dur(s) for s in spans if s["name"] == name and within["start"] <= s["start"] <= within["end"]]
        execute = {k: dur(step[k]) - sum(inside("names.refresh", step[k])) for k in gen.WRITE_KINDS}
        engine = {k: harvest.window_metrics(self.run.jobs(), s["start"], s["end"])
                  for k, s in step.items()}
        return {
            "range_read_s": dur(step["range"]),
            "mv_read_s": dur(step["mv"]),
            "dml_s": median([dur(step[k]) for k in gen.WRITE_KINDS]),
            "statements_per_s": len(step) / dur(op),
            "sql_dml.parse_s": median(inside("sql_dml.parse", op)),
            "sql_dml.execute_s": median(list(execute.values())),
            **{f"sql_dml.execute_{k}_s": v for k, v in execute.items()},
            "names.refresh_s": median(inside("names.refresh", op)),
            "matview.read_s": median(inside("matview.read", op)),
            "matview.jobs_per_read": engine["mv"]["jobs"],
            "datasource.scan_partitions": engine["range"]["tasks"],
            "datasource.rows_examined_per_row_returned":
                engine["range"]["input_records"] / self.sql_rows["range"],
        }


def wrap_layers(tracer) -> None:
    from data_warehouse_copy_spark.plans import audit, pipeline
    from data_warehouse_copy_spark.sources import sql_dml
    from data_warehouse_copy_spark.sources.managed_table import ManagedTable
    from data_warehouse_copy_spark.sources.names import NamedCatalog
    from data_warehouse_copy_spark.streaming import cdf_sync
    from data_warehouse_copy_spark.streaming.matview import MaterializedView

    records = lambda a, k, r: {"records": getattr(r, "rows_copied", r)}  # noqa: E731
    tracer.wrap(pipeline, "run", "pipeline.run")
    tracer.wrap(pipeline, "copy_table", "copy", records)
    tracer.wrap(pipeline, "update_table", "upsert", records)
    tracer.wrap(audit.AuditLog, "start", "audit.append")
    tracer.wrap(audit.AuditLog, "finish", "audit.append")
    for m in ("merge_by_key", "overwrite_range", "overwrite"):
        tracer.wrap(ManagedTable, m, f"managed_table.{m}")
    tracer.wrap(cdf_sync, "apply_changes", "cdf_sync.apply")
    tracer.wrap(sql_dml, "parse_dml", "sql_dml.parse")
    tracer.wrap(NamedCatalog, "refresh", "names.refresh")
    tracer.wrap(MaterializedView, "read", "matview.read")
