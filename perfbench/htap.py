"""``htap_mor``: a merge-on-read CDC stream interleaved with analytic SQL.

One table, ``analytics.transactions`` (22 columns, partitioned by date,
keyed by ``transaction_id``), preloaded through the engine's batch CDC
path. Every round runs, in this order:

1. CDC batch: land one envelope file, run the checkpointed
   ``stream_cdc_to_table`` availableNow query with ``strategy="mor"``,
   then read the batch back (its rows must be visible);
2. a date-filtered group-aggregate through ``WarehouseSQL.execute``;
3. ``DELETE`` with positional deletes (``strategy="mor-pos"``);
4. ``auto_maintain`` (compaction folds the delete files).

Each step is one timed operation. Its result is checked right after it,
with the clock stopped, against the benchmark's key model (DuckDB over
the model's rows for the SQL read). At the end the whole table and the
quarantine table are checked against the model.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os

import duckdb
import pyarrow as pa

import gen
from model import KeyModel

NS, TABLE = "analytics", "transactions"
FQ = f"{NS}.{TABLE}"
WRITE_KINDS = ("cdc_batch", "delete", "maintain")
QUERY_KINDS = ("q_agg",)


def _agg_sql(d1: str, d2: str) -> str:
    return (
        "SELECT transaction_type, COUNT(*) AS n, SUM(amount) AS total "
        f"FROM {FQ} WHERE date >= DATE '{d1}' AND date <= DATE '{d2}' "
        "GROUP BY transaction_type"
    )


def _rows(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


class HtapMor:
    name = "htap_mor"
    write_kinds = WRITE_KINDS
    query_kinds = QUERY_KINDS
    warmup_rounds = 1

    def __init__(self, runner, spark, work: str, seed: int):
        from sample_for_transactional_datalake_using_s3tables_spark.sources.sqlexec import (
            WarehouseSQL,
        )
        from sample_for_transactional_datalake_using_s3tables_spark.sources.warehouse import (
            Warehouse,
        )

        self.r = runner
        self.spark = spark
        self.work = work
        with runner.aside():
            self.plan = gen.CdcPlan(seed)
        self.model = KeyModel()
        self.src = os.path.join(work, "cdc_src")
        self.stage = os.path.join(work, "cdc_stage")
        self.ckpt = os.path.join(work, "cdc_ckpt")
        os.makedirs(self.src)
        os.makedirs(self.stage)
        self.wh = Warehouse(spark, os.path.join(work, "wh"))
        self.sql = WarehouseSQL(self.wh)
        self.n_files = 0
        self.records = 0
        self.malformed = 0
        self.duck = duckdb.connect()

    # -- set-up ----------------------------------------------------------

    def preload(self) -> None:
        """Create the table and backfill the preload rows through the
        engine's batch CDC parse (the same transform the stream runs)."""
        from sample_for_transactional_datalake_using_s3tables_spark.streaming.cdc import (
            create_transactions_table,
            good_rows,
            parse_cdc,
        )

        path = os.path.join(self.work, "preload.json")
        with self.r.aside():
            with open(path, "w") as f:
                for row in self.plan.preload:
                    f.write(gen.envelope("INSERT", row) + "\n")
            self.model.upsert_batch(self.plan.preload)
        create_transactions_table(self.wh, NS, TABLE)
        raw = self.spark.read.text(path)
        self.wh.insert(NS, TABLE, good_rows(parse_cdc(raw)))

    def check_pass(self) -> None:
        """Nothing to do: every operation is checked as it runs."""

    def _span(self, name: str):
        tr = self.r.tracer
        return tr.span(name) if tr is not None else contextlib.nullcontext()

    # -- operations ------------------------------------------------------

    def _cdc_batch(self, lines: list[str], expect: dict) -> None:
        from sample_for_transactional_datalake_using_s3tables_spark.streaming.cdc import (
            stream_cdc_to_table,
        )

        self.n_files += 1
        name = f"batch_{self.n_files:05d}.json"
        staged = os.path.join(self.stage, name)
        with self.r.aside():
            with open(staged, "w") as f:
                f.write("\n".join(lines) + "\n")
        upserts = expect["upserts"]
        pt_min = min(int(r["processing_timestamp"]) for r in upserts)

        def op():
            os.rename(staged, os.path.join(self.src, name))  # the landing
            q = stream_cdc_to_table(
                self.spark, self.src, self.wh, self.ckpt, NS, TABLE,
                strategy="mor",
            )
            try:
                if not q.awaitTermination(120):
                    raise TimeoutError("availableNow run did not finish")
            finally:
                q.stop()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            with self._span("cdc.readback"):
                return self.wh.read(
                    NS, TABLE, predicates=[("processing_timestamp", ">=", pt_min)]
                ).select("transaction_id", "processing_timestamp").collect()

        got = self.r.timed("cdc_batch", op, rows=len(lines))
        if got is not None:
            self.r.sample("commit_to_queryable_s", self.r.last_wall)
            self.r.sample("cdc.rows_in", len(lines))
            self.r.sample("cdc.rows_quarantined", expect["malformed"])
        self.records += len(lines)
        self.malformed += expect["malformed"]
        with self.r.aside():
            self.model.upsert_batch(upserts)
            if got is None:
                return
            want = {}
            for row in sorted(upserts, key=lambda r: int(r["processing_timestamp"])):
                want[row["transaction_id"]] = int(row["processing_timestamp"])
            self.r.check("cdc_batch", dict(map(tuple, got)) == want,
                         f"batch {self.n_files} not visible at read-back")

    def _model_table(self) -> pa.Table:
        snap = self.model.snapshot()
        return pa.table({
            "transaction_id": pa.array([r["transaction_id"] for r in snap], pa.string()),
            "customer_id": pa.array([r["customer_id"] for r in snap], pa.string()),
            "date": pa.array([r["date"] for r in snap], pa.date32()),
            "transaction_type": pa.array([r["transaction_type"] for r in snap], pa.string()),
            "amount": pa.array([r["amount"] for r in snap], pa.decimal128(12, 2)),
            "status": pa.array([r["status"] for r in snap], pa.string()),
            "processing_timestamp": pa.array(
                [r["processing_timestamp"] for r in snap], pa.int64()),
        })

    def _duck(self, sql: str) -> list[tuple]:
        t = self._model_table()  # noqa: F841 -- scanned by name below
        return _rows(self.duck.execute(
            sql.replace(FQ, "t")).fetchall())

    def _read(self, kind: str, sql: str) -> None:
        got = self.r.timed(kind, lambda: self.sql.execute(sql).collect())
        if got is not None:
            with self.r.aside():
                self.r.check(kind, _rows(got) == self._duck(sql),
                             f"{kind} differs from DuckDB over the model")

    def _delete(self, cust: str, day: str) -> None:
        stmt = f"DELETE FROM {FQ} WHERE customer_id = '{cust}' AND date = DATE '{day}'"
        res = self.r.timed("delete", lambda: self.sql.execute(stmt, strategy="mor-pos"))
        with self.r.aside():
            n = self.model.delete(cust, day)
        if res is not None:
            self.r.check("delete", res.get("deleted_rows") == n,
                         f"DELETE removed {res.get('deleted_rows')} rows, model {n}")

    def round(self, inputs: dict) -> None:
        newest = gen.DAY0 + dt.timedelta(days=gen.DAYS - 1)
        self._cdc_batch(*inputs["batch"])
        self._read("q_agg", _agg_sql(
            (newest - dt.timedelta(days=2)).isoformat(), newest.isoformat()))
        self._delete(*inputs["delete"])
        self.r.timed("maintain", lambda: self.wh.auto_maintain(NS, TABLE))

    def rounds(self):
        while True:
            yield self.plan.next_round()

    # -- end of run --------------------------------------------------------

    def final_check(self) -> None:
        from sample_for_transactional_datalake_using_s3tables_spark.streaming.cdc import (
            TRANSACTIONS_SCHEMA,
        )

        cols = [f.name for f in TRANSACTIONS_SCHEMA.fields]
        got = self.wh.read(NS, TABLE).select(*cols).collect()
        want = [tuple(r[c] for c in cols) for r in self.model.snapshot()]
        self.r.check("final", _rows(got) == _rows(want),
                     "final table differs from the key model")
        n_bad = (self.wh.read(NS, "transactions_errors").count()
                 if self.malformed else 0)
        self.r.check("final", n_bad == self.malformed,
                     f"quarantine holds {n_bad} rows, model {self.malformed}")

    def storage(self) -> dict:
        """Live data plus delete-file bytes, from the current manifest."""
        tdir = self.wh._table_dir(NS, TABLE)
        doc = self.wh._manifest_doc(tdir, self.wh.current_version(NS, TABLE))
        data = sum(e.get("bytes", 0) for e in doc["files"])
        dels = sum(d.get("bytes", 0) for d in doc.get("deletes") or [])
        return {"bytes": data + dels, "rows": len(self.model.rows)}
