"""``headline_queries``: the engine's headline operator queries, read-only.

The queries of the engine's operator registry (``operators.all_queries``)
named in :data:`QUERIES` run over the seeded star tables in a fixed
cyclic order, each to the noop sink. No warehouse or streaming code
runs.

Correctness: each query is collected once during set-up and compared,
by column names, row count and order-insensitive values, with its
DuckDB twin from ``operators.all_oracles`` over the same parquet files.
A query whose check fails counts every timed run of it as failed.

Warm-up: the check pass runs every query once, cold, before the clock
starts (README.md, "JIT still warming").
"""

from __future__ import annotations

import datetime as dt
import os
import sys
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

import gen

# The subset of the engine's 20 headline queries that fits a run (see
# README.md, "Headline subset"): one or more per operator family, and
# the three queries the roadmap names (asof_join, text_token_stats,
# dedup_minhash_lsh).
QUERIES = (
    "pricing_summary",
    "revenue_by_region",
    "topk",
    "count_distinct",
    "window_tumbling",
    "window_session",
    "asof_join",
    "range_join",
    "text_token_stats",
    "dedup_minhash_lsh",
)

def _canon_column(col: pd.Series) -> pd.Series:
    """One result column in a form both engines agree on: numbers and
    decimals as float64, dates and timestamps as naive datetime64,
    everything else as text (nulls stay null)."""
    if isinstance(col.dtype, pd.DatetimeTZDtype):
        return col.dt.tz_localize(None).astype("datetime64[ns]")
    if pd.api.types.is_datetime64_any_dtype(col):
        return col.astype("datetime64[ns]")
    if pd.api.types.is_bool_dtype(col) or pd.api.types.is_numeric_dtype(col):
        return col.astype("float64")
    first = col.dropna()
    first = first.iloc[0] if len(first) else None
    if isinstance(first, (Decimal, int, float)):
        return col.astype("float64")
    if isinstance(first, (dt.date, dt.datetime)):
        return pd.to_datetime(col).astype("datetime64[ns]")
    return col.map(lambda v: None if v is None else str(v))


def _sort_key(col: pd.Series) -> pd.Series:
    """Fractional floats rounded to 6 significant digits, so float noise
    between the engines does not reorder rows. Whole numbers (integer
    columns included) sort as they are."""
    if col.dtype != "float64":
        return col
    x = col.to_numpy()
    if np.array_equal(x[np.isfinite(x)], np.round(x[np.isfinite(x)])):
        return col
    with np.errstate(divide="ignore", invalid="ignore"):
        scale = 10.0 ** (5 - np.floor(np.log10(np.abs(x))))
        r = np.where(np.isfinite(scale), np.round(x * scale) / scale, x)
    return pd.Series(r, index=col.index)


def frames_equal(spark_pdf, duck_pdf) -> tuple[bool, str]:
    """Same column names, row count and rows in any order; floats equal
    to a relative 1e-9."""
    cols = sorted(spark_pdf.columns)
    if cols != sorted(duck_pdf.columns):
        return False, f"columns {cols} vs {sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return False, f"rows {len(spark_pdf)} vs {len(duck_pdf)}"

    def canon(pdf):
        c = pd.DataFrame({n: _canon_column(pdf[n]) for n in cols})
        keys = pd.DataFrame({n: _sort_key(c[n]) for n in cols})
        order = keys.sort_values(cols, kind="mergesort", na_position="first").index
        return c.loc[order].reset_index(drop=True)

    a, b = canon(spark_pdf), canon(duck_pdf)
    for n in cols:
        x, y = a[n], b[n]
        if x.dtype == "float64" and y.dtype == "float64":
            same = np.isclose(x.to_numpy(), y.to_numpy(), rtol=1e-9, atol=1e-9,
                              equal_nan=True)
        else:
            same = ((x == y) | (x.isna() & y.isna())).to_numpy()
        if not same.all():
            i = int(np.argmin(same))
            return False, f"{n}, row {i}: {x.iloc[i]!r} vs {y.iloc[i]!r}"
    return True, ""


class HeadlineQueries:
    name = "headline_queries"
    write_kinds = ()
    warmup_rounds = 0

    def __init__(self, runner, spark, work: str, seed: int):
        from sample_for_transactional_datalake_using_s3tables_spark.operators import (
            all_oracles,
            all_queries,
        )

        self.r = runner
        self.spark = spark
        self.dir = os.path.join(work, "star")
        self.seed = seed
        reg = all_queries()
        self.queries = {n: reg[n] for n in QUERIES}
        self.oracles = all_oracles()
        self.bad: set[str] = set()

    def preload(self) -> None:
        with self.r.aside():
            gen.write_star_tables(self.dir, self.seed)

    def check_pass(self) -> None:
        """Collect every query once and compare with its DuckDB twin. The
        collect is the first, cold run of each query shape."""
        with self.r.aside():
            con = duckdb.connect()
            for t in gen.STAR_TABLES:
                path = os.path.join(self.dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for n, q in self.queries.items():
            got = q(self.spark, self.dir).toPandas()
            with self.r.aside():
                ok, why = frames_equal(got, con.sql(self.oracles[n]).df())
            if not ok:
                # every timed run of this query counts as failed
                self.bad.add(n)
                print(f"# check failed: {n}: {why}", file=sys.stderr)
        con.close()

    def run_query(self, n: str) -> None:
        q = self.queries[n]
        if self.r.tracer is None:
            self.r.timed(n, lambda: q(self.spark, self.dir)
                         .write.format("noop").mode("overwrite").save(),
                         failed=n in self.bad)
            return
        tr = self.r.tracer

        def op():
            with tr.span("operators.build"):
                df = q(self.spark, self.dir)
            with tr.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("spark.execute"):
                df.write.format("noop").mode("overwrite").save()

        self.r.timed(n, op, failed=n in self.bad)

    def round(self, _inputs) -> None:
        for n in QUERIES:
            self.run_query(n)

    def rounds(self):
        while True:
            yield None

    def final_check(self) -> None:
        pass
