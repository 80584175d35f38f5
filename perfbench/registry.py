"""``registry_queries``: one pass over the 14 ``bench.py`` headline queries.

One op builds each ``entry_queries.Q[name](spark, sf_dir)`` plan and collects
its result, in an order the seed permutes. Neither the shared token pass nor
the suite runner runs here, so a suite-only change should move nothing on
this workload.

Set-up writes the tables (``registry_tables.py``) from one fixed seed, so
every run reads the same data and ``--seed`` only permutes the query order.
A warm-up pass (its queries run side by side) then records each query's row
count and an order-independent digest, and checks every query that has an
``entry_queries.ORACLE`` SQL against DuckDB over the same files. Every op must
reproduce the recorded counts and digests.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pandas as pd

from bench import HEADLINE
from lk_data_test_spark import entry_queries

import registry_tables

SF = 0.01
TABLE_SEED = 0
# one-ULP decimal -> double divergence between Spark and DuckDB
TOLERANT = {"pricing_summary": 1e-12}


def _digest(rows) -> tuple[int, str]:
    lines = sorted(repr(tuple(r)) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _same(x, y, rel: float) -> bool:
    if x is None or y is None:
        return x is None and y is None
    if isinstance(x, float) and isinstance(y, float):
        if math.isnan(x) and math.isnan(y):
            return True
        return x == y or (rel > 0 and math.isclose(x, y, rel_tol=rel))
    return x == y or str(x) == str(y)


def _oracle_mismatch(rows, columns, ddf: pd.DataFrame, rel: float) -> str | None:
    """Compare column-name-sorted, row-sorted values (the oracle gate's rule)."""
    sdf = pd.DataFrame([tuple(r) for r in rows], columns=columns)
    if sorted(sdf.columns) != sorted(ddf.columns) or len(sdf) != len(ddf):
        return f"shape {sdf.shape} vs {ddf.shape}"
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols, ignore_index=True)
    b = ddf[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if not _same(x, y, rel):
                return f"{c}[{i}]: {x!r} != {y!r}"
    return None


class RegistryQueries:
    SETUP_BUILDS = 3  # numpy only, ~0.1 s each

    def __init__(self, spark, work_dir: str, seed: int, tracer):
        self.spark = spark
        self.work = work_dir
        self.tr = tracer
        self.order = list(HEADLINE)
        random.Random(seed).shuffle(self.order)
        self.reference: dict[str, tuple[int, str]] = {}
        self.info: dict = {"order": self.order}

    # -- set-up ---------------------------------------------------------------
    def build(self, i: int) -> str:
        d = os.path.join(self.work, f"sf{i}")
        self.table_rows = registry_tables.write_tables(d, TABLE_SEED, SF)
        return d

    def prepare(self, sf_dir: str) -> None:
        self.sf_dir = sf_dir

    def _cold(self, q: str):
        df = entry_queries.Q[q](self.spark, self.sf_dir)
        return df, df.collect()

    def warm_up(self) -> list[str]:
        # the cold pass is set-up, not an op: running its queries side by side
        # overlaps their one-off compile, worker start and ANN training costs
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as ex:
            cold = dict(zip(self.order, ex.map(self._cold, self.order)))
        problems = []
        con = duckdb.connect()
        try:
            for t in registry_tables.TABLES:
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.sf_dir, t + '.parquet')}'"
                )
            self.input_rows = 0
            for q, (df, rows) in cold.items():
                self.reference[q] = _digest(rows)
                self.input_rows += sum(
                    self.table_rows[os.path.basename(f).split(".")[0]]
                    for f in df.inputFiles()
                )
                if q in entry_queries.ORACLE:
                    bad = _oracle_mismatch(
                        rows, df.columns, con.sql(entry_queries.ORACLE[q]).df(),
                        TOLERANT.get(q, 0.0),
                    )
                    if bad:
                        problems.append(f"{q} vs DuckDB oracle: {bad}")
        finally:
            con.close()
        self.info["oracle_checked"] = sum(q in entry_queries.ORACLE for q in self.order)
        self.info["rows"] = {q: n for q, (n, _) in self.reference.items()}
        return problems

    # -- the op -----------------------------------------------------------------
    def op(self, k: int, traced: bool) -> tuple[float, int, list[str]]:
        """One pass; returns (seconds, input rows the pass read, problems).
        The results are checked after the clock stops."""
        tr = self.tr if traced else None
        results = {}
        t0 = time.perf_counter()
        for q in self.order:
            if tr is None:
                results[q] = entry_queries.Q[q](self.spark, self.sf_dir).collect()
            else:
                counts: dict = {}
                with tr.span(f"entry_queries.{q}.build", op=f"op-{k}") as s, tr.spark_work(
                    f"perfbench-op-{k}-{q}", counts
                ):
                    df = entry_queries.Q[q](self.spark, self.sf_dir)
                s["attrs"].update(counts)
                with tr.span(f"entry_queries.{q}.exec", op=f"op-{k}"):
                    results[q] = df.collect()
        wall = time.perf_counter() - t0
        problems = [
            f"{q}: result differs from the warm-up pass"
            for q, rows in results.items()
            if _digest(rows) != self.reference[q]
        ]
        return wall, self.input_rows, problems

    # -- traced probes -------------------------------------------------------------
    def probes(self) -> list[str]:
        path = os.path.join(self.sf_dir, "lineitem.parquet")
        with self.tr.span("probe", op="probe"):
            for _ in range(5):
                with self.tr.span("sources.read_plan"):
                    self.spark.read.parquet(path)
        return []

    # -- per-layer metrics ----------------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        tr = self.tr
        out = {"sources.read_plan_s": statistics.median(tr.durations("sources.read_plan"))}
        repeat = True
        for q in self.order:
            out[f"entry_queries.{q}.build_s"] = statistics.median(
                tr.durations(f"entry_queries.{q}.build")
            )
            out[f"entry_queries.{q}.exec_s"] = statistics.median(
                tr.durations(f"entry_queries.{q}.exec")
            )
            jobs = [n["spark_jobs"] for n in tr.counts(f"entry_queries.{q}.build")]
            out[f"entry_queries.{q}.build_jobs"] = statistics.median(jobs)
            repeat &= all(j == jobs[0] for j in jobs)
        self.info["build_jobs_repeat"] = repeat
        return out
