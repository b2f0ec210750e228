"""The benchmark's workloads.

A workload generates its inputs before Spark starts (``prepare``), then
yields cycles of steps. A step is one call a user of the program makes:
a pipeline load, or a registered query built and collected to the
driver. Output checks run outside the timed region; each counts as an
attempted operation.
"""

from __future__ import annotations

import hashlib
import os
import sys
from collections.abc import Callable
from dataclasses import dataclass

import duckdb

import gen

RUN_TS_FULL = "2024-01-01 00:00:00"
RUN_TS_INCR = "2024-01-02 00:00:00"


@dataclass
class Step:
    kind: str  # etl_daily: full / incremental; curation: cold / shared
    name: str
    run: Callable  # (ctx) -> result
    check: Callable  # (result, checks) -> None
    clear_before: bool = False  # drop session caches first (untimed)
    pairable: bool = True  # traced run: also run untraced, for the overhead


class Checks:
    """Output checks; a failed check counts as a failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)


def initcap(s: str) -> str:
    """Spark's ``initcap(trim(s))`` (the program's category cleaning)."""
    return " ".join(w[:1].upper() + w[1:].lower() for w in s.strip().split(" "))


# ---------------------------------------------------------------------------
# etl_daily
# ---------------------------------------------------------------------------
class EtlDaily:
    """The reference's daily job: a full ``run_pipeline`` load into a
    fresh database, then an incremental load of a seeded change set
    into the same database."""

    name = "etl_daily"
    N_ROWS = 20_000
    N_PRODUCTS = 200
    SPAN_DAYS = 31

    def __init__(self, work: str, seed: int):
        self.dir = os.path.join(work, "retail")
        self.seed = seed
        self.spark = None
        self.expected: dict = {}
        self.changes: dict = {}
        self.scd2_counts: dict[str, tuple[int, int]] = {}
        self._checked = False

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def prepare(self) -> None:
        self.changes = gen.write_retail(self.dir, self.seed, self.N_ROWS, self.N_PRODUCTS, self.SPAN_DAYS)
        self.expected = self._duck_expectations()

    def input_bytes(self, kind: str) -> int:
        files = ("sales_incr.csv", "products_incr.json") if kind == "incremental" else ("sales.csv", "products.json")
        return sum(os.path.getsize(self.path(f)) for f in files)

    def _duck_expectations(self) -> dict:
        """Gate counts, revenue and SCD2 changes each load must produce,
        from DuckDB over the generated files and the program's cleaning
        rules: a parseable date, quantity > 0, total recomputed."""
        con = duckdb.connect()
        api_cats = {initcap(c) for c in gen.API_CATEGORIES}
        n_prod = self.changes["n_products"]
        out: dict = {}
        for kind, csv in (("full", "sales.csv"), ("incremental", "sales_incr.csv")):
            con.execute(
                f"""CREATE VIEW v_{kind} AS
                SELECT "Customer ID" AS cust, TRY_CAST("Date" AS DATE) AS d,
                       "Product Category" AS cat, "Quantity" * "Price per Unit" AS rev
                FROM read_csv('{self.path(csv)}', header = true, types = {{'Date': 'VARCHAR'}})
                WHERE TRY_CAST("Date" AS DATE) IS NOT NULL AND "Quantity" > 0"""
            )
            stg, custs, months, rev, days = con.execute(
                f"""SELECT count(*), count(DISTINCT cust), count(DISTINCT date_trunc('month', d)),
                           sum(rev)::DECIMAL(18,2),
                           date_diff('day', make_date(year(min(d)), 1, 1),
                                     make_date(year(max(d)), 12, 31)) + 1
                    FROM v_{kind}"""
            ).fetchone()
            cats = {initcap(r[0]) for r in con.execute(f"SELECT DISTINCT cat FROM v_{kind}").fetchall()}
            out[kind] = {
                "stg_retail_sales": stg,
                "stg_api_products": n_prod,
                "dim_date": days,
                "dim_customer": custs,
                "dim_product": n_prod,
                "dim_product_category": len(cats | api_cats),
                "fact_sales": stg,
                "mart_sales_performance": months,
                "mart_category_analysis": len(cats),
            }
        stored = {r[0] for r in con.execute("SELECT DISTINCT cust FROM v_full").fetchall()}
        arriving = {r[0] for r in con.execute("SELECT DISTINCT cust FROM v_incremental").fetchall()}
        changed = len(set(self.changes["changed_customers"]) & stored)
        new = len(arriving - stored)
        repriced = len(self.changes["repriced_products"])
        out["scd2"] = {"customer": (changed, changed + new), "product": (repriced, repriced)}
        out["incremental"]["dim_customer"] = out["full"]["dim_customer"] + changed + new
        out["incremental"]["dim_product"] = n_prod + repriced
        # dynamic partition overwrite: the change set replaces the days it touches
        out["revenue_after_incremental"] = con.execute(
            """SELECT CAST((SELECT coalesce(sum(rev), 0) FROM v_full
                            WHERE d NOT IN (SELECT d FROM v_incremental))
                         + (SELECT sum(rev) FROM v_incremental) AS DECIMAL(18,2))"""
        ).fetchone()[0]
        con.close()
        return out

    def cycle(self, k: int) -> list[Step]:
        from _multi_source_retail_data_integration_hub_spark.plans.pipeline import run_pipeline
        from _multi_source_retail_data_integration_hub_spark.sources import retail as R

        spark = self.spark

        def load(kind: str):
            incr = kind == "incremental"
            ts = RUN_TS_INCR if incr else RUN_TS_FULL

            def run(ctx):
                sales = R.read_retail_sales_csv(spark, self.path("sales_incr.csv" if incr else "sales.csv"), ts)
                products = R.read_products_json(spark, self.path("products_incr.json" if incr else "products.json"), ts)
                cats = R.categories_from_list(spark, gen.API_CATEGORIES)
                ctx.attrs["input_bytes"] = self.input_bytes(kind)
                return run_pipeline(
                    spark, sales, products, cats, database=self.database(k, ctx.lane),
                    run_ts=ts, incremental=incr,
                )

            def check(result, checks: Checks) -> None:
                want = self.expected[kind]
                got = {t: result.counts.get(t) for t in want}
                checks.expect(got == want, f"{kind} load gate counts {got} != {want}")

            return Step(kind, kind, run, check)

        return [load("full"), load("incremental")]

    @staticmethod
    def database(k: int, lane: int) -> str:
        return f"bench_dw_{k}_{lane}"

    def after_cycle(self, k: int, lanes: list[int], checks: Checks) -> None:
        """Once per run: revenue and SCD2 expiry/insert counts read back
        from the stored warehouse. Then drop the cycle's databases."""
        spark = self.spark
        if not self._checked:
            self._checked = True
            db = self.database(k, lanes[0])
            rev = spark.sql(
                f"SELECT CAST(sum(CAST(total_amount AS DECIMAL(18,2))) AS STRING) FROM {db}.fact_sales"
            ).first()[0]
            want = self.expected["revenue_after_incremental"]
            checks.expect(str(rev) == str(want), f"fact_sales revenue {rev} != {want}")
            for dim, key in (("dim_customer", "customer"), ("dim_product", "product")):
                row = spark.sql(
                    f"""SELECT count_if(NOT is_current),
                               count_if(effective_start_date = TIMESTAMP'{RUN_TS_INCR}')
                        FROM {db}.{dim}"""
                ).first()
                self.scd2_counts[key] = (row[0], row[1])
                want = self.expected["scd2"][key]
                checks.expect(self.scd2_counts[key] == want, f"{dim} scd2 expired/inserted {tuple(row)} != {want}")
        for lane in lanes:
            spark.sql(f"DROP DATABASE IF EXISTS {self.database(k, lane)} CASCADE")

    def finish(self, checks: Checks) -> None:
        pass


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------
def frame_hash(pdf) -> str:
    """Order-insensitive content hash of a collected result."""
    s = pdf.reindex(sorted(pdf.columns), axis=1).astype(str)
    rows = sorted(map(tuple, s.itertuples(index=False)))
    return hashlib.sha256(repr((list(s.columns), rows)).encode()).hexdigest()


class Curation:
    """LLM-data queries that share session tables: a cold pass (session
    caches cleared before each query), then a shared pass (cleared once
    at its start). Every result is collected to the driver."""

    name = "curation"
    N_DOCS = 200
    QUERIES = ("q23", "q24", "q47", "q122", "q26", "q185")
    # a streaming ingest shares nothing with the other queries, so the
    # shared pass would repeat its cold run: it runs in the cold pass only
    STREAMING = ("q185",)

    def __init__(self, work: str, seed: int):
        self.dir = os.path.join(work, "tables")
        self.seed = seed
        self.spark = None
        self.first: dict[str, object] = {}
        self.hashes: dict[str, str] = {}

    def prepare(self) -> None:
        gen.write_corpus(self.dir, self.seed, self.N_DOCS)

    def cycle(self, k: int) -> list[Step]:
        import __spark_entry__ as entry

        registry = entry.queries()
        spark = self.spark
        steps = []
        for kind in ("cold", "shared"):
            names = self.QUERIES if kind == "cold" else [q for q in self.QUERIES if q not in self.STREAMING]
            for i, short in enumerate(names):
                full = next(n for n in registry if n.split("_")[0] == short)

                def run(ctx, fn=registry[full], short=short):
                    with ctx.tracer.span(short, "query.build"):
                        df = fn(spark, self.dir)
                    if ctx.tracer.enabled:
                        ctx.attrs.update(plan_stats(df))
                    with ctx.tracer.span(short, "query.exec"):
                        return df.toPandas()

                def check(pdf, checks: Checks, short=short):
                    h = frame_hash(pdf)
                    if short not in self.hashes:
                        self.hashes[short] = h
                        self.first[short] = pdf
                    else:
                        checks.expect(h == self.hashes[short], f"{short}: result differs between repeats")

                steps.append(Step(
                    kind, short, run, check,
                    clear_before=kind == "cold" or i == 0,
                    pairable=kind == "cold",
                ))
        return steps

    def after_cycle(self, k: int, lanes: list[int], checks: Checks) -> None:
        pass

    def finish(self, checks: Checks) -> None:
        """Each query's first result against its DuckDB oracle twin."""
        import __spark_entry__ as entry
        from check_oracle import compare, duck_connection

        oracles = entry.oracle_sql()
        full = {n.split("_")[0]: n for n in entry.queries()}
        con = duck_connection(self.dir)
        for short, pdf in self.first.items():
            problems = compare(pdf, con.execute(oracles[full[short]]).fetchdf())
            checks.expect(not problems, f"{short} vs oracle: {problems}")
        con.close()


_PY_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow", "PythonMapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow",
    "AggregateInPandas", "WindowInPandas", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
)


def plan_stats(df) -> dict:
    """Catalyst phase times and physical-plan node counts of a built
    query, forcing ``executedPlan`` on its own QueryExecution."""
    import re

    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    plan_s = sum(
        phases.apply(p).durationMs() for p in ("analysis", "optimization", "planning") if phases.contains(p)
    ) / 1e3
    return {
        "plan_s": plan_s,
        "exchanges": len(re.findall(r"\b(?:Broadcast)?Exchange\b", plan)),
        "python_eval_nodes": len(re.findall(r"\b(?:%s)\b" % "|".join(_PY_NODES), plan)),
    }


WORKLOADS = {"etl_daily": EtlDaily, "curation": Curation}
