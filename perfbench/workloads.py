"""The benchmark's workloads. Each one builds its inputs from the seed,
warms up and checks outputs during set-up, then runs one operation at a
time (closed loop, one client) while the runner times each operation.

A workload provides:
  setup(ctx)        inputs, oracle answers, untimed warm-up
  labels()          the endless sequence of operation labels
  prepare(i, label) untimed per-operation preparation; returns its argument
  run(i, label, a)  the timed operation
  probe(i)          extra layer measurements for traced operations
  check(done)       indices of the operations whose outputs were wrong
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys
import time

import duckdb

import gen
from stats import result_hash

DASHBOARD = [
    "a01_group_count", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue", "q10_returned_items",
    "q17_small_qty_revenue", "w03_running_sum", "g04_pivot", "j02_inner_equi",
    "t03_topk_words", "io13_partition_pruned_read", "a13_grouped_quantiles",
    "w12_retention_cohorts", "a10_funnel_stages",
]
INGEST = [
    "st10_keyed_upsert", "st11_incremental_resume", "st12_stream_quarantine",
    "io14_merge_upsert", "io15_snapshot_read", "io08_dynamic_partition_overwrite",
    "io07_compaction", "st09_stream_stream_join",
]
RECIPE = "pl04_data_recipe"
# Pipeline passes in one process settle by the third (first pass about
# twice the steady time, second still slower), so two are run untimed.
WARMUP_PASSES = 2


def oracle_hashes(data_dir: str, names: list[str], registry) -> dict[str, str]:
    """Run each query's DuckDB oracle twin over the same parquet files."""
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
        out = {}
        for name in names:
            cur = con.execute(registry[name].oracle)
            out[name] = result_hash([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def spark_hash(df) -> str:
    return result_hash(df.columns, [tuple(r) for r in df.collect()])


class Ctx:
    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer


class Workload:
    name = ""
    why = ""

    def setup(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def prepare(self, i: int, label: str):
        return None

    def probe(self, i: int) -> None:
        pass


class RegistryMix(Workload):
    """Rounds of registry queries over seeded tables, each forced through
    the noop sink. Results are compared with the DuckDB oracle before the
    timed window (as the warm-up) and, with ``recheck``, again after it:
    write operations change what they write to, so their results are
    checked once more after they have run many times."""

    def __init__(self, name: str, why: str, queries: list[str], recheck: bool) -> None:
        self.name, self.why, self.queries, self.recheck = name, why, queries, recheck

    def setup(self, ctx: Ctx) -> None:
        from customer_review__etl_spark import plans

        super().setup(ctx)
        self.data = os.path.join(ctx.work, "data")
        gen.write_tables(self.data, ctx.seed)
        self.registry = plans.all_queries()
        self.expected = oracle_hashes(self.data, self.queries, self.registry)
        self.wrong = self._wrong_now()

    def _wrong_now(self) -> set[str]:
        return {
            q for q in self.queries
            if spark_hash(self.registry[q].fn(self.ctx.spark, self.data)) != self.expected[q]
        }

    def labels(self):
        # Rounds of every query in one fixed order; the seed picks the
        # data. With the order drawn from the seed too, a query's latency
        # depended on how far into the window it ran (the engine still
        # warms over the first rounds): on the same tables the mix p50
        # spread 0.58-0.72 s over six seeds, against 0.57-0.64 s with the
        # order fixed and the tables drawn from the seed.
        return itertools.cycle(self.queries)

    def prepare(self, i: int, label: str):
        return self.data

    def run(self, i: int, label: str, sf_dir) -> None:
        run_plan(self.ctx, self.registry[label].fn, sf_dir)

    def check(self, done: list[tuple[int, str]]) -> set[int]:
        wrong = self.wrong | (self._wrong_now() if self.recheck else set())
        if wrong:
            print(f"{self.name}: results differ from the oracle: {sorted(wrong)}", file=sys.stderr)
        return {i for i, label in done if label in wrong}


def run_plan(ctx: Ctx, fn, sf_dir: str) -> None:
    """Build the plan, (when traced) force physical planning on its own,
    then execute it through the noop sink."""
    tr = ctx.tracer
    with tr.span("plans.build"):
        df = fn(ctx.spark, sf_dir)
    if tr.enabled:
        with tr.span("plans.optimize"):
            df._jdf.queryExecution().executedPlan()
    with tr.span("plans.exec"):
        df.write.format("noop").mode("overwrite").save()


class ReviewEtl(Workload):
    """Repeated passes of the review application over one seeded corpus;
    every pass writes its own outputs and object-store bucket."""

    name = "review_etl"
    why = ("one pipeline pass of the review app: text chain, LDA, 100-tree "
           "forest and all sinks; the only workload where ml and functions lead")

    def setup(self, ctx: Ctx) -> None:
        super().setup(ctx)
        self.data = os.path.join(ctx.work, "docs")
        gen.write_documents(self.data, ctx.seed)
        table, _ = gen.documents_table(ctx.seed, gen.SIZES["documents"])
        kept = gen.kept_docs(table["text"].to_pylist())
        self.expected = {
            "rows_raw": table.num_rows,
            "rows_clean": len(kept),
            "n_test": sum(gen.is_test(i) for i in kept.values()),
        }
        self.results: dict[int, dict] = {}
        warm, took = [], []
        for k in range(WARMUP_PASSES):
            t = time.perf_counter()
            warm.append(self._pass(f"warmup{k}"))
            took.append(time.perf_counter() - t)
        print("review_etl: warm-up passes (s): " + " ".join(f"{x:.2f}" for x in took))
        self.reference = (warm[0]["metrics"]["accuracy"], warm[0]["metrics"]["weighted_f1"])
        self.warm_ok = all(self._pass_ok(w) for w in warm)

    def _pass(self, tag) -> dict:
        from customer_review__etl_spark.app import pipeline as app

        out = os.path.join(self.ctx.work, f"pass_{tag}")
        with self.ctx.tracer.span("app.run_pipeline"):
            return app.run_pipeline(
                self.ctx.spark, self.data, os.path.join(out, "out"),
                bucket_url="file://" + os.path.join(out, "bucket"),
            )

    def labels(self):
        while True:
            yield "pass"

    def run(self, i: int, label: str, arg) -> None:
        self.results[i] = self._pass(i)

    def probe(self, i: int) -> None:
        """Materialize the text chain on its own: clean + tokens."""
        from customer_review__etl_spark.app import pipeline as app
        from customer_review__etl_spark.ml import pipeline as ml
        from customer_review__etl_spark.sources import tables

        with self.ctx.tracer.span("functions.text_chain"):
            docs = tables.load(self.ctx.spark, self.data, "documents")
            ml.with_tokens(app._clean(docs)).write.format("noop").mode("overwrite").save()

    def _pass_ok(self, res: dict) -> bool:
        problem = self._problem(res)
        if problem:
            print(f"review_etl: wrong pass output: {problem}", file=sys.stderr)
        return not problem

    def _problem(self, res: dict) -> str:
        import pyarrow.parquet as pq

        m = res["metrics"]
        for k, v in self.expected.items():
            if m[k] != v:
                return f"{k} = {m[k]}, expected {v}"
        if (m["accuracy"], m["weighted_f1"]) != self.reference:
            return f"accuracy/F1 {m['accuracy']}/{m['weighted_f1']} != warm-up {self.reference}"
        if pq.read_table(res["processed_path"]).num_rows != m["rows_clean"]:
            return "processed parquet row count differs from rows_clean"
        with open(res["metrics_path"]) as f:
            if json.load(f) != m:
                return "metrics JSON differs from the returned metrics"
        store = res.get("store_locations", {})
        if not all(k in store for k in ("processed_data", "metrics", "models")):
            return f"store manifest incomplete: {sorted(store)}"
        return ""

    def check(self, done: list[tuple[int, str]]) -> set[int]:
        return {
            i for i, _ in done
            if not self.warm_ok or i not in self.results or not self._pass_ok(self.results[i])
        }


class DedupRecipe(Workload):
    """Cold passes of the data recipe: every pass reads a fresh copy of
    the seeded corpus at a new path, so every landing is paid again."""

    name = "dedup_recipe"
    why = ("cold dedup/decontaminate/quality recipe on a fresh corpus path each "
           "pass: shuffle- and landing-heavy (scratch, dedupplans, textplans)")

    def setup(self, ctx: Ctx) -> None:
        from customer_review__etl_spark import plans

        super().setup(ctx)
        self.corpus = os.path.join(ctx.work, "corpus")
        gen.write_documents(self.corpus, ctx.seed)
        self.registry = plans.all_queries()
        self.expected = oracle_hashes(self.corpus, [RECIPE], self.registry)[RECIPE]
        warm = self.prepare("warmup", RECIPE)
        self.warm_ok = spark_hash(self.registry[RECIPE].fn(ctx.spark, warm)) == self.expected
        self.dirs: dict[int, str] = {}

    def labels(self):
        while True:
            yield RECIPE

    def prepare(self, i, label: str) -> str:
        d = os.path.join(self.ctx.work, f"pass_{i}")
        os.makedirs(d)
        shutil.copy(os.path.join(self.corpus, "documents.parquet"), d)
        if isinstance(i, int):
            self.dirs[i] = d
        return d

    def run(self, i: int, label: str, sf_dir: str) -> None:
        run_plan(self.ctx, self.registry[RECIPE].fn, sf_dir)

    def check(self, done: list[tuple[int, str]]) -> set[int]:
        # Re-reading a pass's path returns its landed intermediates, so
        # this checks what each timed pass left behind.
        return {
            i for i, _ in done
            if not self.warm_ok
            or spark_hash(self.registry[RECIPE].fn(self.ctx.spark, self.dirs[i])) != self.expected
        }


WORKLOADS = {
    w.name: w
    for w in (
        ReviewEtl(),
        RegistryMix(
            "dashboard_mix",
            "short analytic queries over star-schema tables; per-query fixed "
            "costs dominate and ml and scratch are bypassed",
            DASHBOARD,
            recheck=False,
        ),
        DedupRecipe(),
        RegistryMix(
            "ingest_upsert",
            "write operations (upserts, merges, compaction, streaming "
            "micro-batches); sources write side and streaming",
            INGEST,
            recheck=True,
        ),
    )
}
