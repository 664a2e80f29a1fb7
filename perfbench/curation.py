"""Curation: a cold pass over curation entries of the driver contract
(``__spark_entry__.queries()``) in seed-shuffled order. Every operator
cache is cleared before each entry, which is timed as its builder call
plus a noop-sink force, and then checked against its oracle SQL twin."""

from __future__ import annotations

import importlib
import os
import pkgutil
import time

import numpy as np

from perfbench import datagen
from perfbench.check import frame_rows, same_rows
from perfbench.tracing import JobStats, held_rdds, plan_lines

# (entry, layer name: the module that does the entry's work). The
# bm25_retrieval, dedup_minhash_lsh, semantic_dedup and
# llm_curation_funnel entries are left out: their cold runs (about 7 s,
# 6 s, 12 s and 18 s on 4 cores, plus their checks) do not fit the run
# budget.
ENTRIES = (
    ("tpch_q1_pricing_summary", "queries.tpch.q1"),
    ("tpch_q18_large_orders", "queries.tpch.q18"),
    ("pagerank_customer_supplier", "operators.graph.pagerank"),
    ("emb_pq_topk", "operators.pq.emb_pq_topk"),
)
ENTRY_KEYS = ("builder_s", "force_s", "jobs_builder", "jobs_force", "plan_lines",
              "held_rdds")
TOTALS = ("operators.builder_share", "operators.held_rdds_end",
          "operators.held_rdd_bytes_end")
TINY_ENTRIES = ("tpch_q18_large_orders", "pagerank_customer_supplier")
# table handles are what a long-lived session keeps; not an operator cache
KEEP_CACHES = ("clear_table_cache",)


def discover_cache_clears() -> list:
    """Every public ``clear_*cache`` function of the package."""
    import minisql_engine_spark as pkg

    found = {}
    for mod in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".",
                                     onerror=lambda name: None):
        if mod.name.endswith(".__main__"):
            continue
        try:
            m = importlib.import_module(mod.name)
        except Exception:
            continue
        for attr, fn in vars(m).items():
            if (attr.startswith("clear_") and attr.endswith("cache")
                    and callable(fn) and attr not in KEEP_CACHES
                    and getattr(fn, "__module__", None) == m.__name__):
                found[f"{m.__name__}.{attr}"] = fn
    return [found[k] for k in sorted(found)]


class Curation:
    def __init__(self, ctx):
        self.ctx = ctx
        names = TINY_ENTRIES if ctx.tiny else [e for e, _ in ENTRIES]
        self.layer = dict(ENTRIES)
        rng = np.random.default_rng([ctx.seed, 4])
        self.order = [names[int(i)] for i in rng.permutation(len(names))]
        # the per-layer metrics this part produces
        self.layers = tuple(f"{self.layer[n]}.{key}" for n in names
                            for key in ENTRY_KEYS) + TOTALS

    def prepare(self):
        ctx = self.ctx
        self.sf_dir = os.path.join(ctx.data, "parquet")
        paths = datagen.base_tables(self.sf_dir, "sf0.001")
        ctx.stamp_inputs(paths)
        import duckdb

        em = importlib.import_module("__spark_entry__")
        self.fns = {**em.archived_queries(), **em.queries()}
        oracles = {**em.archived_oracle_sql(), **em.oracle_sql()}
        self.oracle = {n: oracles.get(n) for n in self.order}
        self._want = {}
        self.duck = duckdb.connect()
        for t, p in paths.items():
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def register(self, spark):
        from minisql_engine_spark.sources import load_tables

        self.tables = load_tables(spark, self.sf_dir)

    def warmup(self, spark):
        for df in self.tables.values():
            df.count()

    def _clear(self):
        for fn in self.clears:
            fn()

    def timed(self, spark):
        ctx, tr = self.ctx, self.ctx.tracer
        sc = spark.sparkContext
        # some modules need a live session to import
        self.clears = discover_cache_clears()
        ctx.stamp["cache_clears"] = [f"{f.__module__}.{f.__name__}" for f in self.clears]
        ctx.stamp["cache_clears_skipped"] = list(KEEP_CACHES)
        stats = JobStats(spark) if tr.enabled else None
        self.results, self.groups, per_entry = [], [], {}
        t_start = time.perf_counter()
        for name in self.order:
            if time.perf_counter() - t_start > ctx.cap_s:
                self.results.append((name, ctx.cap_reason, 0.0))
                continue
            t0 = time.perf_counter()
            self._clear()
            if tr.enabled:
                with tr.overhead():
                    leak = held_rdds(spark)
                sc.setJobGroup(f"{name}-b", name)
            layer = self.layer[name]
            with tr.span(layer):
                tb = tf = time.perf_counter()
                try:
                    with tr.span(f"{layer}.builder"):
                        df = self.fns[name](spark, self.sf_dir)
                    tf = time.perf_counter()
                    if tr.enabled:
                        sc.setJobGroup(f"{name}-f", name)
                    with tr.span(f"{layer}.force"):
                        df.write.format("noop").mode("overwrite").save()
                    out = {"df": df}
                except Exception as exc:
                    out = {"crash": f"{type(exc).__name__}: {exc}"[:300]}
            t1 = time.perf_counter()
            if tr.enabled:
                with tr.overhead():
                    b = stats.groups([f"{name}-b"])
                    f = stats.groups([f"{name}-f"])
                    held = held_rdds(spark)
                    lines = plan_lines(df) if "crash" not in out else 0
                self.groups += [f"{name}-b", f"{name}-f"]
                per_entry[name] = {
                    "builder_s": tf - tb, "force_s": t1 - tf,
                    "jobs_builder": b["jobs"], "jobs_force": f["jobs"],
                    "plan_lines": lines, "held_rdds": held[0],
                    "held_rdd_bytes": held[1], "leaked_before": leak[0]}
                sc.setJobGroup("check", "check")
            # check now, while the entry still holds its intermediates;
            # the clock is stopped until the next entry starts
            self.results.append((name, self._check(name, out), t1 - t0))
        self._clear()
        lat = [r[2] for r in self.results]
        rec = {"wall_s": sum(lat), "op_s": sum(lat),
               "op_ms": [[r[0], r[2] * 1000] for r in self.results],
               "timed_wall_s": time.perf_counter() - t_start}
        if tr.enabled:
            layers = {f"{self.layer[name]}.{key}": r[key]
                      for name, r in per_entry.items() for key in ENTRY_KEYS}
            builder = sum(r["builder_s"] for r in per_entry.values())
            force = sum(r["force_s"] for r in per_entry.values())
            layers["operators.builder_share"] = builder / (builder + force)
            end = held_rdds(spark)
            layers["operators.held_rdds_end"] = end[0]
            layers["operators.held_rdd_bytes_end"] = end[1]
            rec["layers"] = layers
            rec["per_entry"] = per_entry
        return rec

    def job_groups(self):
        return self.groups

    def _check(self, name, out):
        """None when the entry's rows match its oracle twin, else why."""
        if "crash" in out:
            return "unexpected exception: " + out["crash"]
        sql = self.oracle.get(name)
        if sql is None:
            return "no oracle twin"
        pdf = out["df"].toPandas()
        if name not in self._want:
            self._want[name] = self.duck.execute(sql).fetchdf()
        want = self._want[name]
        if sorted(pdf.columns) != sorted(want.columns):
            return f"columns {sorted(pdf.columns)} != {sorted(want.columns)}"
        want_rows = frame_rows(want)
        if self.ctx.inject_wrong and name == self.order[0]:
            want_rows = want_rows[1:] if want_rows else [("injected",)]
        return same_rows(frame_rows(pdf), want_rows)

    def check(self):
        failures = [{"op": name, "reason": reason}
                    for name, reason, _ in self.results if reason]
        return len(self.results), failures
