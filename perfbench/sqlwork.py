"""sql_interactive: seeded reference-dialect statements through the
REPL's own call sequence (rewrite -> spark.sql -> take(cap+1) ->
qualified_headers -> ascii_table), against the parquet views and a
reference-style CSV database, checked against DuckDB."""

from __future__ import annotations

import contextlib
import os
import signal
import subprocess
import sys
import time

import numpy as np

from perfbench import datagen
from perfbench.check import same_rows
from perfbench.tracing import JobStats, median, plan_phases_ms, tail

CAP = 100_000  # the REPL's row cap
PASS_SIZE = 32
N_PASSES = 2  # 64 statements: the tail is p84.4
# every statement runs once per round, in a seeded order; its latency
# is the median (for two rounds, the mean) of its rounds
ROUNDS = 2
OPS = ("=", "<", ">", "<=", ">=", "!=")
LAYER_SPANS = ("plans.rewrite", "plans.sql", "exec.fetch", "format.headers",
               "format.render")
LAYERS = tuple(f"{name}_ms" for name in LAYER_SPANS) + (
    "plans.optimize_ms", "plans.physical_ms", "exec.jobs_per_op",
    "exec.tasks_per_op")


def _stmt(sql, duck=None, catalog="parquet", error=False):
    return {"sql": sql, "duck": duck if duck is not None else sql,
            "catalog": catalog, "error": error}


def _families(rng, csv_db):
    """One generator per statement shape; each returns a statement.

    Tables and shapes rotate in a fixed order (``turn``) so every pass
    does the same kinds of work; the seed picks constants, comparators,
    aggregates and columns (``pick``)."""
    pick = lambda xs: xs[int(rng.integers(0, len(xs)))]  # noqa: E731
    turns = {}

    def turn(key, xs):
        turns[key] = turns.get(key, -1) + 1
        return xs[turns[key] % len(xs)]
    t1 = csv_db["table1"]["rows"]
    t3 = csv_db["table3"]["rows"]

    def star():
        return _stmt(f"select * from {turn('star', ['nation', 'region', 'supplier'])}")

    def agg():
        t, cols, fcol, lo, hi = turn("agg", [
            ("orders", ["o_totalprice", "o_custkey", "o_orderkey"],
             "o_orderkey", 0, 15000),
            ("customer", ["c_acctbal", "c_nationkey"], "c_custkey", 0, 1500),
            ("lineitem", ["l_quantity", "l_discount", "l_extendedprice"],
             "l_quantity", 1, 51),
            ("part", ["p_size", "p_retailprice"], "p_partkey", 0, 2000),
        ])
        a, c, op = pick(["max", "min", "sum", "avg", "count"]), pick(cols), pick(OPS)
        k = int(rng.integers(lo, hi))
        if a == "avg" and rng.random() < 0.3:
            return _stmt(f"select average({c}) from {t} where {fcol} {op} {k}",
                         f"select avg({c}) from {t} where {fcol} {op} {k}")
        return _stmt(f"select {a}({c}) from {t} where {fcol} {op} {k}")

    def proj():
        k = int(rng.integers(0, 14800))
        x = int(rng.integers(1000, 500000))
        return _stmt("select o_orderkey, o_custkey, o_totalprice from orders"
                     f" where o_orderkey >= {k} and o_orderkey < {k + 150}"
                     f" and o_totalprice {pick(OPS[1:])} {x}")

    def either():
        a, b = int(rng.integers(0, 1500)), int(rng.integers(0, 25))
        return _stmt("select c_custkey, c_nationkey from customer"
                     f" where c_custkey = {a} OR c_nationkey = {b}")

    def distinct():
        if turn("distinct", [True, False]):
            q, op = int(rng.integers(1, 51)), pick(OPS)
            return _stmt(
                f"select distinct(l_linenumber) from lineitem where l_quantity {op} {q}",
                f"select distinct l_linenumber from lineitem where l_quantity {op} {q}")
        x, op = int(rng.integers(-999, 9999)), pick(OPS[1:])
        return _stmt(
            f"select distinct(c_nationkey) from customer where c_acctbal {op} {x}",
            f"select distinct c_nationkey from customer where c_acctbal {op} {x}")

    def join():
        k = int(rng.integers(0, 1485))
        return _stmt("select c_custkey, o_orderkey, o_totalprice from customer, orders"
                     f" where c_custkey = o_custkey and c_custkey >= {k}"
                     f" and c_custkey < {k + 15}")

    def cross():
        return _stmt("select n_nationkey, r_regionkey from nation, region"
                     f" where n_nationkey {pick(OPS)} {int(rng.integers(0, 25))}")

    def nation_region():
        return _stmt("select n_name, r_name from nation, region"
                     f" where n_regionkey = r_regionkey and r_regionkey"
                     f" {pick(OPS)} {int(rng.integers(0, 5))}")

    def same_table():
        return _stmt(f"select p_partkey, p_size from part where p_size {pick(OPS)} p_partkey"
                     f" and p_partkey < {int(rng.integers(10, 120))}")

    def shouty():
        k = int(rng.integers(0, 15000))
        return _stmt(f"SELECT MAX(o_totalprice) FROM orders WHERE o_orderkey < {k};",
                     f"SELECT MAX(o_totalprice) FROM orders WHERE o_orderkey < {k}")

    def c_star():
        return _stmt(f"select * from {turn('c_star', ['table1', 'table2'])}", catalog="csv")

    def c_agg():
        t, col = turn("c_agg", [("table3", "A"), ("table3", "C"), ("table4", "A"),
                       ("table4", "E"), ("table1", "C")])
        return _stmt(f"select {pick(['max', 'min', 'sum', 'avg', 'count'])}({col})"
                     f" from {t}", catalog="csv")

    def c_distinct():
        v, op = pick(t3)[0], pick(OPS)
        return _stmt(f"select distinct(C) from table3 where A {op} {v}",
                     f"select distinct C from table3 where A {op} {v}", catalog="csv")

    def c_join():
        if turn("c_join", [True, False]):
            return _stmt("select * from table1, table2 where table1.B = table2.B",
                         catalog="csv")
        v = pick(t1)[0]
        return _stmt("select A, D from table1, table2 where table1.B = table2.B"
                     f" and A {pick(OPS)} {v}", catalog="csv")

    def c_cross():
        return _stmt("select table1.A, table4.E from table1, table4"
                     f" where table4.E {pick(OPS)} {int(rng.integers(0, 20))}",
                     catalog="csv")

    def c_filter():
        r = pick(t1)
        conj = pick(["AND", "OR"])
        return _stmt(f"select A, B from table1 where A {pick(OPS)} {r[0]}"
                     f" {conj} B {pick(OPS)} {r[1]}", catalog="csv")

    def error():
        sql = turn("error", ["select A from table9", "select Z from table1",
                    "select B from table1, table2",
                    "select distinct(A), distinct(B) from table1"])
        return _stmt(sql, catalog="csv", error=True)

    # statements of each shape per pass (sums to PASS_SIZE, 2 errors = 6%)
    return [(star, 2), (agg, 4), (proj, 2), (either, 2), (distinct, 2),
            (join, 3), (cross, 1), (nation_region, 1), (same_table, 1),
            (shouty, 1), (c_star, 1), (c_agg, 3), (c_distinct, 2),
            (c_join, 2), (c_cross, 1), (c_filter, 2), (error, 2)]


def script(seed: int, csv_db: dict, pass_size: int = PASS_SIZE,
           n_passes: int = N_PASSES) -> list[list[dict]]:
    """``n_passes`` passes of the same shape mix, with seeded constants
    and order. A smaller ``pass_size`` keeps a seeded subset."""
    rng = np.random.default_rng([seed, 3])
    passes = []
    for p in range(n_passes):
        stmts = []
        for fam, count in _families(rng, csv_db):
            stmts.extend(fam() for _ in range(count))
        stmts = [stmts[int(i)] for i in rng.permutation(len(stmts))][:pass_size]
        for i, s in enumerate(stmts):
            s["id"] = f"p{p}s{i:02d}"
        passes.append(stmts)
    return passes


def warmup_statements(csv_db: dict) -> list[dict]:
    """One statement of each shape, with fixed constants."""
    return [fam() for fam, _ in _families(np.random.default_rng(0), csv_db)]


class SqlInteractive:
    name = "sql_interactive"
    layers = LAYERS

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf = "sf0.001" if ctx.tiny else "sf0.01"
        self.pass_size = 8 if ctx.tiny else PASS_SIZE

    # -- inputs and oracle (outside setup_s) ------------------------------
    def prepare(self):
        ctx = self.ctx
        self.pq_dir = os.path.join(ctx.data, "parquet")
        self.csv_dir = os.path.join(ctx.data, "csvdb")
        paths = datagen.base_tables(self.pq_dir, self.sf)
        self.csv_db = datagen.csv_database(self.csv_dir, ctx.seed)
        self.passes = script(ctx.seed, self.csv_db, self.pass_size)
        ctx.stamp_inputs(paths, self.csv_dir)
        import duckdb

        self.duck = duckdb.connect()
        for t, p in paths.items():
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for t, spec in self.csv_db.items():
            cols = ", ".join(f"{c} BIGINT" for c in spec["columns"])
            self.duck.execute(f"CREATE TABLE {t} ({cols})")
            marks = ", ".join("?" for _ in spec["columns"])
            self.duck.executemany(f"INSERT INTO {t} VALUES ({marks})", spec["rows"])

    # -- setup ------------------------------------------------------------
    def register(self, spark):
        from minisql_engine_spark.sources import load_csv_database, register_views

        self.tables = sorted(register_views(spark, self.pq_dir))
        load_csv_database(spark, self.csv_dir)

    def warmup(self, spark):
        for st in warmup_statements(self.csv_db):
            self._execute(spark, st)

    # -- one statement, the REPL's sequence -------------------------------
    def _execute(self, spark, st, tr=None):
        from pyspark.errors import AnalysisException, ParseException

        from minisql_engine_spark.format import ascii_table, qualified_headers
        from minisql_engine_spark.plans import rewrite_query
        from minisql_engine_spark.plans.dialect import DialectError

        span = tr.span if tr is not None else (lambda name: contextlib.nullcontext())
        try:
            with span("plans.rewrite"):
                q = rewrite_query(st["sql"])
            with span("plans.sql"):
                df = spark.sql(q)
            with span("exec.fetch"):
                rows = df.take(CAP + 1)
            with span("format.headers"):
                headers = qualified_headers(df)
            with span("format.render"):
                text = ascii_table(headers, rows[:CAP])
            return {"rows": rows[:CAP], "text": text, "df": df}
        except (AnalysisException, ParseException, DialectError) as exc:
            return {"error": str(getattr(exc, "desc", None) or exc)
                    .strip().splitlines()[0]}

    # -- timed section ----------------------------------------------------
    def timed(self, spark):
        ctx, tr = self.ctx, self.ctx.tracer
        sc = spark.sparkContext
        self.results = []  # (statement, outcome, latency_s)
        groups, phases = [], []
        stats = JobStats(spark) if tr.enabled else None
        per_op_jobs, per_op_tasks = [], []
        self.over_cap = []
        stmts = [st for p in self.passes for st in p]
        rng = np.random.default_rng([ctx.seed, 5])
        t_start = time.perf_counter()
        for r in range(ROUNDS):
            for i in rng.permutation(len(stmts)):
                st = stmts[int(i)]
                if time.perf_counter() - t_start > ctx.cap_s:
                    self.over_cap.append(st)
                    continue
                gid = f"{st['id']}r{r}"
                if tr.enabled:
                    sc.setJobGroup(gid, gid)
                with tr.span("op", op=gid):
                    t0 = time.perf_counter()
                    try:
                        out = self._execute(spark, st, tr)
                    except Exception as exc:  # unexpected: a failure
                        out = {"crash": f"{type(exc).__name__}: {exc}"[:300]}
                    dt = time.perf_counter() - t0
                self.results.append((st, out, dt))
                if tr.enabled:
                    with tr.overhead():
                        js = stats.groups([gid])
                        per_op_jobs.append(js["jobs"])
                        per_op_tasks.append(js["tasks"])
                        groups.append(gid)
                        if "df" in out:
                            phases.append(plan_phases_ms(out["df"]))
                out.pop("df", None)
        runs = {}
        for st, _, dt in self.results:
            runs.setdefault(st["id"], []).append(dt)
        lat = [median(v) for v in runs.values()]
        busy = sum(r[2] for r in self.results)
        t, label, n = tail(x * 1000 for x in lat)
        rec = {"wall_s": busy, "ops_per_s": len(self.results) / busy,
               "p50_ms": median(lat) * 1000, "tail_ms": t,
               "tail_pct": label, "samples": n,
               "op_s": busy,
               "op_ms": [[k, [x * 1000 for x in v]] for k, v in runs.items()],
               "timed_wall_s": time.perf_counter() - t_start}
        if tr.enabled:
            n_ops = len(self.results)
            layers = {f"{name}_ms": tr.total(name) * 1000 / n_ops
                      for name in LAYER_SPANS}
            # the tracker counts whole milliseconds: a mean, not a median
            layers["plans.optimize_ms"] = sum(x["optimize"] for x in phases) / len(phases)
            layers["plans.physical_ms"] = sum(x["physical"] for x in phases) / len(phases)
            layers["exec.jobs_per_op"] = sum(per_op_jobs) / n_ops
            layers["exec.tasks_per_op"] = sum(per_op_tasks) / n_ops
            self.groups = groups
            rec["layers"] = layers
        return rec

    def job_groups(self):
        return self.groups

    # -- correctness (outside the timed section) --------------------------
    def check(self):
        cache = {}
        failures = []
        victim = None
        for st, out, _ in self.results:
            reason = None
            if "crash" in out:
                reason = "unexpected exception: " + out["crash"]
            elif st["error"]:
                if "error" not in out:
                    reason = "expected an error, got a result"
            elif "error" in out:
                reason = "unexpected error: " + out["error"]
            else:
                if st["id"] not in cache:
                    cache[st["id"]] = self.duck.execute(st["duck"]).fetchall()
                want = cache[st["id"]]
                if self.ctx.inject_wrong and victim is None:
                    # corrupt the first checked answer only
                    victim = st["id"]
                    want = want + [tuple(-1 for _ in (want[0] if want else (0,)))]
                reason = same_rows([tuple(r) for r in out["rows"]], want)
            if reason:
                failures.append({"op": st["id"], "sql": st["sql"], "reason": reason})
        failures += [{"op": st["id"], "reason": self.ctx.cap_reason} for st in self.over_cap]
        return len(self.results) + len(self.over_cap), failures

    # -- the REPL itself must print what the runner rendered ---------------
    def cli_check(self, env):
        """Feed a sample of first-pass parquet statements to
        ``python -m minisql_engine_spark`` and compare its stdout."""
        ctx = self.ctx
        rendered = {}
        for st, out, _ in self.results:
            if st["catalog"] == "parquet" and st["id"] not in rendered:
                rendered[st["id"]] = (st, out)
        sample = list(rendered.values())[: (4 if ctx.tiny else 10)]
        stdin = "".join(st["sql"] + "\n" for st, _ in sample)
        want = [f"loaded tables: {', '.join(self.tables)}"]
        for st, out in sample:
            want.append(out.get("text", ""))
        proc = subprocess.Popen(
            [sys.executable, "-m", "minisql_engine_spark", "--data-dir", self.pq_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            cwd=ctx.scratch, env=env, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(stdin, timeout=150)
        except subprocess.TimeoutExpired:
            return len(want), [{"op": "cli", "reason": "no answer within 150 s"}]
        finally:
            _stop_group(proc)
        got = stdout.split("SqlEngine> ")
        got = [got[0].rstrip("\n")] + [g.rstrip("\n") for g in got[1:-1]]
        fails = []
        if len(got) != len(want):
            fails.append({"op": "cli", "reason": f"{len(got)} blocks != {len(want)}"})
        for i, (g, w) in enumerate(zip(got, want)):
            # SQL without ORDER BY has no row order: compare line multisets
            if sorted(g.splitlines()) != sorted(w.splitlines()):
                op = sample[i - 1][0]["id"] if i else "cli-banner"
                fails.append({"op": f"cli:{op}", "reason": "stdout differs"})
        return len(want), fails


def _stop_group(proc):
    """Stop the CLI's process group (its JVM included) and wait."""
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # start_new_session: the group id is the CLI's pid
    deadline = time.time() + 30
    with contextlib.suppress(ProcessLookupError):
        os.killpg(proc.pid, signal.SIGKILL)
        while time.time() < deadline:
            os.killpg(proc.pid, 0)  # raises once the group is gone
            time.sleep(0.2)
