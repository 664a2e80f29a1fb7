"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload sql_interactive --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the ``end_to_end`` metrics of BENCHMARK.json, with
``--trace 1`` its ``per_layer`` metrics. Lines before it that start
with ``#`` carry the stamp (versions, input sizes, seed), the
per-operation failures and the set-up breakdown. See
perfbench/README.md for the protocol.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_SETUPS = 3
DRIVER_MEM = "1g"
NO_PERF_DATA = "-XX:-UsePerfData"
# A run does a fixed amount of work: on 4 cores its timed section takes
# about 19 s (sql_interactive) or 35 s (curation_ingest). A timed section
# that passes CAP_FACTOR x --seconds stops, and every operation it did
# not run counts as failed.
CAP_FACTOR = 5
# per-layer metrics every workload produces
COMMON_LAYERS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms", "exec.cpu_ms",
    "exec.gc_ms", "exec.input_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.busy_ratio", "session.start_s",
    "session.cold_start_s", "sources.register_s", "trace.wall_s",
    "trace.overhead_ratio")


class Context:
    def __init__(self, args, scratch):
        from perfbench.tracing import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.cap_s = CAP_FACTOR * args.seconds
        self.cap_reason = f"not run: the timed section passed its {self.cap_s:g} s cap"
        self.tiny = args.tiny
        self.inject_wrong = args.inject_wrong
        self.tracer = Tracer(bool(args.trace))
        self.scratch = scratch
        self.data = os.path.join(scratch, "data")
        self.stamp = {"inputs": {}}

    def stamp_inputs(self, paths: dict, csv_dir: str | None = None):
        import pyarrow.parquet as pq

        for name, p in paths.items():
            self.stamp["inputs"][name] = {
                "bytes": os.path.getsize(p),
                "rows": pq.ParquetFile(p).metadata.num_rows}
        if csv_dir:
            for f in sorted(os.listdir(csv_dir)):
                p = os.path.join(csv_dir, f)
                with open(p) as fh:
                    self.stamp["inputs"][f"csv/{f}"] = {
                        "bytes": os.path.getsize(p), "rows": sum(1 for _ in fh)}


def _workload(name, ctx):
    from perfbench.batch import CurationIngest
    from perfbench.sqlwork import SqlInteractive

    classes = {c.name: c for c in (SqlInteractive, CurationIngest)}
    if name not in classes:
        raise SystemExit(f"unknown workload {name!r}; one of {sorted(classes)}")
    return classes[name](ctx)


def own_layers(workload: str, tiny: bool = False) -> set[str]:
    """The per-layer metrics a traced run of ``workload`` produces."""
    args = argparse.Namespace(seed=0, seconds=1, tiny=tiny, inject_wrong=False,
                              trace=1)
    return set(COMMON_LAYERS) | set(_workload(workload, Context(args, "")).layers)


def _isolate(scratch: str, cores: int) -> dict:
    """Point every temporary, local and warehouse directory of this
    process and its JVM into the run's scratch directory."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cores), "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        # no hsperfdata files in the system temp dir from spark-submit's JVM
        "SPARK_LAUNCHER_OPTS": NO_PERF_DATA,
    })
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {NO_PERF_DATA}",
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    # the same settings for the CLI process the traced sql run starts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
    tempfile.tempdir = tmp
    os.chdir(scratch)
    return conf


def _stop_jvm() -> None:
    """Stop the Spark context, then the JVM, and wait until it has exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs (self-test)")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt one expected answer (self-test)")
    args = ap.parse_args(argv)

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_path):
        print(f"no BENCHMARK.json at {ROOT}", file=sys.stderr)
        return 2
    for need in ("minisql_engine_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"the program is missing: no {need} under {ROOT}", file=sys.stderr)
            return 2
    with open(bench_path) as fh:
        bench = json.load(fh)

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "_work")
    scratch = os.path.join(work, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    sys.path.insert(0, ROOT)
    try:
        conf = _isolate(scratch, cores)
        ctx = Context(args, scratch)
        wl = _workload(args.workload, ctx)
        result = _run(wl, ctx, args, cores, conf, bench)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(scratch, ignore_errors=True)
    if args.trace:
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        with open(os.path.join(work, "traces", f"{args.workload}-s{args.seed}-"
                               f"{int(time.time())}.json"), "w") as fh:
            json.dump({"stamp": ctx.stamp, "detail": result["detail"],
                       "spans": ctx.tracer.spans}, fh)
    for f in result["detail"]["failures"]:
        print("# FAIL " + json.dumps(f))
    print("# stamp " + json.dumps(ctx.stamp, sort_keys=True))
    print("# detail " + json.dumps(result["detail"], sort_keys=True))
    print(json.dumps(result["line"]))
    return 0


def _run(wl, ctx, args, cores, conf, bench) -> dict:
    import duckdb
    import pyspark

    from minisql_engine_spark import get_spark
    from perfbench.tracing import JobStats, jvm_pid, median, vm_hwm_mb

    tr = ctx.tracer
    t0 = time.perf_counter()
    wl.prepare()
    oracle_s = time.perf_counter() - t0

    # set-up, several times: the first launches the JVM, later ones
    # stop the session and build it again in the same JVM
    setups, spark = [], None
    for _ in range(N_SETUPS):
        if spark is not None:
            spark.stop()
        a = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{cores}]",
                          shuffle_partitions=cores, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        b = time.perf_counter()
        wl.register(spark)
        c = time.perf_counter()
        wl.warmup(spark)
        d = time.perf_counter()
        setups.append({"session_s": b - a, "register_s": c - b, "warmup_s": d - c,
                       "total_s": d - a})
    pid = jvm_pid(spark)

    rec = wl.timed(spark)
    rss_mb = vm_hwm_mb(pid)

    layers = rec.pop("layers", {})
    if tr.enabled:
        with tr.overhead():
            ex = JobStats(spark).groups(wl.job_groups())
        busy_s = max(rec["op_s"], 1e-9)
        for k, v in ex.items():
            layers[f"exec.{k}"] = v
        layers["exec.busy_ratio"] = ex["run_ms"] / 1000 / (busy_s * cores)
        layers["trace.wall_s"] = rec["wall_s"]
        layers["trace.overhead_ratio"] = tr.overhead_s / busy_s
    layers["session.start_s"] = median(s["session_s"] for s in setups)
    layers["session.cold_start_s"] = setups[0]["session_s"]
    layers["sources.register_s"] = median(s["register_s"] for s in setups)

    t0 = time.perf_counter()
    attempted, failures = wl.check()
    if tr.enabled and hasattr(wl, "cli_check"):
        n, cli_fail = wl.cli_check(dict(os.environ))
        attempted += n
        failures += cli_fail
    oracle_s += time.perf_counter() - t0

    if tr.enabled:
        own = own_layers(wl.name, args.tiny)
        failures += [{"op": f"trace:{name}", "reason": "per-layer metric not produced"}
                     for name in sorted(own - set(layers))]

    e2e = {"setup_s": median(s["total_s"] for s in setups),
           "wall_s": rec["wall_s"], "ops_per_s": rec["ops_per_s"],
           "p50_ms": rec["p50_ms"], "tail_ms": rec["tail_ms"],
           "jvm_peak_rss_mb": rss_mb}
    jvm = spark.sparkContext._jvm
    ctx.stamp.update({
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "driver_memory": DRIVER_MEM,
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0], "tiny": args.tiny})
    by_op = {}
    for f in failures:
        by_op[f["op"]] = by_op.get(f["op"], 0) + 1
    detail = {
        "error_rate": len(failures) / max(attempted, 1),
        "failures": failures, "failures_by_op": by_op,
        "tail_percentile": rec["tail_pct"], "samples": rec["samples"],
        "timed_wall_s": rec["timed_wall_s"],
        "setups": setups, "oracle_s": oracle_s, "op_ms": rec["op_ms"],
        "end_to_end": e2e,
        **{k: rec[k] for k in ("write_amp", "space_amp") if k in rec},
    }
    if tr.enabled:
        detail["per_layer"] = layers
        detail["tracing_overhead_s"] = tr.overhead_s
        if "per_entry" in rec:
            detail["per_entry"] = rec["per_entry"]
    if tr.enabled:
        spec = bench["per_layer"]
        # 0 for the metrics of the other workload's layers, named here;
        # a missing metric of this workload's own is a failure (above)
        detail["not_measured"] = [m["name"] for m in spec if m["name"] not in own]
        values = {m["name"]: float(layers.get(m["name"], 0.0)) for m in spec}
    else:
        spec = bench["end_to_end"]
        values = {m["name"]: float(e2e[m["name"]]) for m in spec}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    line = {"correct": not failures, "attempted": attempted,
            "failed": len(failures), "metrics": metrics}
    return {"line": line, "detail": detail}


if __name__ == "__main__":
    sys.exit(main())
