"""Ingest: seed the dedup index, stream a seeded crawl drop
through versioned admission (availableNow, one file per micro-batch),
then run the snapshot and index maintenance, checked against a DuckDB
replay of the admission rule and of each maintenance step."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import time

import numpy as np

from perfbench import datagen
from perfbench.tracing import JobStats, median, tail

DUCK_KEY = r"md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"
CHECKPOINT_FILES = "ckpt"
STREAM_TIMEOUT_S = 120
# timed operation -> its per-layer metric in seconds
OP_LAYERS = {name: f"{name}_s" for name in (
    "operators.dedup_index.init", "operators.dedup_index.compact",
    "sources.snapshots.merge", "sources.snapshots.delete",
    "sources.snapshots.compact", "sources.snapshots.vacuum",
    "sources.snapshots.read")}
# cycle record key -> per-layer metric
RECORD_LAYERS = {
    "files_before_compact": "operators.dedup_index.files_before_compact",
    "files_live": "sources.snapshots.files_live",
    "carried_ratio": "sources.snapshots.carried_ratio",
    "bytes_written": "sources.snapshots.bytes_written",
    "write_amp": "write_amp", "space_amp": "space_amp",
}
STREAM_LAYERS = (
    "streaming.batch_ms", "streaming.add_batch_ms", "streaming.overhead_ms",
    "streaming.start_ms", "streaming.first_batch_ms", "streaming.jobs_per_batch",
    "streaming.admit_ratio")
LAYERS = STREAM_LAYERS + tuple(OP_LAYERS.values()) + tuple(RECORD_LAYERS.values())


def content_key(text: str) -> str:
    return hashlib.md5(re.sub(r"\s+", " ", text.strip(" ").lower())
                       .encode()).hexdigest()


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def _manifest(table: str, version: int) -> list[str]:
    with open(os.path.join(table, "_versions", f"v{version}.json")) as fh:
        return json.load(fh)["data_dirs"]


def _data_files(entries: list[str]) -> list[str]:
    out = []
    for e in entries:
        if os.path.isfile(e):
            out.append(e)
        else:
            out += sorted(p for p in glob.glob(os.path.join(e, "**", "*.parquet"),
                                               recursive=True)
                          if not os.path.basename(p).startswith(("_", ".")))
    return out


class Ingest:
    layers = LAYERS

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_files = 3 if ctx.tiny else 6
        self.docs_per_file = 30 if ctx.tiny else 125
        rng = np.random.default_rng([ctx.seed, 5])
        dpf, base = self.docs_per_file, 1_000_000
        fm = int(rng.integers(0, self.n_files))
        a = int(rng.integers(0, dpf // 2))
        # merge: upsert a key range inside one file (+ a few new keys)
        self.merge_ids = list(range(base + fm * dpf + a, base + fm * dpf + a + dpf // 3))
        self.merge_texts = [" ".join(rng.choice(datagen.VOCAB, 12))
                            for _ in self.merge_ids]
        # delete: a range that covers one file whole and cuts two others
        fd = int(rng.integers(0, self.n_files - 2))
        self.del_lo = base + fd * dpf + dpf // 2
        self.del_hi = base + (fd + 2) * dpf + dpf // 4

    def prepare(self):
        ctx = self.ctx
        self.in_dir = os.path.join(ctx.data, "crawl")
        self.indexed_path, self.drop, self.files, self.indexed = datagen.crawl_drop(
            self.in_dir, ctx.seed, self.n_files, self.docs_per_file,
            n_indexed=self.docs_per_file * 2)
        self.drop_bytes = sum(_files(self.drop).values())
        ctx.stamp_inputs({"indexed": self.indexed_path,
                          **{f"drop/{os.path.basename(p)}": p
                             for p in sorted(glob.glob(self.drop + "/*"))}})
        self._replay()

    # -- the oracle: DuckDB replay ----------------------------------------
    def _replay(self):
        import duckdb

        con = duckdb.connect()
        con.execute("CREATE TABLE seed (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO seed VALUES (?, ?)", self.indexed)
        con.execute("CREATE TABLE crawl (doc_id BIGINT, text VARCHAR, f INT)")
        con.executemany("INSERT INTO crawl VALUES (?, ?, ?)",
                        [(i, t, f) for f, rows in enumerate(self.files)
                         for i, t in rows])
        # first batch wins, min id inside it, never an indexed key
        admitted = con.execute(f"""
            WITH k AS (SELECT doc_id, text, f, {DUCK_KEY} AS h FROM crawl),
            first AS (SELECT h, min(f) AS f0 FROM k GROUP BY h),
            cand AS (SELECT k.* FROM k JOIN first ON k.h = first.h AND k.f = first.f0),
            pick AS (SELECT h, min(doc_id) AS id FROM cand GROUP BY h)
            SELECT c.doc_id, c.text, c.h, c.f FROM cand c
            JOIN pick ON c.h = pick.h AND c.doc_id = pick.id
            WHERE c.h NOT IN (SELECT {DUCK_KEY} FROM seed)
            ORDER BY c.f, c.doc_id""").fetchall()
        self.seed_keys = {r[0] for r in con.execute(
            f"SELECT DISTINCT {DUCK_KEY} FROM seed").fetchall()}
        # cumulative admitted set after each non-empty batch = one version
        self.per_version = []
        for f in range(self.n_files):
            if any(r[3] == f for r in admitted):
                self.per_version.append({(i, h) for i, _, h, ff in admitted if ff <= f})
        self.index_keys = self.seed_keys | {h for _, _, h, _ in admitted}
        upd = {i: (i, t, content_key(t)) for i, t in zip(self.merge_ids, self.merge_texts)}
        rows = {i: (i, t, h) for i, t, h, _ in admitted}
        rows.update(upd)
        self.after_merge = {(i, h) for i, _, h in rows.values()}
        self.after_delete = {(i, h) for i, h in self.after_merge
                             if not self.del_lo <= i <= self.del_hi}
        if self.ctx.inject_wrong:  # only the merge check sees this set
            self.after_merge.pop()
        self.n_input = sum(len(f) for f in self.files)
        con.close()

    # -- setup ------------------------------------------------------------
    def register(self, spark):
        self.schema = spark.read.parquet(self.drop).schema
        self.seed_df = spark.read.parquet(self.indexed_path)

    def warmup(self, spark):
        """Read the inputs once. The admission path itself is not
        warmed: an ingest job pays its first micro-batch, and
        ``wall_s`` and ``streaming.first_batch_ms`` show it."""
        self.seed_df.count()
        spark.read.parquet(self.drop).count()

    # -- one cycle --------------------------------------------------------
    def _cycle(self, spark, run_dir):
        from minisql_engine_spark.operators.dedup_index import (
            compact_index, init_dedup_index)
        from minisql_engine_spark.sources import (
            compact_snapshot, delete_range_pruned, list_versions,
            merge_snapshot_pruned, read_snapshot, vacuum_snapshots)
        from minisql_engine_spark.streaming.ingest import stream_admit_snapshot

        tr = self.ctx.tracer
        sc = spark.sparkContext
        index, table = os.path.join(run_dir, "index"), os.path.join(run_dir, "table")
        ckpt = os.path.join(run_dir, CHECKPOINT_FILES)
        ops, checks, groups, seen = {}, [], [], {}

        def op(name, fn):
            if tr.enabled:
                sc.setJobGroup(f"{name}-{run_dir}", name)
                groups.append(f"{name}-{run_dir}")
            with tr.span(name):
                t0 = time.perf_counter()
                try:
                    out = fn()
                except Exception as exc:
                    checks.append((name, f"unexpected exception: {type(exc).__name__}:"
                                   f" {exc}"[:300]))
                    raise _Abort from exc
                finally:
                    ops[name] = time.perf_counter() - t0
                    if tr.enabled:  # keep check jobs out of the op's group
                        sc.setJobGroup("check", "check")
            seen.update(_files(run_dir))
            return out

        def expect(name, got, want):
            if got != want:
                extra, missing = len(got - want), len(want - got)
                checks.append((name, f"{extra} unexpected, {missing} missing rows"))
            else:
                checks.append((name, None))

        def snap_rows(version=None):
            df = read_snapshot(spark, table, version=version)
            return {(r[0], r[1]) for r in df.select("doc_id", "content_hash").collect()}

        def index_rows():
            return {r[0] for r in spark.read.parquet(index)
                    .select("content_hash").collect()}

        rec = {}
        try:
            op("operators.dedup_index.init",
               lambda: init_dedup_index(self.seed_df, index))
            expect("operators.dedup_index.init", index_rows(), self.seed_keys)

            def start():
                stream = (spark.readStream.schema(self.schema)
                          .option("maxFilesPerTrigger", 1)
                          .option("latestFirst", "false").parquet(self.drop))
                return stream_admit_snapshot(stream, index, table, ckpt,
                                             constraints=["doc_id IS NOT NULL"])

            t0 = time.perf_counter()
            q = op("streaming.start", start)
            with tr.span("streaming.run"):
                if not q.awaitTermination(STREAM_TIMEOUT_S):
                    q.stop()
                    checks.append(("streaming.run", "did not finish in time"))
                    raise _Abort
            ops["streaming.run"] = time.perf_counter() - t0 - ops["streaming.start"]
            seen.update(_files(run_dir))
            if q.exception() is not None:
                checks.append(("streaming.run", f"query failed: {q.exception()}"[:300]))
                raise _Abort
            rec["progress"] = [_progress(p) for p in q.recentProgress]
            rec["run_group"] = str(q.runId)
            versions = list_versions(table)
            for b in range(max(len(versions), len(self.per_version))):
                name = f"streaming.batch{b:02d}"
                if b >= len(versions) or b >= len(self.per_version):
                    checks.append((name, "version count differs from the replay"))
                    continue
                expect(name, snap_rows(versions[b]), self.per_version[b])
            expect("streaming.run", index_rows(), self.index_keys)
            rec["admitted"] = len(snap_rows())
            rec["files_before_compact"] = len(_data_files([index]))

            cur = max(list_versions(table))
            upd = spark.createDataFrame(
                [(i, t, content_key(t)) for i, t in zip(self.merge_ids, self.merge_texts)],
                "doc_id long, text string, content_hash string")
            v = op("sources.snapshots.merge",
                   lambda: merge_snapshot_pruned(spark, table, upd, "doc_id"))
            carried = [_carried(table, cur, v)]
            expect("sources.snapshots.merge", snap_rows(), self.after_merge)
            v2 = op("sources.snapshots.delete", lambda: delete_range_pruned(
                spark, table, "doc_id", self.del_lo, self.del_hi))
            carried.append(_carried(table, v, v2))
            rec["files_live"] = len(_data_files(_manifest(table, v2)))
            rec["carried_ratio"] = sum(carried) / len(carried)
            expect("sources.snapshots.delete", snap_rows(), self.after_delete)
            op("sources.snapshots.compact", lambda: compact_snapshot(spark, table))
            expect("sources.snapshots.compact", snap_rows(), self.after_delete)
            op("operators.dedup_index.compact", lambda: compact_index(spark, index))
            expect("operators.dedup_index.compact", index_rows(), self.index_keys)
            before = list_versions(table)
            removed = op("sources.snapshots.vacuum", lambda: vacuum_snapshots(table, 1))
            ok = (sorted(removed) == before[:-1] and list_versions(table) == before[-1:])
            checks.append(("sources.snapshots.vacuum",
                           None if ok else f"removed {removed}, kept "
                           f"{list_versions(table)} of {before}"))
            rows = op("sources.snapshots.read",
                      lambda: read_snapshot(spark, table).select(
                          "doc_id", "content_hash").collect())
            expect("sources.snapshots.read", {(r[0], r[1]) for r in rows},
                   self.after_delete)
            live = _data_files(_manifest(table, list_versions(table)[-1]))
            on_disk = sum(_files(table).values())
            rec["space_amp"] = on_disk / sum(os.path.getsize(p) for p in live)
            table_dirs = (table, index, ckpt)
            rec["bytes_written"] = sum(s for p, s in seen.items()
                                       if p.startswith(table + os.sep))
            rec["write_amp"] = sum(
                s for p, s in seen.items()
                if p.startswith(tuple(d + os.sep for d in table_dirs))
            ) / self.drop_bytes
        except _Abort:
            pass
        except Exception as exc:  # a check itself could not run
            checks.append(("cycle", f"{type(exc).__name__}: {exc}"[:300]))
        rec["ops"], rec["checks"], rec["groups"] = ops, checks, groups
        return rec

    # -- timed section ----------------------------------------------------
    def timed(self, spark):
        ctx, tr = self.ctx, self.ctx.tracer
        t_start = time.perf_counter()
        c = self.cycle = self._cycle(spark, os.path.join(ctx.scratch, "cycle"))
        timed_wall_s = time.perf_counter() - t_start
        if timed_wall_s > ctx.cap_s:
            c["checks"].append(("cycle", ctx.cap_reason))
        progress = [p for p in c.get("progress", []) if p["rows"] > 0]
        # The first micro-batch pays the admission path's cold start,
        # which varied by half from run to run; it counts in wall_s and
        # streaming.first_batch_ms. The batch figures are the warm ones.
        first, warm = progress[:1], progress[1:]
        batches = [p["trigger_ms"] for p in warm]
        adds = [p["add_ms"] for p in warm]
        n_in = sum(p["rows"] for p in warm)
        wall = sum(c["ops"].values())
        t, label, n = tail(batches)
        rec = {"wall_s": wall,
               "ops_per_s": n_in * 1000 / sum(batches) if batches else 0.0,
               "p50_ms": median(batches), "tail_ms": t, "tail_pct": label,
               "samples": n, "op_s": wall,
               "op_ms": [[k, v * 1000] for k, v in c["ops"].items()]
               + [[f"batch{p['batch']}", p["trigger_ms"]]
                  for p in c.get("progress", [])],
               "timed_wall_s": timed_wall_s}
        for key in ("write_amp", "space_amp"):
            if key in c:
                rec[key] = c[key]
        if tr.enabled:
            # a metric is left out when its step did not run; the runner
            # counts that as a failure
            layers = {metric: c["ops"][name] for name, metric in OP_LAYERS.items()
                      if name in c["ops"]}
            layers.update({metric: c[key] for key, metric in RECORD_LAYERS.items()
                           if key in c})
            if batches and "admitted" in c:
                with tr.overhead():
                    jobs = JobStats(spark).groups([c["run_group"]])["jobs"]
                layers.update({
                    "streaming.batch_ms": median(batches),
                    "streaming.add_batch_ms": median(adds),
                    "streaming.overhead_ms": median(b - a for b, a in zip(batches, adds)),
                    "streaming.start_ms": c["ops"]["streaming.start"] * 1000,
                    "streaming.first_batch_ms": first[0]["trigger_ms"],
                    "streaming.jobs_per_batch": jobs / len(progress),
                    "streaming.admit_ratio": c["admitted"] / self.n_input,
                })
            rec["layers"] = layers
        return rec

    def job_groups(self):
        c = self.cycle
        return c["groups"] + ([c["run_group"]] if "run_group" in c else [])

    def check(self):
        checks = self.cycle["checks"]
        return len(checks), [{"op": name, "reason": reason}
                             for name, reason in checks if reason]


class _Abort(Exception):
    """An operation failed; the rest of the cycle cannot run."""


def _progress(progress) -> dict:
    """The fields used from a StreamingQueryProgress."""
    p = json.loads(progress.json)
    d = p.get("durationMs", {})
    return {"batch": p.get("batchId"), "rows": p.get("numInputRows", 0),
            "trigger_ms": float(d.get("triggerExecution", 0)),
            "add_ms": float(d.get("addBatch", 0))}


def _carried(table: str, v_from: int, v_to: int) -> float:
    """Share of the new version's data files carried over by reference."""
    old = set(_data_files(_manifest(table, v_from)))
    new = _data_files(_manifest(table, v_to))
    return sum(f in old for f in new) / len(new) if new else 0.0
