"""curation_ingest: the batch side of the system in one workload.

A cold pass over the curation entries (read side), then one streaming
admission and maintenance cycle (write side), in one JVM. ``wall_s``
adds the two parts; ``p50_ms``, ``tail_ms`` and ``ops_per_s`` are the
ingest micro-batch figures.
"""

from __future__ import annotations

from perfbench.curation import Curation
from perfbench.ingest import Ingest


class CurationIngest:
    name = "curation_ingest"

    def __init__(self, ctx):
        self.parts = (Curation(ctx), Ingest(ctx))
        self.layers = tuple(m for p in self.parts for m in p.layers)

    def prepare(self):
        for p in self.parts:
            p.prepare()

    def register(self, spark):
        for p in self.parts:
            p.register(spark)

    def warmup(self, spark):
        for p in self.parts:
            p.warmup(spark)

    def timed(self, spark):
        cur, ing = (p.timed(spark) for p in self.parts)
        rec = dict(ing)
        for key in ("wall_s", "op_s", "timed_wall_s"):
            rec[key] = cur[key] + ing[key]
        rec["op_ms"] = cur["op_ms"] + ing["op_ms"]
        if "layers" in cur:
            rec["layers"] = {**cur["layers"], **ing["layers"]}
            rec["per_entry"] = cur["per_entry"]
        return rec

    def job_groups(self):
        return [g for p in self.parts for g in p.job_groups()]

    def check(self):
        attempted, failures = 0, []
        for p in self.parts:
            n, f = p.check()
            attempted += n
            failures += f
        return attempted, failures
