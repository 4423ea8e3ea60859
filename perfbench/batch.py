"""``batch``: one pass over the star-schema job and the corpus curation.

A pass runs the star half (``star_batch.Part``: CSV clean → stamp →
aggregate → join → partitioned fact write, the star views, every EDA
query and the TPC-H-style warehouse queries) and then the corpus half
(``corpus_curation.Part``: text signals, four dedup methods, connected
components, decontamination, DSIR selection, and the corpus export with
its LM gate and temperature mix). The two halves stress
different layers — the star half scans, joins, aggregates and writes with
almost no Python workers; the corpus half runs Arrow Python workers and
shuffles candidate pairs — and share one JVM, so a run pays the process
start once. There is no warm-up: like a scheduled batch job, the pass runs
cold, so ``pass_s`` includes the engine's first-use costs (JIT, the first
Python workers) and ``setup_s`` is the process and session start.

End-to-end metrics of a run (one or more whole passes):

- ``pass_s``: median wall time of a pass; ``query_geomean_s``: geometric
  mean of the per-operation medians; ``probe_p50_ms``/``probe_p90_ms``:
  latency percentiles over the single operations; ``serve_probes_per_s``:
  operations completed per second of the passes.
- ``append_p50_s``: median of the pass's write operations (the partitioned
  fact write, the corpus export).
- ``index_build_s``: median per pass of the star build — pipeline,
  partitioned write, view registration.
- ``written_mb``: bytes the last pass wrote (fact, export).
"""

from __future__ import annotations

import os
import statistics

import corpus_curation
import star_batch
from common import Counts, run_passes, summarize


def make_inputs(work: str, seed: int, scale: str) -> dict:
    return {"star": star_batch.make_inputs(work, seed, scale),
            "corpus": corpus_curation.make_inputs(work, seed, scale)}


class Workload:
    def __init__(self, spark, tracer, run_dir: str):
        self.tracer = tracer
        self.parts = {
            "star": star_batch.Part(spark, tracer, os.path.join(run_dir, "star")),
            "corpus": corpus_curation.Part(spark, tracer, os.path.join(run_dir, "corpus")),
        }

    def warmup(self, inp: dict) -> float:
        """None: a batch job runs once per process, so the pass is measured
        cold, JVM warm-up included, as a scheduled run would pay it."""
        return 0.0

    def measure(self, inp: dict, seconds: float) -> dict:
        counts = Counts()
        self.parts["corpus"].begin()

        def ops_for_pass(i):
            return [op for k, p in self.parts.items() for op in p.pass_ops(inp[k], i)]

        pass_times, op_times, first = run_passes(self.tracer, ops_for_pass, seconds, 1, counts)
        done = {k: p.finish(first, op_times, len(pass_times)) for k, p in self.parts.items()}
        metrics = summarize(pass_times, op_times)
        metrics["append_p50_s"] = statistics.median([x for d in done.values() for x in d["writes"]])
        metrics["index_build_s"] = statistics.median(done["star"]["build"])
        metrics["written_mb"] = sum(d["written"] for d in done.values()) / 1e6
        return {"metrics": metrics, "attempted": counts.attempted, "failed": counts.failed,
                "rounds": len(pass_times)}

    def check(self, inp: dict) -> list[str]:
        return [p for k, part in self.parts.items() for p in part.check(inp[k])]

    def selftest(self) -> list[str]:
        return [p for part in self.parts.values() for p in part.selftest()]
