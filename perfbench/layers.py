"""Per-layer metrics of a traced run (``run.py --trace 1``).

Spark is lazy, so a span around a public call mostly times plan building.
A layer's self time therefore comes from separately timed prefixes of the
work, each written to Spark's ``noop`` sink: the corpus scan alone, then
``doc_words`` over it; the difference between the two is the tokenizing
time. The word aggregation shares a stage with ``doc_words`` on its map
side, so its time is the executor run time of the full index's
post-shuffle stages, read from the event log; the sinks are timed over
results already materialized in memory. Every probe runs ``PROBE_REPEATS``
rounds, the probes of one layer alternating, and reports its fastest
round. Each round runs inside a span whose name is also the Spark job
group, so task counts, shuffle bytes and CPU time are read back per layer
from Spark's event log once the session has stopped.

Every workload's traced run reports every layer. A probe runs on the
workload's own inputs where its operation reaches the layer (the manifest
for ``letter_index``, the stored index and drops for ``index_update``, the
shard rotation for ``near_dup``), and otherwise on inputs cut from the
workload's documents (``gen.update_inputs_from``, ``gen.shards_from``,
``gen.write_texts``). The ``spark.*`` metrics cover the timed operations
only, per operation.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import statistics
import time

import gen
import pyarrow.parquet as pq
import tracing
from workloads import IndexUpdate, LetterIndex, NearDup, tree_bytes

from mapreduceindex_spark.operators.inverted_index import (
    doc_words,
    inverted_index,
)
from mapreduceindex_spark.sinks.letter_sink import write_letter_files
from mapreduceindex_spark.sources.manifest import corpus_from_manifest

PROBE_REPEATS = 2

#: (name, unit) of every per-layer metric, in BENCHMARK.json order
PER_LAYER = (
    ("session.start_s", "s"),
    ("manifest.plan_s", "s"),
    ("manifest.scan_s", "s"),
    ("manifest.scan_tasks", "count"),
    ("index.doc_words_s", "s"),
    ("index.map_tasks", "count"),
    ("index.pairs", "count"),
    ("index.build_s", "s"),
    ("index.shuffle_mb", "MB"),
    ("index.words", "count"),
    ("index.merge_s", "s"),
    ("index.delete_broadcast_s", "s"),
    ("index.delete_join_s", "s"),
    ("index.reindex_s", "s"),
    ("sink.parquet_s", "s"),
    ("sink.letter_s", "s"),
    ("sink.letter_mb", "MB"),
    ("caching.memo_hits", "count"),
    ("caching.memo_misses", "count"),
    ("caching.live_frames", "count"),
    ("dedup.clusters_s", "s"),
    ("dedup.pairs_s", "s"),
    ("dedup.edges", "count"),
    ("dedup.shuffle_mb", "MB"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.cpu_s", "s"),
    ("spark.gc_ms", "ms"),
    ("spark.spill_mb", "MB"),
    ("spark.task_busy_ratio", "ratio"),
    ("trace.op_p50_s", "s"),
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Probes:
    def __init__(self, spark, wl, tracer, memo, work):
        self.spark, self.wl, self.tracer, self.memo = spark, wl, tracer, memo
        self.work = str(work)
        self.values: dict[str, float] = {}

    def timed(self, probes: dict) -> dict[str, float]:
        """Fastest wall time of each ``fn(rep)`` over PROBE_REPEATS rounds,
        each inside a span named after the probe. The probes of one call
        alternate within every round, so a drift in machine speed or JIT
        state hits all of them alike and their differences stay fair (the
        first round of a probe the operations never ran is still cold)."""
        times: dict[str, list[float]] = {name: [] for name in probes}
        for rep in range(PROBE_REPEATS):
            for name, fn in probes.items():
                with self.tracer.span(name, rep):
                    t0 = time.perf_counter()
                    fn(rep)
                    times[name].append(time.perf_counter() - t0)
        return {name: min(t) for name, t in times.items()}

    def manifest(self) -> None:
        wl = self.wl
        if isinstance(wl, LetterIndex):
            manifest = wl.manifest
        else:
            manifest = gen.write_texts(wl.docs, os.path.join(self.work, "probe_texts"))
        docs = corpus_from_manifest(self.spark, manifest)
        t = self.timed(
            {
                "manifest.plan": lambda r: corpus_from_manifest(self.spark, manifest),
                "manifest.scan": lambda r: _noop(docs),
            }
        )
        self.values["manifest.plan_s"] = t["manifest.plan"]
        self.values["manifest.scan_s"] = t["manifest.scan"]

    def index(self) -> None:
        v, docs = self.values, self.wl.docs_frame()
        pairs = doc_words(docs)
        index = inverted_index(docs, ordered=False)
        t = self.timed(
            {
                "index.scan": lambda r: _noop(docs),
                "index.doc_words": lambda r: _noop(pairs),
                "index.build": lambda r: _noop(index),
            }
        )
        v["index.doc_words_s"] = t["index.doc_words"] - t["index.scan"]
        v["index.pairs"] = pairs.count()
        cached = index.persist()
        v["index.words"] = cached.count()
        out = os.path.join(self.work, "probe_letters")

        def letters(rep: int) -> None:
            shutil.rmtree(out, ignore_errors=True)
            write_letter_files(cached, out)

        v["sink.letter_s"] = self.timed({"sink.letter": letters})["sink.letter"]
        v["sink.letter_mb"] = tree_bytes(out) / 1e6
        cached.unpersist()

    def maintenance(self) -> None:
        wl = self.wl
        if not isinstance(wl, IndexUpdate):
            wl = IndexUpdate(self.spark, wl.seed)
            wl.load(
                gen.update_inputs_from(self.wl.docs),
                os.path.join(self.work, "probe_update"),
            )

        t = self.timed(
            {
                f"index.{name}": lambda r, name=name: _noop(wl.result(name))
                for name in IndexUpdate.RESULTS
            }
        )
        v = self.values
        v["index.merge_s"] = t["index.merge"]
        v["index.delete_broadcast_s"] = t["index.delete_small"]
        v["index.delete_join_s"] = t["index.delete_big"]
        v["index.reindex_s"] = t["index.reindex"]
        # the parquet sink alone: the four results written from memory
        cached = {n: wl.result(n).persist() for n in IndexUpdate.RESULTS}
        for frame in cached.values():
            frame.count()

        def write(name: str, rep: int) -> None:
            path = os.path.join(self.work, "probe_result", f"{name}{rep}")
            cached[name].write.parquet(path)

        t = self.timed(
            {f"sink.parquet.{n}": functools.partial(write, n) for n in cached}
        )
        v["sink.parquet_s"] = sum(t.values())
        for frame in cached.values():
            frame.unpersist()

    def dedup(self) -> None:
        wl = self.wl
        if not isinstance(wl, NearDup):
            wl = NearDup(self.spark, wl.seed)
            wl.load(gen.shards_from(self.wl.docs), os.path.join(self.work, "probe_shards"))
        wl.tracer = self.tracer
        hits0 = sum(self.memo.hits.values())
        miss0 = sum(self.memo.misses.values())
        edges, live = [], []
        for rep in range(PROBE_REPEATS):
            # continue the shard rotation: no probe reuses the shard the
            # previous operation ran on, so the first call always misses
            out = os.path.join(self.work, "probe_dedup", str(rep))
            wl.op(wl.last_op + 1, out)
            edges.append(pq.read_table(os.path.join(out, "pairs")).num_rows)
            live.append(self.memo.live_frames())
        v = self.values
        v["caching.memo_hits"] = (sum(self.memo.hits.values()) - hits0) / PROBE_REPEATS
        v["caching.memo_misses"] = (
            sum(self.memo.misses.values()) - miss0
        ) / PROBE_REPEATS
        v["caching.live_frames"] = max(live)
        v["dedup.edges"] = statistics.median(edges)
        v["dedup.clusters_s"] = min(
            self.tracer.durations("dedup.near_dup_clusters", "probe")
        )
        v["dedup.pairs_s"] = min(
            self.tracer.durations("dedup.minhash_lsh_pairs", "probe")
        )


def measure(spark, wl, tracer, memo, work) -> dict[str, float]:
    """Run the layer probes while the session is alive; returns the
    values measured in the driver."""
    tracer.phase = "probe"
    p = Probes(spark, wl, tracer, memo, work)
    p.manifest()
    p.index()
    p.maintenance()
    p.dedup()
    return p.values


def finish(
    values, tracer, work, spans_path, *, session_s, op_p50_s, ops, loop_s, cores
) -> dict:
    """After the session stopped: add the event-log metrics, write the
    spans, and return every per-layer metric as (value, unit)."""
    tm = tracing.TaskMetrics(os.path.join(str(work), "events"))
    ops = max(ops, 1)
    v = dict(values, **{"session.start_s": session_s, "trace.op_p50_s": op_p50_s})
    v["manifest.scan_tasks"] = tm.total("tasks", "probe/manifest.scan") / PROBE_REPEATS
    v["index.map_tasks"] = tm.first_stage_tasks("probe/index.doc_words")
    v["index.build_s"] = (
        tm.total("reduce_run_ms", "probe/index.build") / 1000 / PROBE_REPEATS
    )
    v["index.shuffle_mb"] = (
        tm.total("shuffle_write", "probe/index.build") / PROBE_REPEATS / 1e6
    )
    v["dedup.shuffle_mb"] = (
        tm.total("shuffle_write", "probe/dedup.") / PROBE_REPEATS / 1e6
    )
    v["spark.jobs"] = tm.total("jobs", "op/") / ops
    v["spark.tasks"] = tm.total("tasks", "op/") / ops
    v["spark.cpu_s"] = tm.total("cpu_ns", "op/") / 1e9 / ops
    v["spark.gc_ms"] = tm.total("gc_ms", "op/") / ops
    v["spark.spill_mb"] = tm.total("spill", "op/") / 1e6 / ops
    v["spark.task_busy_ratio"] = tm.total("run_ms", "op/") / 1000 / (loop_s * cores)
    spans_path.parent.mkdir(exist_ok=True)
    t0 = min((s["start"] for s in tracer.spans), default=0.0)
    spans = [
        {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in tracer.spans
    ]
    spans_path.write_text(json.dumps({"metrics": v, "spans": spans}))
    return {name: (float(v[name]), unit) for name, unit in PER_LAYER}
