"""The three workloads: input set-up, one operation, and its check.

A workload object is built once per run. ``build_inputs(dest)`` writes a
fresh copy of the seeded inputs (and, for ``index_update``, the stored base
index); ``expect()`` computes the independent expected outputs;
``op(i, out)`` runs operation ``i`` into the fresh directory ``out`` and
returns nothing until every output is written; ``check(i, out)`` returns
None or a description of what is wrong. Every operation is the same fixed
unit of work (``near_dup`` rotates over equally sized shards).
"""

from __future__ import annotations

import os
import shutil
import string

import gen
import oracle
import pyarrow.parquet as pq
from tracing import NullTracer

from mapreduceindex_spark.operators.dedup import (
    minhash_lsh_pairs,
    near_dup_clusters,
)
from mapreduceindex_spark.operators.inverted_index import (
    INDEX_DELETE_BROADCAST_CAP,
    index_delete,
    inverted_index,
    merge_index,
    reindex_docs,
)
from mapreduceindex_spark.sinks.letter_sink import write_letter_files
from mapreduceindex_spark.sources.manifest import corpus_from_manifest


def tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    )


class Workload:
    name = ""
    #: discarded operations before the timed loop: until the JIT has
    #: settled the operation's own code paths
    warmup_ops = 2

    def __init__(self, spark, seed: int, tracer=None):
        self.spark, self.seed = spark, seed
        self.tracer = tracer or NullTracer()
        self.inputs = ""

    def build_inputs(self, dest: str) -> None:
        if self.inputs:
            shutil.rmtree(self.inputs, ignore_errors=True)
        self.inputs = dest
        self._build(dest)

    def _build(self, dest: str) -> None:
        raise NotImplementedError

    def expect(self) -> None:
        raise NotImplementedError

    def op(self, i: int, out: str) -> None:
        raise NotImplementedError

    def check(self, i: int, out: str) -> str | None:
        raise NotImplementedError


class LetterIndex(Workload):
    """Manifest -> inverted index -> 26 letter files, as the CLI runs it."""

    name = "letter_index"
    #: its 2nd operation runs ~1.15x the settled time, the rest settled
    warmup_ops = 1

    def _build(self, dest: str) -> None:
        self.manifest, self.docs = gen.write_letter_index(self.seed, dest)

    def expect(self) -> None:
        self.expected = oracle.letter_files(oracle.build_index(self.docs))
        if self.expected[gen.EMPTY_LETTER]:
            raise RuntimeError(f"generator put words under {gen.EMPTY_LETTER!r}")

    def docs_frame(self):
        return corpus_from_manifest(self.spark, self.manifest)

    def op(self, i: int, out: str) -> None:
        span = self.tracer.span
        with span("manifest.corpus_from_manifest", i):
            docs = corpus_from_manifest(self.spark, self.manifest)
        with span("index.inverted_index", i):
            index = inverted_index(docs, ordered=False)
        with span("sink.write_letter_files", i):
            write_letter_files(index, out)

    def check(self, i: int, out: str) -> str | None:
        names = sorted(os.listdir(out))
        want = sorted(f"{c}.txt" for c in string.ascii_lowercase)
        if names != want:
            return f"letter files present: {names}"
        for c, data in self.expected.items():
            with open(os.path.join(out, f"{c}.txt"), "rb") as fh:
                if fh.read() != data:
                    return f"{c}.txt differs from the expected index"
        return None


class IndexUpdate(Workload):
    """One maintenance cycle against a stored parquet index."""

    name = "index_update"
    #: its 2nd and 3rd operations still run 1.1-1.5x the settled time
    warmup_ops = 3
    RESULTS = ("merge", "delete_small", "delete_big", "reindex")

    def _build(self, dest: str) -> None:
        self.load(gen.index_update_inputs(self.seed), dest)

    def load(self, inputs: dict, dest: str) -> None:
        """Write the drops and build the stored base index from them."""
        self.data = inputs
        self.paths = gen.write_index_update(inputs, dest)
        self.docs = inputs["new"]
        self.base_index = os.path.join(dest, "base_index")
        base = self.spark.read.parquet(self.paths["base"])
        inverted_index(base, ordered=False).write.parquet(self.base_index)

    def docs_frame(self):
        return self.spark.read.parquet(self.paths["new"])

    def expect(self) -> None:
        d = self.data
        if not (
            len(d["delete_small"]) <= INDEX_DELETE_BROADCAST_CAP
            < len(set(d["delete_big"]))
        ):
            raise RuntimeError("delete sets do not straddle the broadcast cap")
        norm = oracle.Normalizer()
        a = d["base"]
        kept = oracle.delete_docs(a, d["changed"])
        docs = {
            "merge": {**a, **d["new"]},
            "delete_small": oracle.delete_docs(a, d["delete_small"]),
            "delete_big": oracle.delete_docs(a, d["delete_big"]),
            "reindex": {**kept, **d["changed"]},
        }
        self.expected = {
            k: oracle.IndexForm.of(oracle.build_index(v, norm))
            for k, v in docs.items()
        }

    SPANS = {
        "merge": "index.merge_index",
        "delete_small": "index.index_delete.broadcast",
        "delete_big": "index.index_delete.join",
        "reindex": "index.reindex_docs",
    }

    #: result -> (the drop it reads, the maintenance call)
    CALLS = {
        "merge": ("new", lambda idx, drop: merge_index(idx, drop, ordered=False)),
        "delete_small": ("delete_small", index_delete),
        "delete_big": ("delete_big", index_delete),
        "reindex": ("changed", reindex_docs),
    }

    def result(self, name: str):
        """One maintenance result as a lazy frame against the stored
        index (``index_delete`` counts its delete set when called)."""
        drop, call = self.CALLS[name]
        read = self.spark.read.parquet
        return call(read(self.base_index), read(self.paths[drop]))

    def op(self, i: int, out: str) -> None:
        for name in self.RESULTS:
            with self.tracer.span(self.SPANS[name], i):
                self.result(name).write.parquet(os.path.join(out, name))

    def check(self, i: int, out: str) -> str | None:
        for name in self.RESULTS:
            table = pq.read_table(os.path.join(out, name))
            bad = self.expected[name].mismatch(oracle.IndexForm.of_table(table))
            if bad:
                return f"{name}: {bad}"
        return None


class NearDup(Workload):
    """near_dup_clusters then minhash_lsh_pairs on the next shard."""

    name = "near_dup"

    def _build(self, dest: str) -> None:
        shards = [gen.near_dup_shard(self.seed, s) for s in range(gen.NEAR_SHARDS)]
        self.load(shards, dest)

    def load(self, shards: list[dict], dest: str) -> None:
        self.last_op = -1
        self.shards = shards
        self.shard_paths = gen.write_shards(shards, dest)
        self.docs = shards[0]

    def docs_frame(self):
        return self.spark.read.parquet(self.shard_paths[0])

    def expect(self) -> None:
        self.expected = [oracle.NearDup(docs) for docs in self.shards]

    def op(self, i: int, out: str) -> None:
        self.last_op = i
        docs = self.spark.read.parquet(self.shard_paths[i % len(self.shards)])
        with self.tracer.span("dedup.near_dup_clusters", i):
            near_dup_clusters(docs).write.parquet(os.path.join(out, "clusters"))
        with self.tracer.span("dedup.minhash_lsh_pairs", i):
            minhash_lsh_pairs(docs).write.parquet(os.path.join(out, "pairs"))

    def check(self, i: int, out: str) -> str | None:
        want = self.expected[i % len(self.shards)]
        cl = pq.read_table(os.path.join(out, "clusters"))
        bad = want.cluster_mismatch(
            cl.column("doc_id").to_pylist(), cl.column("cluster_rep").to_pylist()
        )
        if bad:
            return f"clusters: {bad}"
        pr = pq.read_table(os.path.join(out, "pairs"))
        bad = want.pairs_mismatch(
            pr.column("doc_a").to_pylist(),
            pr.column("doc_b").to_pylist(),
            pr.column("jaccard").to_pylist(),
        )
        return f"lsh pairs: {bad}" if bad else None


WORKLOADS = {w.name: w for w in (LetterIndex, IndexUpdate, NearDup)}
