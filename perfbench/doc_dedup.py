"""``doc_dedup``: near-duplicate detection over a seeded corpus with
planted clusters, batch and streaming.

Set-up writes the corpus as parquet segments; an unrecorded pass over a
60-document corpus then warms every code path.  Each cycle is one pass
over the corpus, four ops:

- ``exact``: ``functions.dedup.exact_dedup``;
- ``pairs``: ``functions.dedup.minhash_pairs`` (LSH candidates, exact
  Jaccard verify);
- ``clusters``: ``functions.dedup.dedup_clusters`` over those pairs,
  which closes the pair graph with ``functions.graph.connected_components``;
- ``stream``: ``streaming.dedup.stream_minhash_candidates`` over the
  segments, availableNow trigger, two segments per micro-batch.

The three batch ops read the corpus and return results
(``READ_KINDS``, behind ``read_p50_gmean_ms``); the stream op writes
its state store, checkpoint and sink (``WRITE_KINDS``, behind
``write_p50_gmean_ms``).  None of them touches ``operators.*`` or
``Admin``.  Checks per pass: the exact-dedup row count, the verified
pair set and the clusters against the planted structure, and the
stream's candidate set against batch ``minhash_candidates`` with the
same parameters.

The stream leg calls its Python per-bucket state function once per
(document, band) group, about a millisecond each on a 4-core host, so
it bands with fewer hashes than the batch leg and the corpus stays
small enough for a pass to fit in one run.
"""

from __future__ import annotations

import os
import time

from generators import NEAR_JACCARD, components, doc_corpus
from metrics import median

DOCS = 500
WARM_DOCS = 60
SEGMENTS = 4
STREAM_HASHES, STREAM_BANDS = 16, 4
SCHEMA = "doc_id long, text string, ts long"


class DocDedup:
    READ_KINDS = ("exact", "pairs", "clusters")
    WRITE_KINDS = ("stream",)

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.corpus = doc_corpus(run.seed, DOCS, clusters=25, exact_dups=15)
        self.want_clusters = components(
            [d[0] for d in self.corpus.docs], sorted(self.corpus.near_pairs)
        )
        self.passes = 0

    def _write_corpus(self, docs, path: str) -> None:
        (
            self.spark.createDataFrame(docs, SCHEMA)
            .repartitionByRange(SEGMENTS, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.parquet(path)
        )
        # The stream source takes the oldest files first, and the write's
        # tasks finish in any order.  Stamp the segments in doc_id order,
        # so every pass ingests them in event-time order and runs the same
        # micro-batches (the watermark advances in the last data batch,
        # which adds one no-data batch for the state timeouts).
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        t0 = time.time() - len(parts)
        for i, f in enumerate(parts):
            os.utime(os.path.join(path, f), (t0 + i, t0 + i))

    def setup_once(self, rep: int) -> float:
        t0 = time.perf_counter()
        self.corpus_dir = self.run.path(f"corpus{rep}")
        self._write_corpus(self.corpus.docs, self.corpus_dir)
        return time.perf_counter() - t0

    def prepare(self) -> None:
        from hbase_spark.functions.dedup import minhash_candidates

        # one unrecorded pass over a small corpus, so that the measured
        # ops do not carry the JVM's and the Python workers' first-use cost
        warm = self.run.path("warm")
        self._write_corpus(doc_corpus(self.run.seed, WARM_DOCS, clusters=3, exact_dups=3).docs, warm)
        self.docs = self.spark.read.parquet(warm)
        self._exact()
        self._clusters(self._pairs())
        self._stream(warm)
        self.docs = self.spark.read.parquet(self.corpus_dir)
        self.want_stream = {
            (r["id_a"], r["id_b"])
            for r in minhash_candidates(
                self.docs, num_hashes=STREAM_HASHES, bands=STREAM_BANDS
            ).collect()
        }

    # -- operations ------------------------------------------------------

    def _exact(self) -> int:
        from hbase_spark.functions.dedup import exact_dedup

        with self.run.span("functions.dedup.build"):
            df = exact_dedup(self.docs)
        with self.run.span("functions.dedup.exec"):
            return df.count()

    def _pairs(self) -> list[tuple]:
        from hbase_spark.functions.dedup import minhash_pairs

        with self.run.span("functions.dedup.build"):
            df = minhash_pairs(self.docs, threshold=NEAR_JACCARD)
        with self.run.span("functions.dedup.exec"):
            return [(r["a"], r["b"]) for r in df.collect()]

    def _clusters(self, pairs) -> dict:
        from hbase_spark.functions.dedup import dedup_clusters

        edges = self.spark.createDataFrame(pairs, "a long, b long")
        with self.run.span("functions.graph.exec"):
            rows = dedup_clusters(self.docs, pairs=edges).select("doc_id", "cluster").collect()
        return {r["doc_id"]: r["cluster"] for r in rows}

    def _stream(self, path: str):
        from hbase_spark.streaming.dedup import stream_minhash_candidates

        name = f"perfbench_stream_{self.passes}"
        stream = (
            self.spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", SEGMENTS // 2)
            .parquet(path)
        )
        q = (
            stream_minhash_candidates(stream, num_hashes=STREAM_HASHES, bands=STREAM_BANDS)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", self.run.path(f"ckpt{self.passes}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {(r["a"], r["b"]) for r in self.spark.sql(f"SELECT DISTINCT a, b FROM {name}").collect()}
        self.spark.catalog.dropTempView(name)
        return q, got

    def step(self) -> None:
        run, c = self.run, self.corpus
        self.passes += 1
        n_exact = run.op("exact", self._exact)
        pair_list = run.op("pairs", self._pairs)
        run.ops[-1].extra["verified"] = len(pair_list)
        clusters = run.op("clusters", lambda: self._clusters(pair_list))
        pairs = set(pair_list)
        q, cands = run.op(
            "stream", lambda: self._stream(self.corpus_dir), groups_of=lambda o: [o[0].runId]
        )
        if run.trace:
            run.ops[-1].extra["progress"] = q.recentProgress
            run.ops[-1].extra["python_nodes"] = _python_nodes(q)
        run.check(n_exact == c.distinct_texts, f"exact_dedup kept {n_exact}, want {c.distinct_texts}")
        run.check(
            pairs == c.near_pairs,
            f"minhash_pairs: missing {len(c.near_pairs - pairs)}, extra {len(pairs - c.near_pairs)}",
        )
        run.check(clusters == self.want_clusters, "dedup_clusters differ from the planted components")
        run.check(cands == self.want_stream, f"stream candidates {len(cands)} != batch {len(self.want_stream)}")

    # -- per-layer -------------------------------------------------------

    def layers(self) -> dict:
        from hbase_spark.functions.dedup import minhash_candidates

        run = self.run
        batch_s = sum(median(run.kind_seconds(k)) for k in ("exact", "pairs", "clusters"))
        verified = median(o.extra["verified"] for o in run.ops if o.kind == "pairs")
        cands = minhash_candidates(self.docs).count()
        dedup = [o for o in run.ops if o.kind in ("exact", "pairs")]
        graph = [o for o in run.ops if o.kind == "clusters"]
        stream = [o for o in run.ops if o.kind == "stream"][-1]
        prog = stream.extra["progress"]
        state = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
        return {
            "functions.dedup.docs_per_s": DOCS / batch_s,
            "streaming.dedup.docs_per_s": DOCS / median(run.kind_seconds("stream")),
            "functions.dedup.build_ms": 1e3 * median(run.tracer.durations("functions.dedup.build")),
            "functions.dedup.exec_ms": 1e3 * median(run.tracer.durations("functions.dedup.exec")),
            "functions.dedup.shuffle_bytes": median(o.stats.shuffle_write_bytes for o in dedup),
            "functions.dedup.spill_bytes": median(o.stats.spill_bytes for o in dedup),
            "functions.dedup.candidate_pairs": cands,
            "functions.dedup.verified_pairs": verified,
            "functions.dedup.verified_per_candidate": verified / cands if cands else 0.0,
            "functions.graph.exec_ms": 1e3 * median(run.tracer.durations("functions.graph.exec")),
            "functions.graph.jobs": median(o.stats.jobs for o in graph),
            "functions.graph.shuffle_bytes": median(o.stats.shuffle_write_bytes for o in graph),
            "streaming.dedup.batch_ms": sum(p["durationMs"]["triggerExecution"] for p in prog),
            "streaming.dedup.state_rows": state[-1]["numRowsTotal"] if state else 0,
            "streaming.dedup.state_memory_bytes": state[-1]["memoryUsedBytes"] if state else 0,
            "streaming.dedup.python_nodes": stream.extra["python_nodes"],
        }


def _python_nodes(q) -> int:
    from tracing import plan_shape

    execution = q._jsq.streamingQuery().lastExecution()
    return plan_shape(execution.executedPlan()).python_nodes if execution is not None else 0
