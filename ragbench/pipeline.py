"""The program's layers composed into ingest, refresh and query paths, the
way ``tests/test_pipeline_e2e.py`` composes them, with a span around each
layer call.

Untraced, each path is one lazy plan per program call (the sink write
triggers the whole ingest) and the spans are no-ops. Traced, each layer's
output is materialized (``localCheckpoint``) before the next layer runs, so
its time lands in its own span, and per-layer counts are taken from the
materialized frames.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from vectordb_data_ingestion_spark.collection import VectorCollection
from vectordb_data_ingestion_spark.operators.catalog import find_new_and_updated
from vectordb_data_ingestion_spark.operators.chunk_pipeline import build_chunk_table
from vectordb_data_ingestion_spark.operators.enrichment import embed_via_api
from vectordb_data_ingestion_spark.sinks.manifest_sink import ManifestVectorSink
from vectordb_data_ingestion_spark.sources.files import (
    parse_documents,
    read_binary_catalog,
)

# the reference's 2000/50-character chunking, expressed in words
CHUNK_WORDS = 300
OVERLAP_FRACTION = 0.025
SINK_BUCKETS = 16
# maybe_compact runs after every refresh round; a round adds two segments
# (delete + upsert), so with this threshold every round also compacts
COMPACT_MAX_SEGMENTS = 2
TOP_K = 10
CONTEXT_K = 3


class Layers:
    """Per-layer counts, kept per phase (``phase`` is set by the caller)."""

    def __init__(self):
        self.phase = "setup"
        self.v: dict[str, dict[str, float]] = {}

    def add(self, name: str, value: float) -> None:
        d = self.v.setdefault(self.phase, {})
        d[name] = d.get(name, 0.0) + value

    def scope(self, phase: str) -> dict[str, float]:
        return dict(self.v.get(phase, {}))

    def total(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for d in self.v.values():
            for k, x in d.items():
                out[k] = out.get(k, 0.0) + x
        return out


def parse(catalog):
    """Documents with non-empty text."""
    return parse_documents(catalog).filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )


def chunk(parsed):
    docs = parsed.select("url", "name", "text").withColumn("doc_id", F.xxhash64("url"))
    return build_chunk_table(
        docs, chunk_size=CHUNK_WORDS, overlap_fraction=OVERLAP_FRACTION,
        kb_prefix=True, title_col="name",
    ).select("url", "doc_id", "chunk_index", "chunk_id", "chunk_text", "n_tokens")


class Pipeline:
    """The program's layers; traced (``tracer.enabled``), each layer call
    runs in a span and per-layer counts go to ``layers``."""

    def __init__(self, spark, tracer, gateway, layers: Layers):
        self.spark = spark
        self.tracer = tracer
        self.gateway = gateway
        self.layers = layers

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def _materialize(self, df):
        return df.localCheckpoint(eager=True) if self.traced else df

    def new_sink(self, path: str) -> ManifestVectorSink:
        return ManifestVectorSink(
            self.spark, path, partition_col=None, key_col="url",
            n_buckets=SINK_BUCKETS,
        )

    # -- ingest --------------------------------------------------------------

    def catalog(self, corpus_root: str):
        return read_binary_catalog(self.spark, corpus_root + "/**")

    def ingest(self, catalog, sink: ManifestVectorSink) -> None:
        """catalog -> parse -> chunk -> embed -> sink.upsert."""
        L, traced, span = self.layers, self.traced, self.tracer.span
        if traced:
            with span("sources.catalog_s"):
                catalog = self._materialize(catalog)
            row = catalog.agg(F.count("*"), F.sum("n_bytes")).first()
            L.add("sources.files_listed", row[0])
            L.add("sources.bytes_in", row[1] or 0)
        with span("sources.parse_s"):
            parsed = self._materialize(parse(catalog))
        if traced:
            L.add("sources.docs_out", parsed.count())
        with span("chunk.s"):
            chunks = self._materialize(chunk(parsed))
        if traced:
            row = chunks.agg(F.count("*"), F.sum("n_tokens")).first()
            L.add("chunk.chunks_out", row[0])
            L.add("chunk.tokens_out", row[1] or 0)
            before = self.gateway.counters()
        with span("embed.s"):
            embedded = self._materialize(embed_via_api(
                chunks, self.gateway.ingest_factory(), text_col="chunk_text",
                vec_col="vector",
            ))
        if traced:
            self._embed_counts(before)
        with span("sink.upsert_s"):
            sink.upsert(embedded)
        if traced:
            L.add("sink.commits", 1)

    def fresh_chunks(self, corpus_root: str, urls: list[str]):
        """The chunks a fresh ingest of ``urls`` would store, as pandas."""
        files = self.catalog(corpus_root).filter(F.col("url").isin(urls))
        return chunk(parse(files)).select("url", "chunk_id", "chunk_text").toPandas()

    def _embed_counts(self, before: dict) -> None:
        after = self.gateway.counters()
        L = self.layers
        for k in ("requests", "texts", "retries"):
            L.add(f"embed.{k}", after[k] - before[k])
        L.add("embed.gateway_wait_s", (after["wait_us"] - before["wait_us"]) / 1e6)
        new_keys = after["text_keys"] - before["text_keys"]
        L.add("embed.novel_texts", len(new_keys))

    # -- refresh -------------------------------------------------------------

    def refresh(self, corpus_root: str, local_catalog, sink, removed_urls: list[str]):
        """One refresh round after the source edit: diff -> delete -> delta
        ingest -> upsert -> maybe_compact. Returns the new local catalog
        snapshot and the urls the diff reported."""
        L, traced = self.layers, self.traced
        remote_full = self.catalog(corpus_root)
        remote = remote_full.select("name", "url", "modified_dt")

        with self.tracer.span("catalog.diff_s"):
            delta_urls = [
                r[0] for r in find_new_and_updated(remote, local_catalog).select("url").collect()
            ]
        if traced:
            L.add("catalog.delta_docs", len(delta_urls))
        with self.tracer.span("sink.delete_s"):
            sink.delete_where("url", delta_urls + removed_urls)
        if traced:
            L.add("sink.commits", 1)
        if delta_urls:
            self.ingest(remote_full.filter(F.col("url").isin(delta_urls)), sink)
        with self.tracer.span("sink.compact_s"):
            merged = sink.maybe_compact(max_segments=COMPACT_MAX_SEGMENTS)
        if traced and merged:
            L.add("sink.commits", 1)
        # snapshot for the next round's diff (the test's localCheckpoint)
        return remote.localCheckpoint(), delta_urls

    # -- queries -------------------------------------------------------------

    def collection(self, sink) -> VectorCollection:
        return VectorCollection(
            sink.read(), id_col="chunk_id", text_col="chunk_text", vec_col="vector"
        )

    def query_factory(self):
        """Query-side transport; traced, each call is a ``query.embed`` span."""
        base = self.gateway.query_factory()
        if not self.traced:
            return base
        tracer = self.tracer

        def factory():
            embed = base()

            def traced_embed(texts):
                with tracer.span("query.embed"):
                    return embed(texts)

            return traced_embed

        return factory

    def run_query(self, col: VectorCollection, op: str, q: dict, qf):
        """Execute one query op; returns its collected rows."""
        if op == "near_text":
            return col.near_text(q["text"], k=TOP_K, transport_factory=qf).collect()
        if op == "filtered":
            where = F.col("url").contains(dept_filter_part(q["dept"]))
            return col.near_text(
                q["text"], k=TOP_K, where=where, transport_factory=qf
            ).collect()
        [vec] = qf()([q["text"]])
        if op == "hybrid":
            return col.hybrid(q["text"], vec, k=TOP_K).collect()
        return col.retrieve_context(vec, k=CONTEXT_K, url_col="url").collect()


def dept_filter_part(dept: str) -> str:
    """The url part that places a file in a department folder."""
    return f"/corpus/{dept}/"
