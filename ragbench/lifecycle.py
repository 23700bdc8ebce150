"""One benchmark run: a knowledge-base lifecycle over generated inputs.

Phases, each timed and each followed by output checks:

1. ``ingest``: bulk ingest of the corpus (catalog -> parse -> chunk ->
   embed -> sink), from the catalog scan to the visible commit;
2. ``refresh``: refresh rounds, each from the source edit to the change
   being visible in ``sink.read()`` (diff -> delete -> delta ingest ->
   upsert -> ``maybe_compact``);
3. ``query``: a closed loop of ``CLIENTS`` threads sharing one session over
   the sink as the refresh left it; each client runs a fixed list of ops
   from the query mix (40% near_text, 20% near_text + department filter,
   25% hybrid, 15% retrieve_context), so every run measures the same
   composition of ops.

Every check that fails counts one failed operation.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

import pyspark.sql.functions as F

from ragbench import gen
from ragbench.gen import WORKLOADS
from ragbench.checks import ExactIndex, Snapshot, check_ingest, check_round, row_bytes
from ragbench.gateway import Embedder, Gateway
from ragbench.pipeline import (
    TOP_K,
    Layers,
    Pipeline,
    dept_filter_part,
)
from ragbench.trace import Tracer, durations, self_times

CORES = 4
CLIENTS = 4
N_FILES = 200
N_ROUNDS = 1
N_QUERY_POOL = 200
SECONDS_PER_CLIENT_OP = 4  # ops per client = --seconds / this (at least 2)

# client c runs OP_CYCLE[c], OP_CYCLE[c + CLIENTS], ...; any prefix of
# 4k entries keeps the mix within one op of 40/20/25/15
OP_CYCLE = (
    "near_text", "hybrid", "filtered", "near_text",
    "hybrid", "near_text", "context", "filtered",
    "near_text", "context", "hybrid", "near_text",
    "filtered", "hybrid", "near_text", "context",
    "near_text", "filtered", "hybrid", "near_text",
)


def declared_metrics() -> dict[str, dict[str, str]]:
    """``{"end_to_end" | "per_layer": {name: unit}}`` from BENCHMARK.json,
    the one list of the metrics a run reports."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]}
            for kind in ("end_to_end", "per_layer")}


def client_ops(seconds: float) -> list[list[str]]:
    """The fixed op list of each client for a run of ``seconds``."""
    per_client = max(2, int(seconds // SECONDS_PER_CLIENT_OP))
    n = per_client * CLIENTS
    cycle = (OP_CYCLE * (n // len(OP_CYCLE) + 1))[:n]
    return [list(cycle[c::CLIENTS]) for c in range(CLIENTS)]


def start_spark(work: str):
    from vectordb_data_ingestion_spark.session import get_spark

    for d in ("spark", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    spark = get_spark(
        app_name="ragbench",
        master=f"local[{min(CORES, os.cpu_count() or 1)}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=30)
    except Exception:  # still running after the grace period
        proc.kill()
        proc.wait(timeout=30)


def _sink_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of files that are new or changed."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return sum(after[p][0] for p in new), len(new)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.opts = WORKLOADS[workload]
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers = Layers()
        self.tracer = Tracer(traced, run_id=f"{workload}-{seed}")
        self.embedder = Embedder(seed)
        self.sink_bytes_written = 0
        self.user_bytes_changed = 0
        self.spark = None

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    # -- bookkeeping ---------------------------------------------------------

    def op(self, fails: list[str]) -> None:
        self.attempted += 1
        if fails:
            self.failed += 1
            self.failures.extend(fails)

    def _sink_write(self, before: dict) -> None:
        written, files = _written(before, _sink_files(self.sink_path))
        self.sink_bytes_written += written
        if self.traced:
            self.layers.add("sink.bytes_written", written)
            self.layers.add("sink.files_written", files)

    # -- set-up --------------------------------------------------------------

    def setup(self) -> None:
        """Session start, warm-up and input generation. Only the first two
        are the program's set-up and count in ``setup_s``."""
        t0 = time.perf_counter()
        self.spark = start_spark(self.work)
        self.start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self._warm_workers()
        self.warm_s = time.perf_counter() - t0
        self.e2e["setup_s"] = self.start_s + self.warm_s
        self.gateway = Gateway(self.spark.sparkContext, self.seed, track_texts=self.traced)
        self.pipe = Pipeline(self.spark, self.tracer, self.gateway, self.layers)
        self.wl = gen.generate(
            self.seed, N_FILES, n_rounds=N_ROUNDS, n_queries=N_QUERY_POOL,
            edit_mode=self.opts["edit_mode"],
        )
        inputs = os.path.join(self.work, "inputs")
        gen.write_workload(inputs, self.wl)
        self.corpus = os.path.join(inputs, "corpus")
        self.sink_path = os.path.join(self.work, "sink")

    def _warm_workers(self) -> None:
        """Start one Python worker per core with a trivial Arrow job, so the
        first ingest does not also pay for worker start-up; the engine's own
        code paths stay cold, as in a fresh batch job."""
        cores = self.spark.sparkContext.defaultParallelism
        self.spark.range(cores, numPartitions=cores).mapInPandas(
            lambda batches: (b for b in batches), "id long"
        ).collect()

    # -- phases --------------------------------------------------------------

    def ingest_phase(self) -> None:
        self.layers.phase = "ingest"
        if self.traced:
            self._untraced_ingest("baseline_cold")  # pays the cold start
            base_s = self._untraced_ingest("baseline")
        sink = self.sink = self.pipe.new_sink(self.sink_path)
        before = _sink_files(self.sink_path)
        with self.tracer.span("phase.ingest"):
            t0 = time.perf_counter()
            self.pipe.ingest(self.pipe.catalog(self.corpus), sink)
            elapsed = time.perf_counter() - t0
        self._sink_write(before)
        self.e2e["ingest_docs_per_s"] = len(self.wl.docs) / elapsed
        if self.traced:
            self.trace_overhead_s = elapsed - base_s
            self.trace_overhead_ratio = self.trace_overhead_s / base_s
        self.snap = Snapshot(sink)
        self.user_bytes_changed += sum(
            row_bytes(t) for t in self.snap.pdf["chunk_text"]
        )
        self.op(check_ingest(self.snap, {d.path for d in self.wl.docs}, self.embedder))
        self.local_catalog = (
            self.pipe.catalog(self.corpus).select("name", "url", "modified_dt").localCheckpoint()
        )
        url = self.snap.pdf["url"].iloc[0]
        self.url_prefix = url[: url.index("/corpus/") + len("/corpus/")]

    def _untraced_ingest(self, name: str) -> float:
        """Untraced ingest of the same corpus into a throwaway sink with its
        own gateway counters: the base the tracing overhead is taken from."""
        pipe = Pipeline(
            self.spark, Tracer(False), Gateway(self.spark.sparkContext, self.seed), self.layers
        )
        sink = pipe.new_sink(os.path.join(self.work, name))
        t0 = time.perf_counter()
        pipe.ingest(pipe.catalog(self.corpus), sink)
        return time.perf_counter() - t0

    def refresh_phase(self) -> None:
        self.layers.phase = "refresh"
        times = []
        for r in range(N_ROUNDS):
            before = _sink_files(self.sink_path)
            with self.tracer.span("phase.refresh_round"):
                t0 = time.perf_counter()
                change = gen.apply_round(self.corpus, self.wl, r)
                removed_urls = [self.url_prefix + p for p in change["removed"]]
                self.local_catalog, delta = self.pipe.refresh(
                    self.corpus, self.local_catalog, self.sink, removed_urls
                )
                # the change is visible once a fresh read shows it
                probe = self.url_prefix + change["edited"][0]
                self.sink.read().filter(F.col("url") == probe).select("chunk_text").collect()
                times.append(time.perf_counter() - t0)
            self._sink_write(before)
            after = Snapshot(self.sink)
            changed = set(change["edited"]) | set(change["added"]) | set(change["removed"])
            self.user_bytes_changed += sum(
                row_bytes(t)
                for snap in (self.snap, after)
                for p in changed
                for t in snap.by_path.get(p, {}).values()
            )
            if self.traced:
                truly = set(change["edited"]) | set(change["added"])
                reported = {u[len(self.url_prefix):] for u in delta}
                self.layers.add("catalog.truly_changed", len(truly & reported))
            fresh = self.pipe.fresh_chunks(
                self.corpus, [self.url_prefix + p for p in change["edited"] + change["added"]]
            )
            self.op(check_round(
                self.snap, after, {d.path for d in self.wl.docs}, self.wl.rounds[r].edits,
                change["added"], change["removed"], fresh, self.embedder,
            ))
            self.snap = after
        self.e2e["refresh_round_s"] = statistics.median(times)

    def query_phase(self) -> None:
        self.layers.phase = "query"
        pdf = self.snap.pdf
        index = ExactIndex(pdf["chunk_id"].tolist(), pdf["url"].tolist(), self.snap.vectors())
        col = self.pipe.collection(self.sink)
        qf = self.pipe.query_factory()
        plan = client_ops(self.seconds)
        stream = gen.query_stream(
            self.seed, len(self.wl.queries), sum(map(len, plan)), self.opts["query_zipf"]
        )
        # queries are dealt to the ops in a fixed order, so a seed always
        # pairs the same query with the same op
        queries = iter(stream)
        work = [[(op, self.wl.queries[next(queries)]) for op in ops] for ops in plan]
        lock = threading.Lock()
        results: list[tuple] = []  # (op, query, latency s, rows, error, group, done at)
        sc = self.spark.sparkContext

        def client(cid: int) -> None:
            for i, (op, q) in enumerate(work[cid]):
                group = f"q{cid}-{i}"
                if self.traced:
                    sc.setJobGroup(group, op)
                err, rows = None, []
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(f"query.{op}", request=group):
                        rows = self.pipe.run_query(col, op, q, qf)
                except Exception as e:  # counted as a failed op; the loop goes on
                    err = f"{op}: {type(e).__name__}: {e}"
                t1 = time.perf_counter()
                with lock:
                    results.append((op, q, t1 - t0, rows, err, group, t1))

        t_start = time.perf_counter()
        threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        elapsed = max(r[6] for r in results) - t_start
        self._score_queries(results, index, elapsed)

    def _score_queries(self, results, index: ExactIndex, elapsed: float) -> None:
        lats: dict[str, list[float]] = {}
        recalls = []
        for op, q, lat, rows, err, _group, _done in results:
            fails = [err] if err else []
            if not err:
                lats.setdefault(op, []).append(lat)
                if op in ("near_text", "filtered"):
                    part = dept_filter_part(q["dept"]) if op == "filtered" else None
                    rec = index.recall(
                        self.embedder.vector(q["text"]), [r["chunk_id"] for r in rows], TOP_K, part
                    )
                    recalls.append(rec)
                    if rec < 1.0:
                        fails.append(f"{op} {q['text']!r}: recall {rec:.2f} of exact top-{TOP_K}")
                elif op == "hybrid" and not 0 < len(rows) <= TOP_K:
                    fails.append(f"hybrid {q['text']!r}: {len(rows)} rows")
                elif op == "context" and not (len(rows) == 1 and rows[0]["n_chunks"] >= 1):
                    fails.append(f"context {q['text']!r}: no context")
            self.op(fails)
        all_lats = sorted(x for v in lats.values() for x in v)
        self.query_lats = lats
        self.e2e["query_qps"] = len(results) / elapsed
        self.e2e["query_p50_ms"] = statistics.median(all_lats) * 1000 if all_lats else 0.0
        self.e2e["recall_at_10"] = statistics.fmean(recalls) if recalls else 0.0
        if self.traced:
            self._query_jobs([r[5] for r in results])

    def _query_jobs(self, groups: list[str]) -> None:
        """Spark jobs and tasks per query, from the status tracker."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tasks = 0
        for g in groups:
            for j in tracker.getJobIdsForGroup(g):
                jobs += 1
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    st = tracker.getStageInfo(s)
                    tasks += st.numTasks if st else 0
        self.layers.add("query.spark_jobs", jobs / len(groups))
        self.layers.add("query.tasks", tasks / len(groups))

    def finish(self) -> None:
        """Write and space amplification of the sink as the run leaves it."""
        disk = sum(size for size, _mtime in _sink_files(self.sink_path).values())
        live = sum(row_bytes(t) for t in self.snap.pdf["chunk_text"])
        self.e2e["write_amp"] = self.sink_bytes_written / self.user_bytes_changed
        self.e2e["space_amp"] = disk / live
        if self.traced:
            segments = self.sink._get_manifest()[0]["segments"]
            self.layers.add(
                "sink.segments_live", sum(1 for s in segments if s.get("full") or s.get("files"))
            )

    # -- reporting -----------------------------------------------------------

    def summary_lines(self, e2e_units: dict[str, str]) -> list[str]:
        lines = [
            f"workload={self.workload} seed={self.seed} files={len(self.wl.docs)} "
            f"rounds={N_ROUNDS} clients={CLIENTS} "
            f"query_samples={ {op: len(v) for op, v in self.query_lats.items()} }"
        ]
        for name, unit in e2e_units.items():
            lines.append(f"{name} = {self.e2e[name]:.6g} {unit}")
        lines.append(
            f"error_rate = {self.failed / self.attempted:.6g} ratio "
            f"({self.failed} of {self.attempted} ops failed)"
        )
        lines += [f"FAILED: {f}" for f in self.failures[:20]]
        return lines

    def metrics(self, units: dict[str, str]) -> dict:
        """The run's value of every metric in ``units`` (name -> unit)."""
        values = self.per_layer() if self.traced else self.e2e
        missing = sorted(set(units) - set(values))
        if missing:
            raise RuntimeError(f"metrics declared in BENCHMARK.json but not measured: {missing}")
        return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}

    def per_layer(self) -> dict[str, float]:
        """Every per-layer figure the traced run has; BENCHMARK.json picks
        the ones reported."""
        spans = self.tracer.spans
        m = {"session.start_s": self.start_s, "session.warm_s": self.warm_s}
        m.update(layer_metrics(self.layers.total(), durations(spans)))
        # the refresh rounds' own share of the layers that also run in the
        # bulk ingest: should follow the delta, not the corpus
        refresh = layer_metrics(
            self.layers.scope("refresh"), durations(spans, within="phase.refresh_round")
        )
        m.update({"refresh." + k: v for k, v in refresh.items()})
        all_lats = sorted(x for v in self.query_lats.values() for x in v)
        m["query.samples"] = len(all_lats)
        p90 = statistics.quantiles(all_lats, n=10)[-1] if len(all_lats) >= 2 else 0.0
        m["query.p90_ms"] = p90 * 1000
        embeds = [s.end - s.start for s in spans if s.name == "query.embed"]
        m["query.embed_ms"] = statistics.median(embeds) * 1000 if embeds else 0.0
        m["query.embed_requests"] = self.gateway.query_requests()
        embed_in = {}
        for s in spans:
            if s.name == "query.embed" and s.parent is not None:
                embed_in[s.parent] = embed_in.get(s.parent, 0.0) + (s.end - s.start)
        for op in ("near_text", "filtered", "hybrid", "context"):
            own = [
                (s.end - s.start) - embed_in.get(s.span_id, 0.0)
                for s in spans if s.name == f"query.{op}"
            ]
            m[f"query.exec_ms.{op}"] = statistics.median(own) * 1000 if own else 0.0
        m.update({f"self.{name}": v for name, v in self_times(spans).items()})
        m["trace.overhead_s"] = self.trace_overhead_s
        m["trace.overhead_ratio"] = self.trace_overhead_ratio
        return m


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(counts: dict[str, float], times: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics of one scope: its counts, its span times and the
    ratios derived from them."""
    g = lambda k: counts.get(k, 0.0)  # noqa: E731
    out = {**times, **counts}
    out["sources.parse_yield"] = _ratio(g("sources.docs_out"), g("sources.files_listed"))
    out["catalog.delta_precision"] = _ratio(g("catalog.truly_changed"), g("catalog.delta_docs"))
    out["embed.texts_per_request"] = _ratio(
        g("embed.texts"), g("embed.requests") - g("embed.retries")
    )
    out["embed.unique_text_ratio"] = _ratio(g("embed.novel_texts"), g("embed.texts"))
    return out
