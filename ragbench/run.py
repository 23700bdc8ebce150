"""Benchmark: seeded files -> vector-store ingest, incremental refresh, and
concurrent RAG retrieval, driven through the engine's public functions.

    python3 ragbench/run.py --workload append_repeat --seed 1 --seconds 12 --trace 0

Run it from the repository root. It writes its inputs, the sink and Spark's
scratch files under ``.ragbench_work/`` (removed at exit, except the spans
of a traced run), runs one knowledge-base lifecycle (see ``lifecycle.py``) and checks the
outputs. Human-readable lines go to stdout first; the last stdout line is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``; with ``--trace 1``
the per-layer metrics, each layer's self time and the tracing overhead
(each layer's output is then materialized before the next layer runs, and
the spans are written to ``.ragbench_work/spans.jsonl``).

Exits non-zero, printing no result, when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".ragbench_work")


def _log(msg: str) -> None:
    print(f"[ragbench] {msg}", file=sys.stderr, flush=True)


def _clean_work(keep: str | None) -> None:
    """Remove the work directory, or all of it but ``keep``."""
    if keep is None:
        shutil.rmtree(WORK, ignore_errors=True)
        return
    for name in os.listdir(WORK):
        if name != keep:
            path = os.path.join(WORK, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from ragbench.gen import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import vectordb_data_ingestion_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from ragbench.lifecycle import Run, declared_metrics, stop_spark

    declared = declared_metrics()

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # Python workers import the engine and the benchmark's gateway
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # keep every temporary file of Python, the launcher JVM and the Spark
    # driver JVM (perf data, native libraries, artifacts) in the work dir
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}") if p
    )
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), WORK)
    try:
        run.setup()
        _log(f"session start {run.start_s:.1f} s, warm-up {run.warm_s:.1f} s")
        for phase in (run.ingest_phase, run.refresh_phase, run.query_phase, run.finish):
            t0 = time.perf_counter()
            phase()
            _log(f"{phase.__name__} {time.perf_counter() - t0:.1f} s")
        metrics = run.metrics(declared["per_layer" if args.trace else "end_to_end"])
        if run.traced:
            run.tracer.dump(os.path.join(WORK, "spans.jsonl"))
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        _clean_work(keep="spans.jsonl" if args.trace else None)
    for line in run.summary_lines(declared["end_to_end"]):
        print(line)
    if run.traced:
        for k, m in sorted(metrics.items()):
            print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
