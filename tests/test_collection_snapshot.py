"""VectorCollection's driver snapshot: every snapshot-served facade method
must return exactly what the distributed operators return (names, types,
values), run zero Spark jobs once built, build once under concurrent first
queries, and give way to the distributed plans when the corpus does not fit
the driver budget, repeats ids, or fails to build."""

import threading

import numpy as np
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from vectordb_data_ingestion_spark import collection
from vectordb_data_ingestion_spark.collection import VectorCollection

DIM = 6
WORDS = ["reset", "Password", "vpn", "laptop", "RESET", "printer", "vpn"]


def _rows(seed: int, id_kind: str, n: int = 48):
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n, DIM)).round(3)
    base[3] = 0.0                      # zero-norm row: never ranks
    base[7] = base[5]                  # exact certainty ties
    base[11] = base[5]
    rows = []
    for i in range(n):
        cid = i * 7 % 101 if id_kind == "int" else f"chunk-{i * 7 % 101:03d}"
        words = rng.choice(WORDS, int(rng.integers(0, 9)))
        text = None if i == 9 else " ".join(words) + ("  " if i % 4 else "")
        url = f"/corpus/{['hr', 'it', 'ops'][i % 3]}/f{i // 3}"
        tokens = None if i == 13 else int(rng.integers(5, 40))
        rows.append((cid, text, url, tokens, [float(x) for x in base[i]]))
    return rows, base


def _corpus(spark, tmp_path, seed, id_kind):
    """A parquet corpus, like the sink's: its plan has a known size (an
    RDD-backed or not-yet-cached DataFrame reads as unbounded)."""
    rows, base = _rows(seed, id_kind)
    id_type = "long" if id_kind == "int" else "string"
    path = str(tmp_path / f"corpus-{seed}")
    spark.createDataFrame(
        rows,
        f"chunk_id {id_type}, text string, url string, n_tokens int, "
        "vector array<float>",
    ).repartition(3).write.parquet(path)
    return spark.read.parquet(path), base


def _pair(corpus, monkeypatch, snapshot=True):
    """(snapshot-served, distributed) collections over the same corpus;
    ``snapshot=False`` expects the first to fall back by itself."""
    kw = dict(id_col="chunk_id", text_col="text", vec_col="vector")
    local = VectorCollection(corpus, **kw)
    assert (local._snapshot() is not None) == snapshot
    with monkeypatch.context() as m:
        m.setattr(collection, "_snapshot_budget", lambda spark: 0)
        dist = VectorCollection(corpus, **kw)
        assert dist._snapshot() is None
    return local, dist


def _same(a, b):
    assert [(f.name, f.dataType) for f in a.schema] == [
        (f.name, f.dataType) for f in b.schema
    ]
    ra, rb = a.collect(), b.collect()
    assert sorted(map(repr, ra)) == sorted(map(repr, rb))
    return ra


@pytest.mark.parametrize("id_kind,seed", [("int", 3), ("str", 4)])
def test_snapshot_matches_distributed_operators(
    spark, tmp_path, monkeypatch, id_kind, seed
):
    corpus, base = _corpus(spark, tmp_path, seed, id_kind)
    local, dist = _pair(corpus, monkeypatch)
    rng = np.random.default_rng(seed + 100)
    qv = [float(x) for x in rng.normal(size=DIM)]
    tie = [float(x) for x in base[5]]
    zero = [0.0] * DIM
    it = F.col("url").contains("/it/")

    def both(call):
        return _same(call(local), call(dist))

    hits = both(lambda c: c.near_vector(tie, k=4, certainty=0.0))
    assert hits and max(r["certainty"] for r in hits) == 1.0
    assert len({r["certainty"] for r in hits}) < len(hits)   # ties decided by id
    cut = both(lambda c: c.near_vector(qv, k=40, certainty=0.7))
    assert 0 < len(cut) < 40                                   # threshold cuts
    assert both(lambda c: c.near_vector(zero, k=5)) == []      # zero query
    everything = both(lambda c: c.near_vector(qv, k=100, certainty=0.0))
    assert len(everything) == len(base) - 1                    # zero-norm row
    assert both(lambda c: c.near_vector(qv, k=8, where=it))
    assert both(lambda c: c.near_vector(qv, k=5, certainty=0.9999, where=it)) == []
    anchor = hits[0]["chunk_id"]
    assert both(lambda c: c.near_object(anchor, k=5, certainty=0.0))
    assert both(lambda c: c.bm25("RESET vpn reset vpn", k=6))
    assert both(lambda c: c.bm25("password Printer", k=6, where=it))
    assert both(lambda c: c.bm25("nothing-matches", k=6)) == []
    assert both(lambda c: c.hybrid("Reset PASSWORD reset", qv, k=6, alpha=0.3))
    assert both(lambda c: c.hybrid("vpn laptop", tie, k=4, where=it))
    [row] = both(lambda c: c.retrieve_context(
        qv, k=6, certainty=0.0, url_col="url", max_tokens=60
    ))
    assert 1 <= row["n_chunks"] < 6                            # budget cut
    both(lambda c: c.retrieve_context(tie, k=3, where=it))
    assert both(lambda c: c.retrieve_context(
        qv, k=3, certainty=0.9999, url_col="url", max_tokens=10
    )) == []                                                   # no hit, no row


def test_repeated_ids_match_the_distributed_operators(spark, tmp_path, monkeypatch):
    """Rows sharing an id are one BM25 document (build_bm25_index keys
    postings by (term, id)) but separate dense rows: the snapshot does not
    take such a corpus, and every query runs the distributed plans."""
    rows, base = _rows(12, "int", n=30)
    rows = [(r[0] % 9,) + r[1:] for r in rows]          # 9 ids over 30 rows
    path = str(tmp_path / "repeated")
    spark.createDataFrame(
        rows, "chunk_id long, text string, url string, n_tokens int, "
        "vector array<float>",
    ).write.parquet(path)
    local, dist = _pair(spark.read.parquet(path), monkeypatch, snapshot=False)
    hr = F.col("url").contains("/hr/")
    qv = [float(x) for x in base[2]]
    for call in (
        lambda c: c.bm25("reset vpn Password", k=9),
        lambda c: c.bm25("laptop", k=4, where=hr),
        lambda c: c.near_vector(qv, k=12, certainty=0.0),
        lambda c: c.hybrid("vpn printer", qv, k=8, alpha=0.6),
    ):
        assert _same(call(local), call(dist))


def test_snapshot_queries_run_no_spark_jobs(spark, tmp_path):
    corpus, base = _corpus(spark, tmp_path, 5, "str")
    col = VectorCollection(corpus, id_col="chunk_id", vec_col="vector")
    qv = [float(x) for x in base[1]]
    col.near_vector(qv, k=3).collect()              # builds the snapshot
    sc = spark.sparkContext
    sc.setJobGroup("snapshot-served", "no jobs expected")
    try:
        col.near_vector(qv, k=3, where=F.col("url").contains("/hr/")).collect()
        col.near_text("reset vpn", k=3).collect()
        col.near_object("chunk-007", k=3).collect()
        col.bm25("reset", k=3).collect()
        col.hybrid("reset vpn", qv, k=3).collect()
        col.retrieve_context(qv, k=3, url_col="url", max_tokens=50).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("snapshot-served")
    finally:
        sc.setJobGroup(None, None)
    assert list(jobs) == []


def test_concurrent_first_queries_build_the_snapshot_once(
    spark, tmp_path, monkeypatch
):
    corpus, base = _corpus(spark, tmp_path, 6, "int")
    qv = [float(x) for x in base[2]]
    ops = [
        lambda c: c.near_vector(qv, k=5).collect(),
        lambda c: c.bm25("reset vpn", k=5).collect(),
        lambda c: c.hybrid("password", qv, k=5).collect(),
        lambda c: c.retrieve_context(qv, k=3, url_col="url").collect(),
    ]
    serial_col = VectorCollection(corpus, id_col="chunk_id", vec_col="vector")
    serial = [op(serial_col) for op in ops]

    builds = []
    real_build = collection._Snapshot.build.__func__

    def counting_build(cls, *a):
        builds.append(threading.get_ident())
        return real_build(cls, *a)

    monkeypatch.setattr(
        collection._Snapshot, "build", classmethod(counting_build)
    )
    col = VectorCollection(corpus, id_col="chunk_id", vec_col="vector")
    start = threading.Barrier(len(ops))
    out, errors = [None] * len(ops), []

    def client(i):
        try:
            start.wait()
            out[i] = ops[i](col)
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(len(ops))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert len(builds) == 1
    assert out == serial


def test_corpus_over_budget_keeps_the_distributed_plan(
    spark, tmp_path, monkeypatch
):
    corpus, base = _corpus(spark, tmp_path, 8, "str")
    qv = [float(x) for x in base[4]]
    # the default budget is the driver's maxResultSize (1g unless set)
    assert collection._snapshot_budget(spark) == 1 << 30
    assert collection._fits_driver(corpus, "text", "vector")
    monkeypatch.setattr(collection, "_snapshot_budget", lambda spark: 1)
    assert not collection._fits_driver(corpus, "text", "vector")
    col = VectorCollection(corpus, id_col="chunk_id", vec_col="vector")
    sc = spark.sparkContext
    sc.setJobGroup("over-budget", "distributed plan expected")
    try:
        rows = col.near_vector(qv, k=3).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("over-budget")
    finally:
        sc.setJobGroup(None, None)
    assert col._snapshot() is None and list(jobs)
    assert rows[0]["certainty"] == 1.0
    # an unlimited budget (maxResultSize=0) always takes the snapshot
    monkeypatch.setattr(collection, "_snapshot_budget", lambda spark: None)
    assert VectorCollection(corpus, id_col="chunk_id", vec_col="vector")._snapshot()


def test_unresolvable_where_falls_back_to_the_distributed_plan(
    spark, tmp_path, monkeypatch
):
    corpus, base = _corpus(spark, tmp_path, 9, "int")
    local, dist = _pair(corpus, monkeypatch)
    qv = [float(x) for x in base[0]]
    # bound to the corpus DataFrame, and a predicate on the vector column:
    # neither resolves against the snapshot's LocalRelation
    for where in (corpus["url"].contains("/ops/"), F.size("vector") == DIM):
        assert _same(
            local.near_vector(qv, k=4, certainty=0.0, where=where),
            dist.near_vector(qv, k=4, certainty=0.0, where=where),
        )


def test_snapshot_is_the_corpus_as_of_the_first_query(spark, tmp_path):
    rows, base = _rows(10, "int", n=12)
    schema = "chunk_id long, text string, url string, n_tokens int, vector array<float>"
    path = str(tmp_path / "corpus")
    spark.createDataFrame(rows[:6], schema).write.parquet(path)
    col = VectorCollection(
        spark.read.parquet(path), id_col="chunk_id", vec_col="vector"
    )
    assert len(col.near_vector([1.0] * DIM, k=20).collect()) == 5  # 1 zero row
    spark.createDataFrame(rows[6:], schema).write.mode("append").parquet(path)
    assert len(col.near_vector([1.0] * DIM, k=20).collect()) == 5
    fresh = VectorCollection(
        spark.read.parquet(path), id_col="chunk_id", vec_col="vector"
    )
    assert len(fresh.near_vector([1.0] * DIM, k=20).collect()) == 11


def test_budget_bounds_the_collected_bytes_not_the_compressed_scan(
    spark, tmp_path, monkeypatch
):
    """Long repetitive texts compress to a small parquet scan but are
    collected uncompressed (and again as BM25 tokens): the estimate must
    follow what the snapshot's Arrow scan really holds."""
    rows, base = _rows(14, "str", n=24)
    rows = [(r[0], "reset vpn password " * 400) + r[2:] for r in rows]
    path = str(tmp_path / "compressible")
    spark.createDataFrame(
        rows, "chunk_id string, text string, url string, n_tokens int, "
        "vector array<float>",
    ).write.parquet(path)
    corpus = spark.read.parquet(path)
    scan = int(corpus._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    estimate = collection._collected_bytes(corpus, "text", "vector")
    toks = collection.lexical_tokens("text")
    collected = corpus.select(
        *corpus.columns, F.size(toks), toks
    ).toArrow().nbytes
    assert scan < collected <= estimate < 2 * collected
    # a budget the scan fits but the collected corpus does not
    monkeypatch.setattr(collection, "_snapshot_budget", lambda spark: scan)
    col = VectorCollection(corpus, id_col="chunk_id", vec_col="vector")
    assert col._snapshot() is None
    qv = [float(x) for x in base[1]]
    assert col.near_vector(qv, k=1).collect()[0]["certainty"] == 1.0


def _result_too_large(spark):
    """What a collect over spark.driver.maxResultSize raises."""
    raise Py4JJavaError(
        "An error occurred while calling o1.getResult.\n",
        spark._jvm.org.apache.spark.SparkException(
            "Total size of serialized results of 2 tasks (4.1 MiB) is "
            "bigger than spark.driver.maxResultSize (1024.0 KiB)"
        ),
    )


def _jvm_error(spark):
    """A JVM exception PySpark converts (a PySparkException)."""
    spark._jvm.java.lang.Long.parseLong("not-a-number")


@pytest.mark.parametrize("fail", [_result_too_large, _jvm_error])
def test_failed_build_falls_back_to_the_distributed_plan(
    spark, tmp_path, monkeypatch, caplog, fail
):
    """A build the JVM rejects (e.g. a collect over
    spark.driver.maxResultSize) is logged once; the collection then serves
    every query distributed and never retries the build."""
    corpus, base = _corpus(spark, tmp_path, 15, "int")
    calls = []

    def failing_build(cls, *a):
        calls.append(a)
        fail(spark)

    monkeypatch.setattr(collection._Snapshot, "build", classmethod(failing_build))
    col = VectorCollection(corpus, id_col="chunk_id", vec_col="vector")
    with monkeypatch.context() as m:
        m.setattr(collection, "_snapshot_budget", lambda spark: 0)
        dist = VectorCollection(corpus, id_col="chunk_id", vec_col="vector")
        assert dist._snapshot() is None
    qv = [float(x) for x in base[2]]
    with caplog.at_level("WARNING", logger=collection.__name__):
        for _ in range(2):
            _same(col.near_vector(qv, k=4), dist.near_vector(qv, k=4))
            _same(col.hybrid("reset vpn", qv, k=4), dist.hybrid("reset vpn", qv, k=4))
    assert len(calls) == 1 and col._snapshot() is None
    assert ["corpus snapshot failed" in r.getMessage() for r in caplog.records] == [True]
