"""Unit tests for keyword/hybrid retrieval (operators/search.py): BM25
formula parity against a hand-computed value, ranking properties (tf, idf,
length normalization), RRF fusion semantics, and the scale-critical plan
shape (broadcast joins only — the corpus never sort-merges)."""

from __future__ import annotations

import math
import os

import pyspark.sql.functions as F

from tests.conftest import SF_SMALL

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMALL)

from vectordb_data_ingestion_spark.operators import search as srch
from vectordb_data_ingestion_spark.plans.inspect import physical_plan


def _bm25_micro(tf, df, n, dl, avgdl, k1=1.2, b=0.75):
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    return round(idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl)) * 1e6)


def test_bm25_matches_hand_computed_score(spark):
    corpus = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "apple cherry cherry"),
            (3, "durian elderberry fig"),
        ],
        ["doc_id", "text"],
    )
    out = srch.bm25_topk(corpus, [(0, ["apple"])], k=10)
    rows = {r["doc_id"]: r for r in out.collect()}
    # N=3, avgdl=3, 'apple' df=2; doc 1 tf=2, doc 2 tf=1, all dl=3
    assert rows[1]["score_micro"] == _bm25_micro(tf=2, df=2, n=3, dl=3, avgdl=3.0)
    assert rows[2]["score_micro"] == _bm25_micro(tf=1, df=2, n=3, dl=3, avgdl=3.0)
    assert 3 not in rows  # no match -> no row
    assert rows[1]["rank"] == 1 and rows[2]["rank"] == 2


def test_bm25_rare_term_outscores_common_term(spark):
    # same tf/dl: the rarer term's doc must score higher
    corpus = spark.createDataFrame(
        [
            (1, "rare word pad"),
            (2, "common word pad"),
            (3, "common item pad"),
            (4, "common unit pad"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["score_micro"]
        for r in srch.bm25_topk(
            corpus, [(0, ["rare", "common"])], k=10
        ).collect()
    }
    assert out[1] > out[2]  # df(rare)=1 < df(common)=3


def test_bm25_length_normalization(spark):
    # same tf for the query term: the shorter doc scores higher (b > 0)
    corpus = spark.createDataFrame(
        [
            (1, "target one two"),
            (2, "target one two three four five six seven eight nine"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["score_micro"]
        for r in srch.bm25_topk(corpus, [(0, ["target"])], k=10).collect()
    }
    assert out[1] > out[2]


def test_bm25_queries_are_independent(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
    )
    out = srch.bm25_topk(
        corpus, [(0, ["alpha"]), (1, ["gamma"])], k=10
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r["doc_id"])
    assert by_q == {0: [1], 1: [2]}


def test_bm25_case_insensitive_tokens(spark):
    corpus = spark.createDataFrame([(1, "Apple APPLE aPpLe")], ["doc_id", "text"])
    out = srch.bm25_topk(corpus, [(0, ["apple"])], k=10).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 1


def test_bm25_plan_has_no_sort_merge_join(spark):
    corpus = spark.createDataFrame(
        [(i, f"word{i % 7} filler") for i in range(100)], ["doc_id", "text"]
    )
    plan = physical_plan(
        srch.bm25_topk(corpus, [(0, ["word1", "word2"])], k=5)
    )
    # stats / dfreq / query joins must all broadcast; a sort-merge join here
    # would shuffle match rows once per join at scale
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# --- RRF fusion ------------------------------------------------------------

def _ranked(spark, rows):
    return spark.createDataFrame(rows, "q_id long, doc_id long, rank int")


def test_rrf_doc_in_both_lists_wins(spark):
    a = _ranked(spark, [(0, 10, 1), (0, 11, 2)])
    b = _ranked(spark, [(0, 10, 2), (0, 12, 1)])
    out = srch.rrf_fuse(a, b, k=10).collect()
    scores = {r["doc_id"]: r["rrf_micro"] for r in out}
    # doc 10: 1/(60+1) + 1/(60+2); doc 12: 1/(60+1); doc 11: 1/(60+2)
    assert scores[10] == round(1e6 / 61) + round(1e6 / 62)
    assert scores[12] == round(1e6 / 61)
    assert scores[11] == round(1e6 / 62)
    ranks = {r["doc_id"]: r["rank"] for r in out}
    assert ranks[10] == 1


def test_rrf_weights_shift_the_balance(spark):
    a = _ranked(spark, [(0, 1, 1)])
    b = _ranked(spark, [(0, 2, 1)])
    out = {
        r["doc_id"]: r["rrf_micro"]
        for r in srch.rrf_fuse(a, b, weight_a=3.0, weight_b=1.0, k=10).collect()
    }
    assert out[1] == round(3e6 / 61)
    assert out[2] == round(1e6 / 61)
    assert out[1] > out[2]


def test_rrf_k_caps_each_query_list(spark):
    a = _ranked(spark, [(0, d, d + 1) for d in range(20)])
    b = _ranked(spark, [])
    out = srch.rrf_fuse(
        a, b.withColumn("q_id", F.col("q_id")), k=5
    ).collect()
    assert len(out) == 5
    assert sorted(r["rank"] for r in out) == [1, 2, 3, 4, 5]


def test_cross_encoder_rerank_reorders_candidates(spark):
    """Rerank keeps top-k per query by the pairwise score, ties to lowest
    doc id; candidates outside top-k are dropped."""
    from vectordb_data_ingestion_spark.operators.search import (
        cross_encoder_rerank,
    )

    cand = spark.createDataFrame(
        [(0, d, "q0", f"text {d}") for d in range(10)]
        + [(1, d, "q1", f"text {d}") for d in range(3)],
        "q_id long, doc_id long, query string, text string",
    )

    def fixed_factory():
        def score(pairs):
            # doc id parity decides: even ids score higher
            return [1.0 if t.split()[-1] in ("0", "2", "4", "6", "8") else 0.5
                    for _, t in pairs]

        return score

    out = cross_encoder_rerank(cand, lambda: fixed_factory(), k=3)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["q_id"], []).append((r["doc_id"], r["ce_score"]))
    assert sorted(by_q[0]) == [(0, 1.0), (2, 1.0), (4, 1.0)]  # ties -> low ids
    assert sorted(by_q[1]) == [(0, 1.0), (1, 0.5), (2, 1.0)]  # only 3 cands


def test_bm25_indexed_matches_direct(spark, tmp_path):
    """The materialized-index path returns bit-identical results to the
    direct path - including after the index round-trips through parquet
    (what a deployment actually queries)."""
    from vectordb_data_ingestion_spark.operators.search import (
        bm25_topk,
        bm25_topk_indexed,
        build_bm25_index,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    queries = [(0, ["vector", "table"]), (1, ["stream", "window", "agg"])]
    direct = sorted(
        tuple(r) for r in bm25_topk(docs, queries, k=8).collect()
    )
    postings, terms, stats = build_bm25_index(docs)
    base = str(tmp_path / "bm25")
    postings.write.parquet(base + "/postings")
    terms.write.parquet(base + "/terms")
    stats.write.parquet(base + "/stats")
    indexed = sorted(
        tuple(r)
        for r in bm25_topk_indexed(
            spark.read.parquet(base + "/postings"),
            spark.read.parquet(base + "/terms"),
            spark.read.parquet(base + "/stats"),
            queries,
            k=8,
        ).collect()
    )
    assert direct == indexed and len(direct) > 0


def test_bm25_index_counts_a_repeated_id_as_one_document(spark):
    """Rows sharing an id (of different lengths) form one document: one
    posting per (term, id) with tf summed and the longest row's dl, and
    df counts distinct ids - keying postings on dl too inflated df."""
    from vectordb_data_ingestion_spark.operators.search import build_bm25_index

    docs = spark.createDataFrame(
        [(1, "vpn reset"), (1, "vpn vpn printer"), (2, "vpn")],
        "doc_id long, text string",
    )
    postings, terms, stats = build_bm25_index(docs)
    vpn = {
        r["doc_id"]: (r["tf"], r["dl"])
        for r in postings.filter("term = 'vpn'").collect()
    }
    assert vpn == {1: (3, 3), 2: (1, 1)}
    df = {r["term"]: r["df"] for r in terms.collect()}
    assert df["vpn"] == 2 and df["printer"] == 1


def test_tfidf_ranks_matching_docs(spark):
    from vectordb_data_ingestion_spark.operators.search import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "vector index scan vector vector"),
            (2, "vector once among many other words here"),
            (3, "nothing relevant at all"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_topk(docs, [(0, ["vector"])], k=3).collect()
    ranked = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
    # doc 3 has no match at all — never emitted
    assert ranked[0] in (1, 2) and 3 not in ranked
    # higher tf but also higher norm; the cosine pick is deterministic —
    # assert scores are strictly ordered and positive
    scores = [r["score_micro"] for r in sorted(out, key=lambda r: r["rank"])]
    assert scores == sorted(scores, reverse=True) and scores[-1] > 0


def test_tfidf_multi_query_one_plan(spark):
    from vectordb_data_ingestion_spark.operators.search import tfidf_topk

    docs = spark.createDataFrame(
        [(i, f"word{i % 3} filler text") for i in range(30)],
        ["doc_id", "text"],
    )
    out = tfidf_topk(docs, [(0, ["word0"]), (1, ["word1"])], k=5)
    got = {(r["q_id"], r["doc_id"]) for r in out.collect()}
    assert len({q for q, _ in got}) == 2
    assert all(d % 3 == q for q, d in got)


def test_query_terms_case_normalized(spark):
    """Review r5: the corpus index lowercases tokens, so an uppercase
    query term silently returned zero matches. All three lexical scorers
    (and their SQL oracles via the shared normalizer) must treat 'Spark'
    and 'spark' identically."""
    from vectordb_data_ingestion_spark.operators.search import (
        bm25_sql,
        bm25_topk,
        bm25_topk_indexed,
        build_bm25_index,
        tfidf_topk,
    )

    corpus = spark.createDataFrame(
        [(1, "spark shuffles data"), (2, "pandas stays local")],
        "doc_id long, text string",
    )
    lower = {(r["q_id"], r["doc_id"]) for r in bm25_topk(corpus, [(0, ["spark"])]).collect()}
    upper = {(r["q_id"], r["doc_id"]) for r in bm25_topk(corpus, [(0, ["Spark"])]).collect()}
    assert lower == upper == {(0, 1)}

    postings, terms, stats = build_bm25_index(corpus)
    iu = {
        (r["q_id"], r["doc_id"])
        for r in bm25_topk_indexed(postings, terms, stats, [(0, ["SPARK"])]).collect()
    }
    assert iu == {(0, 1)}

    tu = {(r["q_id"], r["doc_id"]) for r in tfidf_topk(corpus, [(0, ["Spark"])]).collect()}
    assert tu == {(0, 1)}

    # oracle side normalizes AND escapes quotes identically
    sql = bm25_sql("docs", [(0, ["O'Brien"])])
    assert "o''brien" in sql and "O'Brien" not in sql


def test_rerank_null_pair_side_raises(spark):
    """astype(str) would score a NULL query/text as the literal 'None' —
    the same silent-corruption class fixed in embed_via_api (r6); the
    rerank boundary must refuse NULL pair sides loudly."""
    import pytest as _pytest

    from vectordb_data_ingestion_spark.operators.search import (
        cross_encoder_rerank,
        deterministic_fake_cross_encoder,
    )

    cand = spark.createDataFrame(
        [(0, 1, "q", None), (0, 2, "q", "fine")],
        "q_id long, doc_id long, query string, text string",
    )
    with _pytest.raises(Exception, match="NULL"):
        cross_encoder_rerank(
            cand, deterministic_fake_cross_encoder(), k=2
        ).collect()
