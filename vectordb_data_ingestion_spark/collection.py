"""Weaviate-style query facade: the surface a reference user queries today
(cfg.toml:21-55 - class + near_vector + where + hybrid + top_by_certainty),
composed from this engine's operators over any DataFrame corpus.

The reference never executes queries itself - it only *declares* them as
config consumed by a chatbot. This facade makes them executable:

    col = VectorCollection(corpus, id_col="chunk_id", text_col="text",
                           vec_col="vector", certainty=0.9)
    col.near_vector(qvec, k=3)                       # nearVector
    col.near_text("reset password", k=3)             # nearText (ingest transport)
    col.near_vector(qvec, k=3, where=F.col("source") == "kb")   # + where
    col.bm25("reset password", k=10)                 # keyword
    col.hybrid("reset password", qvec, k=10, alpha=0.5)         # fusion
    col.rerank("reset password", candidates, transport, k=3)    # precision

Serving model. A chatbot issues many small top-k queries against one
corpus, and re-planning Spark jobs over the sink's files per query costs
seconds of job overhead for milliseconds of scoring. So the collection
materializes the corpus ONCE, at its first query (never in ``__init__``),
into a driver-resident snapshot: ids, a float64 vector matrix with its row
norms, the non-vector columns (an Arrow table plus a ``LocalRelation``
DataFrame) and the BM25 postings. ``near_vector`` / ``near_text`` /
``near_object`` / ``bm25`` / ``hybrid`` / ``retrieve_context`` are then
answered in the driver with numpy and run zero Spark jobs: ``where``
Columns are still evaluated by Catalyst, against the snapshot's
``LocalRelation`` (filter + select fold into a local scan), and results
come back as ``LocalRelation`` DataFrames with exactly the schemas and
values of the distributed operators, which stay the batch path and the
test oracle.

- The snapshot is taken only when what its scan collects fits the
  driver's ``spark.driver.maxResultSize``: the corpus's optimized-plan
  ``sizeInBytes`` must fit (no job), then an aggregate job estimates the
  collected Arrow bytes, which must fit too. Larger corpora keep the
  distributed plans (lazy DataFrames) for every query, as do corpora with
  repeated ids or NULL / ragged vectors, and a build that fails (it is
  logged). A ``where`` Catalyst cannot resolve against the snapshot (a
  Column bound to another DataFrame, a predicate on the vector column)
  also takes the distributed plan.
- The snapshot is the corpus AS OF the first query: later commits to the
  sink are not seen. To query them, build a new collection over a fresh
  ``sink.read()``.
- ``aggregate`` and ``rerank`` always run distributed.
"""

from __future__ import annotations

import logging
import operator
import threading
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException, PySparkException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from vectordb_data_ingestion_spark.config import VectorClassConfig
from vectordb_data_ingestion_spark.operators.context import pack_context
from vectordb_data_ingestion_spark.operators.search import (
    bm25_weight,
    lexical_tokens,
    round_half_up,
    rrf_weight,
)
from vectordb_data_ingestion_spark.operators.similarity import (
    certainty_scores,
    topk_rows,
)

_POS = "__snapshot_pos"
_TOKENS = "__snapshot_tokens"
_DL = "__snapshot_dl"
_LOG = logging.getLogger(__name__)


def _snapshot_budget(spark) -> int | None:
    """Most bytes the driver snapshot's scan may collect: the driver's
    ``spark.driver.maxResultSize`` (None = unlimited, its ``0``
    setting)."""
    conf = spark.sparkContext._jsc.sc().conf()
    budget = conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    return None if budget == 0 else budget


def _collected_bytes(corpus: DataFrame, text_col, vec_col) -> int:
    """About the Arrow bytes the snapshot's scan collects, by one aggregate
    job: the vector at its element width, fixed-width columns at their
    width, any other column at its string bytes, each cell plus a 4-byte
    offset; and the BM25 tokens the build adds (the text's bytes again
    plus an offset per token)."""
    def width(t):
        try:
            return max(t.bit_width // 8, 1)
        except ValueError:  # not fixed-width
            return None

    sizes = []
    for f in to_arrow_schema(corpus.schema):
        c, t = corpus[f.name], f.type
        if f.name == vec_col and pa.types.is_list(t) and width(t.value_type):
            sizes.append(F.size(c) * width(t.value_type))
        elif width(t):
            sizes.append(F.lit(width(t)))
        else:
            sizes.append(F.octet_length(c.cast("string")))
    if text_col in corpus.columns:
        sizes.append(
            F.octet_length(text_col) + F.size(lexical_tokens(text_col)) * 4
        )
    per_row = reduce(operator.add, [F.coalesce(x, F.lit(0)) + 4 for x in sizes])
    return corpus.select(F.sum(per_row)).first()[0] or 0


def _fits_driver(corpus: DataFrame, text_col, vec_col) -> bool:
    budget = _snapshot_budget(corpus.sparkSession)
    if budget is None:
        return True
    # the compressed scan size is a lower bound of what is collected: a
    # corpus over budget (or of unknown size) is decided without a job
    stats = corpus._jdf.queryExecution().optimizedPlan().stats()
    if int(stats.sizeInBytes()) > budget:
        return False
    return _collected_bytes(corpus, text_col, vec_col) <= budget


def _frame(spark, schema, columns: list) -> DataFrame:
    """A ``LocalRelation`` DataFrame holding ``columns`` (one list per
    schema field): built and collected with zero Spark jobs."""
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema=schema)


class _Snapshot:
    """The corpus materialized in the driver by one Arrow scan (see the
    module docstring). ``build`` returns None when the corpus cannot be
    served this way: no id/vector column, repeated ids, or NULL / ragged
    vectors (the distributed plan keeps today's behavior for those)."""

    @classmethod
    def build(cls, corpus: DataFrame, id_col, text_col, vec_col):
        if id_col not in corpus.columns or vec_col not in corpus.columns:
            return None
        extra = []
        if text_col in corpus.columns:
            toks = lexical_tokens(text_col)
            extra = [F.size(toks).alias(_DL), toks.alias(_TOKENS)]
        table = corpus.select(*corpus.columns, *extra).toArrow()
        # one row per id: a row IS a document (BM25) and a context chunk
        if pc.count_distinct(table.column(id_col), mode="all").as_py() != (
            table.num_rows
        ):
            return None
        vec = table.column(vec_col).combine_chunks()
        if vec.null_count:
            return None
        snap = cls()
        if not snap._load_vectors(vec):
            return None
        snap._load(corpus, table, id_col, vec_col)
        return snap

    def _load_vectors(self, vec) -> bool:
        n = len(vec)
        lengths = pc.list_value_length(vec).to_numpy(zero_copy_only=False)
        if n and (lengths != lengths[0]).any():
            return False
        self.dim = int(lengths[0]) if n else None
        flat = pc.list_flatten(vec).to_numpy(zero_copy_only=False)
        # the same float64 values np.stack(...).astype(float64) gives the
        # distributed kernel
        self.matrix = flat.astype(np.float64).reshape(n, self.dim or 0)
        self.norms = np.linalg.norm(self.matrix, axis=1)
        return True

    def _load(self, corpus, table, id_col, vec_col) -> None:
        spark = corpus.sparkSession
        self.spark = spark
        self.n = table.num_rows
        self.ids = table.column(id_col).to_numpy(zero_copy_only=False)
        # non-vector columns: Arrow for exact per-cell values, and a
        # LocalRelation (+ row position) for Catalyst-evaluated `where`
        self.columns = table.drop_columns(
            [vec_col] + [c for c in (_TOKENS, _DL) if c in table.column_names]
        )
        fields = [f for f in corpus.schema.fields if f.name != vec_col]
        self.local = spark.createDataFrame(
            self.columns.append_column(
                _POS, pa.array(np.arange(self.n, dtype=np.int64))
            ),
            schema=StructType(fields + [StructField(_POS, LongType(), False)]),
        )
        if _TOKENS in table.column_names:
            self._load_postings(table.column(_TOKENS).combine_chunks(),
                                table.column(_DL))

    def _load_postings(self, toks, dl) -> None:
        """Per-row BM25 postings ``term -> (rows, tf)`` plus per-row token
        counts; ``df`` and the corpus stats are taken per query, over the
        rows a ``where`` keeps, like :func:`build_bm25_index` over the
        filtered corpus."""
        self.dl = dl.to_numpy(zero_copy_only=False).astype(np.float64)
        rows = pc.list_parent_indices(toks).to_numpy(zero_copy_only=False)
        terms = pc.dictionary_encode(pc.list_flatten(toks))
        vocab = terms.dictionary.to_pylist()
        # one (term, row) key per token, counted: sorted by term, then row
        width = max(self.n, 1)
        keys = (
            terms.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            * width
            + rows
        )
        keys, tf = np.unique(keys, return_counts=True)
        term_of = keys // width
        self.post_rows = keys % width
        self.post_tf = tf.astype(np.float64)
        bounds = np.searchsorted(term_of, np.arange(len(vocab) + 1))
        self.postings = {
            t: (bounds[i], bounds[i + 1]) for i, t in enumerate(vocab)
        }
        self._strict_log = self.spark._jvm.java.lang.StrictMath.log

    def mask(self, where: Column | None):
        """Row mask of ``where`` (None = every row), evaluated by Catalyst
        over the LocalRelation. Raises AnalysisException when the Column
        does not resolve against the snapshot's columns."""
        if where is None:
            return None
        pos = [r[0] for r in self.local.filter(where).select(_POS).collect()]
        m = np.zeros(self.n, dtype=bool)
        m[np.asarray(pos, dtype=np.intp)] = True
        return m

    # -- scorers: each mirrors one distributed operator exactly -------------

    def dense(self, mask, vector, k: int, threshold: float):
        """topk_by_certainty_vectorized: (row positions, certainties)."""
        if not self.n:
            return np.zeros(0, dtype=np.intp), np.zeros(0)
        qm = np.asarray([list(vector)], dtype=np.float64)
        cert = certainty_scores(self.matrix, self.norms, qm)[:, 0]
        if mask is not None:
            cert[~mask] = np.nan
        top = topk_rows(cert, self.ids, k, threshold)
        return top, cert[top]

    def bm25(self, mask, query: str, k: int):
        """bm25_topk over the masked rows: (ids, score_micro), best first.
        Corpus stats come from the masked rows, like the distributed
        plan's filtered corpus."""
        rows_in = np.ones(self.n, dtype=bool) if mask is None else mask
        n = int(rows_in.sum())
        dl = self.dl[rows_in]
        dl = dl[~np.isnan(dl)]
        avgdl = float(dl.sum()) / len(dl) if len(dl) else 0.0
        scores = np.zeros(self.n, dtype=np.int64)
        hit = np.zeros(self.n, dtype=bool)
        for term in sorted({t.lower() for t in query.lower().split() if t}):
            span = self.postings.get(term)
            if span is None:
                continue
            rows = self.post_rows[span[0]:span[1]]
            keep = rows_in[rows]
            rows, tf = rows[keep], self.post_tf[span[0]:span[1]][keep]
            if not len(rows):
                continue
            scores[rows] += round_half_up(bm25_weight(
                n, len(rows), tf, self.dl[rows], avgdl, self._strict_log
            ))
            hit[rows] = True
        cand = np.flatnonzero(hit)
        top = cand[topk_rows(scores[cand], self.ids[cand], k, -np.inf)]
        return self.ids[top], scores[top]

    def context(self, hits, text_col, url_col, tokens_col, max_tokens):
        """build_context over the dense hits (see :func:`pack_context`)."""
        take = lambda c: self.columns.column(c).take(hits).to_pylist()  # noqa: E731
        return pack_context(
            take(text_col),
            take(url_col) if url_col else None,
            take(tokens_col) if max_tokens is not None else None,
            max_tokens,
        )


class VectorCollection:
    """One queryable vector class over a DataFrame corpus."""

    def __init__(
        self,
        corpus: DataFrame,
        id_col: str = "vec_id",
        text_col: str = "text",
        vec_col: str = "embedding",
        certainty: float | None = None,
    ):
        self.corpus = corpus
        self.id_col = id_col
        self.text_col = text_col
        self.vec_col = vec_col
        self.certainty = certainty
        self._dim: int | None = None
        self._lock = threading.Lock()
        self._built = False
        self._snap: _Snapshot | None = None

    def _snapshot(self) -> _Snapshot | None:
        """The driver snapshot, built by the first query (once, even under
        concurrent first queries); None when the corpus is served by the
        distributed plans."""
        if not self._built:
            with self._lock:
                if not self._built:
                    try:
                        if _fits_driver(self.corpus, self.text_col, self.vec_col):
                            self._snap = _Snapshot.build(
                                self.corpus, self.id_col, self.text_col,
                                self.vec_col,
                            )
                    except (Py4JJavaError, PySparkException) as e:
                        # e.g. the collect outgrew spark.driver.maxResultSize:
                        # serve every query distributed, never rebuild
                        _LOG.warning(
                            "corpus snapshot failed, queries run distributed: %s",
                            e,
                        )
                    self._built = True
        return self._snap

    def _served(self, where: Column | None, *cols: str | None):
        """``(snapshot, row mask)`` when the snapshot answers this query,
        else None: no snapshot, a needed column it lacks, or a ``where``
        that does not resolve against it."""
        snap = self._snapshot()
        if snap is None:
            return None
        if any(c and c not in snap.columns.column_names for c in cols):
            return None
        try:
            return snap, snap.mask(where)
        except AnalysisException:
            return None

    def _threshold(self, certainty: float | None) -> float:
        return certainty if certainty is not None else (self.certainty or 0.0)

    def _id_field(self, nullable: bool = True) -> StructField:
        return StructField(
            self.id_col, self.corpus.schema[self.id_col].dataType, nullable
        )

    def _corpus_dim(self) -> int:
        """Embedding width, measured once and cached — every dim-less
        near_text used to launch a fresh driver job per call, and an
        empty corpus crashed with 'NoneType is not subscriptable'
        instead of a clear error (review r5)."""
        if self._dim is None:
            snap = self._snapshot()
            if snap is not None:
                dim = snap.dim
            else:
                row = self.corpus.select(self.vec_col).first()
                dim = None if row is None or row[self.vec_col] is None else len(
                    row[self.vec_col]
                )
            if dim is None:
                raise ValueError(
                    "cannot infer embedding dim from an empty corpus — "
                    "pass near_text(..., dim=...) explicitly"
                )
            self._dim = dim
        return self._dim

    @classmethod
    def from_class_config(
        cls, corpus: DataFrame, cfg: VectorClassConfig, **kw
    ) -> "VectorCollection":
        """Bind a cfg.toml vector-class entry (T4) to a corpus: the class's
        ``top_by_certainty`` becomes the default retrieval threshold."""
        return cls(corpus, certainty=cfg.top_by_certainty, **kw)

    def _filtered(self, where: Column | None) -> DataFrame:
        # predicate joins BEFORE scoring: non-matching rows are never
        # scored, and a partitioned layout prunes the scan itself
        return self.corpus.filter(where) if where is not None else self.corpus

    def near_vector(
        self,
        vector: list[float],
        k: int = 3,
        certainty: float | None = None,
        where: Column | None = None,
    ) -> DataFrame:
        """Weaviate nearVector (+ optional where): top-k by certainty
        ``(1+cos)/2`` meeting the threshold. Single corpus scan, broadcast
        query, map-side top-k."""
        from vectordb_data_ingestion_spark.operators.similarity import (
            topk_by_certainty_vectorized,
        )

        t = self._threshold(certainty)
        served = self._served(where)
        if served is not None:
            snap, mask = served
            top, cert = snap.dense(mask, vector, k, t)
            schema = StructType(
                [self._id_field(), StructField("certainty", DoubleType())]
            )
            return _frame(snap.spark, schema, [snap.ids[top], cert])
        return topk_by_certainty_vectorized(
            self._filtered(where),
            [(0, list(vector))],
            k=k,
            threshold=t,
            corpus_vec=self.vec_col,
            corpus_id=self.id_col,
        ).drop("q_id")

    def near_text(
        self,
        query: str,
        k: int = 3,
        certainty: float | None = None,
        where: Column | None = None,
        transport_factory=None,
        dim: int | None = None,
    ) -> DataFrame:
        """Weaviate nearText: embed the query text through the same
        transport the ingest side used (operators/enrichment.py — the
        reference's LLM-gateway call, cmfunctions.py:43-71), then
        nearVector. The single query string embeds driver-side (one tiny
        call); the corpus-side plan is identical to :meth:`near_vector`.
        Defaults to the deterministic hermetic transport so tests and
        oracles reproduce; pass ``http_transport_factory(...)`` in a real
        deployment."""
        from vectordb_data_ingestion_spark.operators.enrichment import (
            deterministic_fake_transport,
        )

        if transport_factory is None:
            if dim is None:
                dim = self._corpus_dim()
            transport_factory = deterministic_fake_transport(dim=dim)
        [qvec] = transport_factory()(
            [query.replace("\n", " ")]  # the reference's newline normalize
        )
        return self.near_vector(qvec, k=k, certainty=certainty, where=where)

    def near_object(
        self,
        object_id,
        k: int = 3,
        certainty: float | None = None,
        where: Column | None = None,
    ) -> DataFrame:
        """Weaviate-style nearObject: retrieve by similarity to an
        EXISTING object — look up its stored vector by id (one
        indexed/pruned point read), then run the nearVector plan.

        Deliberate deviation from Weaviate: the anchor object itself is
        EXCLUDED here (Weaviate returns it as the distance-0 top hit).
        Callers of this facade almost always want neighbors, not the
        anchor echoed back; drop the exclusion by calling
        ``near_vector(stored_vector, ...)`` directly if parity matters."""
        anchor = F.col(self.id_col) == F.lit(object_id)
        served = self._served(anchor)
        if served is not None:
            snap, found = served
            pos = found.nonzero()[0]
            vec = snap.matrix[pos[0]] if len(pos) else None
        else:
            row = self.corpus.filter(anchor).select(self.vec_col).first()
            vec = None if row is None else row[self.vec_col]
        if vec is None:
            raise KeyError(f"no object with {self.id_col}={object_id!r}")
        anchor_excluded = F.col(self.id_col) != F.lit(object_id)
        combined = (
            anchor_excluded if where is None else (where & anchor_excluded)
        )
        return self.near_vector(
            [float(x) for x in vec], k=k, certainty=certainty, where=combined
        )

    def bm25(
        self, query: str, k: int = 10, where: Column | None = None
    ) -> DataFrame:
        """Weaviate bm25 keyword mode: Okapi BM25 over the text column."""
        from vectordb_data_ingestion_spark.operators.search import bm25_topk

        served = self._served(where, self.text_col)
        if served is not None:
            snap, mask = served
            ids, scores = snap.bm25(mask, query, k)
            schema = StructType([
                self._id_field(self.corpus.schema[self.id_col].nullable),
                StructField("score_micro", LongType()),
                StructField("rank", IntegerType(), False),
            ])
            return _frame(
                snap.spark, schema, [ids, scores, range(1, len(ids) + 1)]
            )
        terms = [t for t in query.lower().split() if t]
        return bm25_topk(
            self._filtered(where),
            [(0, terms)],
            k=k,
            text_col=self.text_col,
            id_col=self.id_col,
        ).drop("q_id")

    def hybrid(
        self,
        query: str,
        vector: list[float],
        k: int = 10,
        alpha: float = 0.5,
        where: Column | None = None,
        k_rrf: int = 60,
    ) -> DataFrame:
        """Weaviate hybrid mode: dense + BM25 lists fused with weighted
        reciprocal rank (``alpha`` weights the dense list, ``1 - alpha``
        the keyword list, both recall stages bounded to 2k candidates)."""
        from vectordb_data_ingestion_spark.operators.search import (
            bm25_topk,
            rrf_fuse,
        )
        from vectordb_data_ingestion_spark.operators.similarity import (
            topk_by_certainty_vectorized,
        )
        from pyspark.sql.window import Window

        served = self._served(where, self.text_col)
        if served is not None:
            return self._hybrid_local(*served, query, vector, k, alpha, k_rrf)
        base = self._filtered(where)
        dense = topk_by_certainty_vectorized(
            base,
            [(0, list(vector))],
            k=2 * k,
            threshold=0.0,
            corpus_vec=self.vec_col,
            corpus_id=self.id_col,
        ).withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.desc("certainty"), F.asc(self.id_col)
                )
            ),
        )
        terms = [t for t in query.lower().split() if t]
        keyword = bm25_topk(
            base, [(0, terms)], k=2 * k, text_col=self.text_col,
            id_col=self.id_col,
        )
        return rrf_fuse(
            dense,
            keyword,
            id_col=self.id_col,
            k_rrf=k_rrf,
            weight_a=alpha,
            weight_b=1.0 - alpha,
            k=k,
        ).drop("q_id")

    def _hybrid_local(self, snap, mask, query, vector, k, alpha, k_rrf):
        """rrf_fuse(dense top-2k, bm25 top-2k) from the snapshot."""
        top, _ = snap.dense(mask, vector, 2 * k, 0.0)
        keyword, _ = snap.bm25(mask, query, 2 * k)

        def contrib(weight, rank):
            return int(round_half_up(rrf_weight(weight, rank, k_rrf)))

        # the full outer join on id: one entry per dense row (plus its
        # keyword rank, if any), then the keyword-only ids
        kw_rank = {i: r for r, i in enumerate(keyword, 1)}
        dense_ids = snap.ids[top]
        entries = [
            (i, contrib(alpha, r)
             + (contrib(1.0 - alpha, kw_rank[i]) if i in kw_rank else 0))
            for r, i in enumerate(dense_ids, 1)
        ]
        seen = set(dense_ids)
        entries += [
            (i, contrib(1.0 - alpha, r)) for i, r in kw_rank.items()
            if i not in seen
        ]
        ids = np.asarray([i for i, _ in entries], dtype=object)
        micro = np.asarray([m for _, m in entries], dtype=np.int64)
        best = topk_rows(micro, ids, k, -np.inf)
        schema = StructType([
            self._id_field(),
            StructField("rrf_micro", LongType(), False),
            StructField("rank", IntegerType(), False),
        ])
        return _frame(
            snap.spark, schema, [ids[best], micro[best], range(1, len(best) + 1)]
        )

    def rerank(
        self,
        query: str,
        candidates: DataFrame,
        transport_factory,
        k: int = 3,
    ) -> DataFrame:
        """Precision stage over any recall result that still carries the
        text column: pairwise (query, text) scoring, top-k."""
        from vectordb_data_ingestion_spark.operators.search import (
            cross_encoder_rerank,
        )

        cand = candidates.withColumn("__query", F.lit(query)).withColumn(
            "__q_id", F.lit(0)
        )
        return (
            cross_encoder_rerank(
                cand,
                transport_factory,
                k=k,
                query_col="__query",
                text_col=self.text_col,
                query_id="__q_id",
                doc_id=self.id_col,
            )
            .drop("__query", "__q_id")
        )


    def retrieve_context(
        self,
        vector: list[float],
        k: int = 3,
        max_tokens: int | None = None,
        certainty: float | None = None,
        where: Column | None = None,
        url_col: str | None = None,
        tokens_col: str = "n_tokens",
    ) -> DataFrame:
        """The full consumer path in one call (cfg.toml context_top_n +
        as_context semantics): nearVector top-k, then token-budgeted
        context packing with rank-ordered sources. Returns one row:
        (context, n_chunks[, sources][, n_tokens])."""
        from vectordb_data_ingestion_spark.operators.context import (
            build_context,
        )

        served = self._served(
            where, self.text_col, url_col,
            tokens_col if max_tokens is not None else None,
        )
        if served is not None:
            snap, mask = served
            top, _ = snap.dense(mask, vector, k, self._threshold(certainty))
            row = snap.context(
                top, self.text_col, url_col, tokens_col, max_tokens
            )
            fields = [
                StructField("context", StringType(), False),
                StructField("n_chunks", LongType(), False),
            ]
            if url_col:
                u = self.corpus.schema[url_col]
                fields.append(StructField(
                    "sources", ArrayType(u.dataType, u.nullable), False
                ))
            if max_tokens is not None:
                fields.append(StructField("n_tokens", LongType()))
            cells = [[] for _ in fields] if row is None else [[v] for v in row]
            return _frame(snap.spark, StructType(fields), cells)
        hits = self.near_vector(
            vector, k=k, certainty=certainty, where=where
        ).withColumn("q_id", F.lit(0))
        return build_context(
            hits,
            self.corpus,
            max_tokens=max_tokens,
            id_col=self.id_col,
            text_col=self.text_col,
            url_col=url_col,
            tokens_col=tokens_col,
        ).drop("q_id")

    def aggregate(
        self,
        group_by: str | list[str] | None = None,
        where: Column | None = None,
        mean_cols: list[str] | None = None,
    ) -> DataFrame:
        """Weaviate-style ``aggregate``: object counts (optionally per
        ``group_by`` metadata field) with optional per-column means, over
        the predicate-filtered corpus. The filter rides the scan
        (pushdown), the count is one map-side-combinable aggregate —
        metadata analytics never touch the vector column."""
        base = self._filtered(where)
        aggs = [F.count(F.lit(1)).alias("count")]
        for c in mean_cols or []:
            aggs.append(F.round(F.avg(c), 6).alias(f"mean_{c}"))
        if group_by is None:
            return base.agg(*aggs)
        keys = [group_by] if isinstance(group_by, str) else list(group_by)
        return base.groupBy(*keys).agg(*aggs)
