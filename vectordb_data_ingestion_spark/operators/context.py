"""RAG context assembly - the reference's query-side endpoint semantics.

The reference's chatbot consumes retrieval results declared in cfg.toml:
``context_top_n=3`` / ``top_n_documents=3`` (cfg.toml:23-25), per-class
``as_context`` and ``url_property`` (cfg.toml:28-55), ``top_by_certainty``
thresholds - it joins the top chunks' text into the prompt context and
cites their urls. That consumer never ships in the repo; this operator
makes the semantics executable on the engine side: given scored hits and
the chunk table, emit per-query one row ``(context, sources, n_chunks,
n_tokens)`` where chunks are packed best-first under a token budget.

Shape: one broadcast-join of the (tiny, top-k-sized) hit list against the
chunk table, one window per query for the running token total, one ordered
fold into the final string - the corpus is touched only to fetch the k
chunk bodies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

SEPARATOR = "\n\n"


def build_context(
    hits: DataFrame,
    chunks: DataFrame,
    max_tokens: int | None = None,
    query_id: str = "q_id",
    id_col: str = "chunk_id",
    text_col: str = "text",
    url_col: str | None = "url",
    tokens_col: str = "n_tokens",
    score_col: str = "certainty",
    separator: str = SEPARATOR,
) -> DataFrame:
    """Per query: join hits to their chunk rows, order best-first (score
    desc, id asc - deterministic), keep the prefix whose running
    ``tokens_col`` total stays within ``max_tokens`` (None = no budget;
    the first chunk always fits so a context is never empty), concatenate
    texts with ``separator`` and collect source urls in rank order.
    """
    cols = [id_col, text_col] + ([url_col] if url_col else [])
    if max_tokens is not None:
        cols.append(tokens_col)
    joined = broadcast(hits.select(query_id, id_col, score_col)).join(
        chunks.select(*cols), id_col
    )
    w = Window.partitionBy(query_id).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    ranked = joined.withColumn("__rank", F.row_number().over(w))
    if max_tokens is not None:
        running = F.sum(tokens_col).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
        # the kept set is ALWAYS a contiguous rank prefix: token counts
        # are non-negative (NULLs are skipped by SUM), so the running
        # total is non-decreasing in rank and no later, smaller chunk
        # can slip under the budget — a second "contiguous prefix"
        # window pass here would be a per-query no-op sort (review r5)
        ranked = ranked.withColumn("__running", running).filter(
            (F.col("__rank") == 1) | (F.col("__running") <= max_tokens)
        )
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("__rank").alias("r"),
                F.col(text_col).alias("t"),
                *( [F.col(url_col).alias("u")] if url_col else [] ),
                *( [F.col(tokens_col).alias("n")] if max_tokens is not None else [] ),
            )
        )
    )
    aggs = [
        F.array_join(
            F.transform(ordered, lambda s: s["t"]), separator
        ).alias("context"),
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
    ]
    if url_col:
        aggs.append(
            F.transform(ordered, lambda s: s["u"]).alias("sources")
        )
    if max_tokens is not None:
        aggs.append(
            F.sum(tokens_col).cast("bigint").alias("n_tokens")
        )
    return ranked.groupBy(query_id).agg(*aggs)


def pack_context(
    texts: list,
    urls: list | None,
    tokens: list | None,
    max_tokens: int | None,
    separator: str = SEPARATOR,
) -> list | None:
    """Python twin of :func:`build_context` for ONE query whose hits'
    columns are given best-first (``urls`` / ``tokens`` None when not
    requested): the output row ``[context, n_chunks[, sources][,
    n_tokens]]``, or None when there is no hit (the groupBy emits no row).
    Same budget rule, with SQL NULL semantics: the running total skips
    NULL token counts, and a NULL running total fails the budget."""
    if not texts:
        return None
    kept, running = [], None
    for i in range(len(texts)):
        if tokens is not None:
            if tokens[i] is not None:
                running = tokens[i] if running is None else running + tokens[i]
            # (rank = 1) OR (running <= max_tokens)
            if i and (running is None or running > max_tokens):
                continue
        kept.append(i)
    row = [
        separator.join(texts[i] for i in kept if texts[i] is not None),
        len(kept),
    ]
    if urls is not None:
        row.append([urls[i] for i in kept])
    if tokens is not None:
        vals = [tokens[i] for i in kept if tokens[i] is not None]
        row.append(int(sum(vals)) if vals else None)
    return row
