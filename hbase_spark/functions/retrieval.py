"""Lexical retrieval over the document corpus: TF-IDF and BM25.

The keyword-search counterpart of functions/similarity.py's embedding
search — the scoring side of an inverted index, expressed as DataFrame
aggregates so it runs where the corpus lives instead of exporting to a
search cluster.  Published curation pipelines use exactly this shape
for corpus audit queries ("which documents mention X") and for
retrieval-based decontamination checks.

Scale shape: the "index" is two aggregate frames — per-document term
frequencies keyed by 8-byte xxhash64 term hashes, and per-term
document frequencies — built in one tokenize map stage + hash-agg
each; document text never crosses an exchange.  A query is a handful
of terms: the term list broadcast-joins against the tf frame (semi-
join prunes every non-matching posting map-side), corpus statistics
(N, avgdl) ride as a 1-row broadcast, and top-k per query is a
TakeOrdered — no global sort, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hbase_spark.sources.tables import materialize

from .text import _ascii_tokens


def term_frequencies(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document term frequencies: (id, hw, tf, dl) with ``dl`` the
    document token length — the postings frame both scorers read.
    One map stage + one hash-agg; terms travel hashed.
    """
    base = docs.select(F.col(id_col), _ascii_tokens(text_col).alias("_t"))
    return (
        base.select(id_col, F.size("_t").alias("dl"), F.explode("_t").alias("_w"))
        .groupBy(id_col, "dl", F.xxhash64("_w").alias("hw"))
        .agg(F.count("*").cast("long").alias("tf"))
    )


def document_frequencies(tf: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(hw, df) document frequencies from the postings frame."""
    return tf.groupBy("hw").agg(F.count("*").cast("long").alias("df"))


def corpus_stats(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """1-row (n_docs, avgdl) frame, cross-joined into scoring plans."""
    return docs.select(F.size(_ascii_tokens(text_col)).alias("_dl")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.avg("_dl").alias("avgdl"),
    )


def _query_terms(spark: SparkSession, queries: list[tuple[int, str]]) -> DataFrame:
    """(query_id, hw) distinct query-term hashes from literal query
    strings, tokenized with the shared portable tokenizer.  Standard
    short-query convention: distinct terms, unit query weight.
    """
    q = spark.createDataFrame(queries, "query_id long, qtext string")
    # LocalTableScan on purpose — see similarity.batched_cosine_topk
    return (
        q.select("query_id", F.explode(_ascii_tokens("qtext")).alias("_w"))
        .select("query_id", F.xxhash64("_w").alias("hw"))
        .distinct()
    )


def tfidf_score(
    tf: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Classic ltc-style TF-IDF: per (query, doc)
    ``sum (1 + ln tf) * ln(n_docs / df)`` over matching terms."""
    return (
        tf.join(F.broadcast(qterms), "hw")
        .join(F.broadcast(dfreq.join(qterms.select("hw").distinct(), "hw")), "hw")
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .groupBy("query_id", id_col)
        .agg(
            F.sum(
                (F.lit(1.0) + F.log("tf"))
                * F.log(F.col("n_docs") / F.col("df"))
            ).alias("score")
        )
    )


def bm25_score(
    tf: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    *,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 with the Lucene-style non-negative idf:
    ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))``,
    ``score = sum idf * tf (k1+1) / (tf + k1 (1 - b + b dl/avgdl))``.
    Everything is a rational/log function of integer counts, so a SQL
    twin reproduces every score bit-for-bit up to float rounding.
    """
    return (
        tf.join(F.broadcast(qterms), "hw")
        .join(F.broadcast(dfreq.join(qterms.select("hw").distinct(), "hw")), "hw")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", id_col)
        .agg(
            F.sum(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("score")
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    *,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    shards: int = 1,
) -> DataFrame:
    """Top-``k`` BM25 hits per query: (query_id, doc_id, rank, score),
    rank tie-broken deterministically by doc id.  The per-query
    partition count is ¦queries¦ — the window ranks each query's
    matched postings only (docs sharing no term never enter), so the
    sort input is the matched set, not the corpus.

    A stop-word-ish query term can still match most of the corpus; for
    that case pass ``shards > 1``: a first window takes the top-k
    within each (query, doc-hash shard) — partitions of 1/shards the
    matched set — and the final per-query window ranks at most
    ``shards * k`` survivors.  Results are identical to the
    single-stage form (the global top-k is contained in the union of
    per-shard top-ks); the default stays 1 because two windows cost
    an extra shuffle the common selective query never needs.
    """
    spark = docs.sparkSession
    # The postings frame feeds both the score join and the df agg —
    # materialized so the corpus tokenizes once, not per consumer
    # (the persisted-index role an inverted index plays in a search
    # engine; at 100 TB this frame is what you'd write to parquet).
    tf = materialize(term_frequencies(docs, id_col=id_col, text_col=text_col))
    qt = _query_terms(spark, queries)
    # Corpus stats derived from the postings frame instead of a second
    # tokenize scan of the corpus (optimization guide §1.2/§2.3):
    # per-doc length already rides on tf; documents absent from tf are
    # token-less and contribute 0 to the length sum, so only n_docs
    # needs the docs frame — a zero-column count, not a tokenize.
    n_docs = docs.agg(F.count("*").cast("long").alias("n_docs"))
    sum_dl = (
        tf.groupBy(id_col)
        .agg(F.max("dl").alias("_dl"))
        .agg(F.sum("_dl").cast("double").alias("_sum_dl"))
    )
    stats = n_docs.crossJoin(sum_dl).select(
        "n_docs",
        (F.col("_sum_dl") / F.col("n_docs")).alias("avgdl"),
    )
    scored = bm25_score(
        tf,
        document_frequencies(tf, id_col=id_col),
        stats,
        qt,
        id_col=id_col,
        k1=k1,
        b=b,
    )
    order = (F.col("score").desc(), F.col(id_col).asc())
    if shards > 1:
        ws = Window.partitionBy(
            "query_id", F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards))
        ).orderBy(*order)
        scored = (
            scored.withColumn("_sr", F.row_number().over(ws))
            .filter(F.col("_sr") <= k)
            .drop("_sr")
        )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", "score")
    )
