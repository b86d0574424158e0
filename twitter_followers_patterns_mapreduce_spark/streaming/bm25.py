"""Streaming BM25 inverted-index maintenance — query-term postings and
corpus globals as versioned micro-batch state (eighteenth gated
streaming class).

A production search index never rebuilds from the corpus per query: it
maintains (a) the postings of interest and (b) the collection
statistics incrementally as documents arrive.  Both are ADDITIVE:

  * ``postings/v=<batch_id>`` — (doc_id, dl, token, tf) rows for the
    fixed query terms only (|terms|·|matching docs|, never the token
    stream): new docs APPEND (micro-batches carry disjoint docs).
  * ``totals/v=<batch_id>``   — ONE (n_docs, tot_toks) row: batch
    totals fold in by addition.

Per-batch cost is |batch| tokenization + a |terms|-filtered posting
append + a 2-row totals merge; state is postings-of-interest-sized
regardless of stream length.  State follows the versioned discipline of
``streaming/state.py``, so a crash-replayed batch re-derives, never
double-counts.

The gate: postings and totals are commutative monoids, so the state
after any chunking equals the one-shot build, and the registered query
shares ``corpus.doc_bm25_topk_oracle`` directly — the scoring tail
(``corpus.bm25_topk_from_parts``) is literally the same code path the
batch operator runs.

Reference parity note: the reference (Twitter-Followers-Patterns
MapReduce) is batch-only; this is extension surface (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_followers_patterns_mapreduce_spark.functions.textfns import tokens_sql
from twitter_followers_patterns_mapreduce_spark.operators.corpus import (
    BM25_QUERY_TERMS,
    bm25_topk_from_parts,
)
from twitter_followers_patterns_mapreduce_spark.streaming.state import (
    Tables,
    drain,
    read_state,
    tables,
)

#: Schema of staged incoming-document files.
DOCS_SCHEMA = "doc_id LONG, text STRING"


def state_tables(state_dir: str) -> Tables:
    return tables(
        state_dir,
        postings="doc_id LONG, dl INT, token STRING, tf LONG",
        totals="n_docs LONG, tot_toks LONG",
    )


def docs_text_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source document stream, one staged file per micro-batch."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _batch_parts(
    batch_df: DataFrame, terms: tuple[str, ...]
) -> tuple[DataFrame, DataFrame]:
    """(postings, totals) of one micro-batch — the same projections the
    one-shot ``doc_bm25_topk`` builds, over the batch slice only."""
    term_list = ", ".join(f"'{t}'" for t in terms)
    toks = batch_df.selectExpr(
        "doc_id", f"{tokens_sql('text', 'spark')} AS toks"
    ).localCheckpoint(eager=False)
    postings = (
        toks.selectExpr("doc_id", "size(toks) AS dl", "explode(toks) AS token")
        .where(F.expr(f"token IN ({term_list})"))
        .groupBy("doc_id", "dl", "token")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    totals = toks.selectExpr("size(toks) AS dl").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("tot_toks"),
    )
    return postings, totals


def bm25_apply_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    batch_ids: list[int] | None = None,
) -> None:
    """Drain ``stream`` (availableNow) into the versioned index state.
    Blocks until drained."""

    def _fold(batch_df: DataFrame, prev: dict[str, DataFrame] | None) -> dict[str, DataFrame]:
        bpost, btot = _batch_parts(batch_df, terms)
        if prev is None:
            return {"postings": bpost, "totals": btot}
        return {
            "postings": prev["postings"].unionByName(bpost),
            "totals": prev["totals"]
            .unionByName(btot)
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("tot_toks").cast("long").alias("tot_toks"),
            ),
        }

    drain(
        spark, stream, state_tables(state_dir), checkpoint_dir, _fold, batch_ids
    ).awaitTermination()


def bm25_topk_from_state(
    spark: SparkSession,
    state_dir: str,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k served FROM the maintained index — the scoring tail is
    the batch operator's own ``bm25_topk_from_parts``, reading state
    instead of rescanning the corpus."""
    state = read_state(spark, state_tables(state_dir))
    return bm25_topk_from_parts(state["postings"], state["totals"], k=k, k1=k1, b=b)
