"""Streamed near-dup admission against VERSIONED corpus state — the
thirteenth gated streaming class.

``streaming/dedup.py::ingest_dedup_foreach_batch`` proved the
foreachBatch admission shape but re-derives the corpus's MinHash
signatures from raw text every micro-batch — an O(|corpus|) shingling
rescan per batch.  This module keeps the admission STATE itself
incremental, the way a production ingest pipeline would persist it:

  * ``corpus/v=<batch_id>``  — (doc_id, h, shingles, n_shingles): the
    seen-md5 set and the exact shingle sets of every ADMITTED doc
    (bootstrap corpus + kept arrivals), for the exact-dup semi-join and
    the candidate jaccard verification.
  * ``bands/v=<batch_id>``   — (doc_id, band, key): the persisted LSH
    band INDEX of the admitted corpus.  New-batch bands equi-join this
    table on (band, key), so candidate generation touches colliding
    buckets, never the corpus text (at scale this table is
    bucketed/Z-ordered on (band, key) — see sources/writers.py).
  * ``verdicts/v=<batch_id>``— cumulative (doc_id, status, near_dup_of,
    jaccard) admission log, one row per arrived doc, the same contract
    as ``operators/dedup.py::dedup_incremental``.
  * ``shingles/v=<batch_id>`` — the DISTINCT h64 shingle set of the
    admitted corpus, maintained by |Δ|-sized anti-join appends.
  * ``novelty/v=<batch_id>`` — cumulative one-pass INGEST-GATE log
    (doc_id, status, n_shingles, n_seen, novelty): each arrival's
    admission verdict plus its train-shingle contamination against the
    corpus as of the previous batch (the ``doc_split_ngram_novelty``
    measure, computed from the SAME state read as the dedup verdict —
    the sixteenth gated streaming class).

State follows the versioned discipline of ``streaming/state.py``, so a
crash-replayed batch re-derives (never duplicates) its output.
Restart-resume is pinned by tests/test_streaming_dedup.py.

Semantics (what the staged DuckDB oracle
``operators/dedup.py::dedup_incremental_staged_oracle`` mirrors): each
micro-batch's docs are judged against the corpus as of the PREVIOUS
batch — exact if the md5 is already present, near-dup if the best
band-colliding jaccard ≥ threshold (max 6dp jaccard, ties to min
corpus id, exactly dedup_incremental's rule), else kept — and ONLY
kept docs join the corpus for subsequent batches.  A doc that
near-dups a REJECTED earlier arrival is therefore kept: rejected docs
never enter the index.  Docs within one micro-batch are judged
independently (new-vs-corpus, never new-vs-new), matching the batch
operator's contract.

The local parquet union-rewrite of the corpus per version is the
documented stand-in for a table format's append (same caveat as
scd2.py); the band table is append-only by construction.

Reference parity note: the reference (Twitter-Followers-Patterns
MapReduce) is batch-only; this is extension surface (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_followers_patterns_mapreduce_spark.operators.dedup import (
    LSH_BANDS,
    MINHASH_K,
    _band_struct,
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
        corpus="doc_id LONG, h STRING, shingles ARRAY<LONG>, n_shingles INT",
        bands="doc_id LONG, band INT, key STRING",
        shingles="sh LONG",
        verdicts="doc_id LONG, status STRING, near_dup_of LONG, jaccard DOUBLE",
        novelty="doc_id LONG, status STRING, n_shingles LONG, n_seen LONG, novelty DOUBLE",
    )


def docs_file_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source document stream, one staged file per micro-batch."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _state_table(docs: DataFrame) -> DataFrame:
    """(doc_id, h, shingles, n_shingles, sig0..sig{K-1}): the ONE
    shingle+md5 pass a document set pays, with ONE ROW PER INPUT DOC.
    Both state views derive from it — ``_sig_table`` (corpus
    projection) and ``_band_rows`` (LSH index rows) — so a micro-batch
    hashes its shingles exactly once (the earlier shape ran the
    shingle pipeline independently in each helper, doubling the
    dominant md5 cost per batch).

    Docs too short to shingle (< n_shingle tokens, dropped by
    ``shingled_docs``) are kept on the spine via the LEFT join with an
    EMPTY shingle set and NULL signatures: they can never be near-dup
    candidates (no band rows, no verification pairs) but their md5
    participates in the exact-dup check and, once admitted, blocks
    later identical arrivals — the same contract as the batch
    ``dedup_incremental`` (spine from new_docs) and the staged oracle
    (verdict for every arriving doc, exact dups by md5 regardless of
    length).  The previous INNER join silently dropped such docs from
    both the verdict log and the corpus state.

    Shingles persist as h64 BIGINT arrays, not strings: the state
    parquet and the verification ``array_intersect`` carry 8-byte
    longs instead of ~40-char text (60-bit collisions are negligible;
    the intersection/union COUNTS — all jaccard needs — are identical,
    matching the staged oracle's string-set arithmetic exactly)."""
    from twitter_followers_patterns_mapreduce_spark.functions.hashing import (
        h64_sql,
        minhash_perm_sql,
    )
    from twitter_followers_patterns_mapreduce_spark.operators.dedup import (
        shingled_docs,
    )

    # straight from the shingle projection — ONE md5 pass per shingle;
    # the K signature mins are cheap affine permutations of the already
    # hashed array (minhash_signatures' own trick, applied here to the
    # SAME array that persists as corpus state)
    hashed = shingled_docs(docs).selectExpr(
        "doc_id",
        f"transform(shingles, s_ -> {h64_sql('s_', 'spark')}) AS shingles",
    )
    sig_cols = [
        f"array_min(transform(shingles, h -> {minhash_perm_sql('h', j)})) AS sig{j}"
        for j in range(MINHASH_K)
    ]
    sigs = hashed.selectExpr(
        "doc_id", "shingles", "size(shingles) AS n_shingles", *sig_cols
    )
    return (
        docs.select("doc_id", F.md5("text").alias("h"))
        .join(sigs, "doc_id", "left")
        .withColumn(
            "shingles",
            F.coalesce(F.col("shingles"), F.expr("CAST(array() AS ARRAY<BIGINT>)")),
        )
        .withColumn("n_shingles", F.coalesce(F.col("n_shingles"), F.lit(0)))
    )


def _sig_table(state: DataFrame) -> DataFrame:
    """Corpus-state projection of a ``_state_table`` frame."""
    return state.select("doc_id", "h", "shingles", "n_shingles")


def _band_rows(state: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH index rows of a ``_state_table`` frame.
    Unshingleable docs (n_shingles = 0, NULL signatures) emit no band
    rows — they cannot be near-dup candidates."""
    return (
        state.where(F.col("n_shingles") > 0)
        .select(
            "doc_id",
            F.explode_outer(
                F.array(*[_band_struct(k) for k in range(LSH_BANDS)])
            ).alias("bk"),
        )
        .select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )


def _judge_batch(
    batch_sigs: DataFrame,
    batch_bands: DataFrame,
    corpus: DataFrame,
    corpus_bands: DataFrame,
    threshold: float,
) -> DataFrame:
    """Admission verdict for one micro-batch against the current corpus
    state: (doc_id, status, near_dup_of, jaccard) — dedup_incremental's
    exact rule, with the corpus side read from STATE, never recomputed."""
    from pyspark.sql import Window

    # corpus md5s are UNIQUE by construction (an arrival whose md5 is
    # already present is an exact_dup and never admitted), and a left
    # SEMI join is insensitive to right-side duplicates anyway — the
    # old .distinct() here was a pure wasted shuffle+agg of the corpus
    # key column every micro-batch (round 12, guide §2.4)
    exact = (
        batch_sigs.select("doc_id", "h")
        .join(corpus.select("h"), "h", "left_semi")
        .select("doc_id", F.lit(True).alias("is_exact"))
    )
    cand = (
        batch_bands.select(F.col("doc_id").alias("new_id"), "band", "key")
        .join(
            corpus_bands.select(F.col("doc_id").alias("old_id"), "band", "key"),
            ["band", "key"],
        )
        .select("new_id", "old_id")
        .distinct()
    )
    verified = (
        cand.join(
            batch_sigs.select(
                F.col("doc_id").alias("new_id"),
                F.col("shingles").alias("sa"),
                F.col("n_shingles").alias("na"),
            ),
            "new_id",
        )
        .join(
            corpus.select(
                F.col("doc_id").alias("old_id"),
                F.col("shingles").alias("sb"),
                F.col("n_shingles").alias("nb"),
            ),
            "old_id",
        )
        .select(
            "new_id",
            "old_id",
            F.size(F.array_intersect("sa", "sb")).alias("common"),
            "na",
            "nb",
        )
    )
    jac = F.round(
        F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common")),
        6,
    )
    w = Window.partitionBy("new_id").orderBy(F.desc("jaccard"), F.asc("old_id"))
    best = (
        verified.select("new_id", "old_id", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return (
        batch_sigs.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(
            best.select(F.col("new_id").alias("doc_id"), "old_id", "jaccard"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.when(F.col("is_exact"), F.lit("exact_dup"))
            .when(F.col("old_id").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.when(~F.coalesce(F.col("is_exact"), F.lit(False)), F.col("old_id")).alias(
                "near_dup_of"
            ),
            F.when(~F.coalesce(F.col("is_exact"), F.lit(False)), F.col("jaccard")).alias(
                "jaccard"
            ),
        )
    )


def admit_apply_stream(
    spark: SparkSession,
    docs: DataFrame,
    bootstrap: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    batch_ids: list[int] | None = None,
) -> None:
    """Drain ``docs`` (availableNow) through versioned-state admission.
    ``bootstrap`` seeds the corpus when no prior state exists (its sigs
    are computed exactly once — by the first batch, or its crash
    replay).  Blocks until drained.  ``batch_ids`` (if given) collects
    micro-batch ids — the multi-batch/restart test hook."""

    def _admit(batch_df: DataFrame, prev: dict[str, DataFrame] | None) -> dict[str, DataFrame]:
        if prev is None:
            # bootstrap pays its single shingle+md5 pass once too: both
            # state views derive from one checkpointed projection.
            # The bootstrap corpus arrives as a single-row-group local
            # parquet (one task); a MODEST 8-way fan parallelizes the
            # dominant md5+shingle projection without inflating every
            # downstream micro-stage the way the rejected round-11
            # 32-way fan of the PER-BATCH state did (16.5 -> 21.5 s) —
            # this one runs once, on the largest input the pipeline
            # ever hashes, and fan_out's scan-parallelism guard makes
            # it a no-op on an already well-split cluster scan
            from twitter_followers_patterns_mapreduce_spark.sources.readers import (
                fan_out,
            )

            boot_state = _state_table(
                fan_out(bootstrap, 8)
            ).localCheckpoint(eager=True)
            corpus = _sig_table(boot_state)
            corpus_bands = _band_rows(boot_state)
            corpus_sh = boot_state.select(F.explode("shingles").alias("sh")).distinct()
            prev_verdicts = None
            prev_novelty = None
        else:
            corpus = prev["corpus"]
            corpus_bands = prev["bands"]
            corpus_sh = prev["shingles"]
            prev_verdicts = prev["verdicts"]
            prev_novelty = prev["novelty"]
        # ONE shingle+md5 pass per micro-batch: the checkpointed state
        # table is referenced by the exact check, the band join, the
        # verification join, the admitted fold AND the contamination
        # report (the earlier two-helper shape ran the shingle pipeline
        # twice per batch)
        batch_state = _state_table(batch_df).localCheckpoint(eager=True)
        batch_sigs = _sig_table(batch_state)
        batch_bands = _band_rows(batch_state)

        verdicts = _judge_batch(
            batch_sigs, batch_bands, corpus, corpus_bands, threshold
        ).localCheckpoint(eager=True)
        kept = verdicts.where(F.col("status") == "kept").select("doc_id")

        # contamination in the SAME pass (the production ingest gate is
        # dedup + train-overlap over one state read): each arriving
        # doc's distinct shingles semi-join the persisted TRAIN shingle
        # set — per-batch cost is |batch shingles|, never O(corpus) —
        # and novelty is the complementary fraction (NULL for docs too
        # short to shingle: no shingle evidence either way)
        batch_sh = batch_state.select("doc_id", F.explode("shingles").alias("sh"))
        seen = (
            batch_sh.join(corpus_sh, "sh", "left_semi")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_seen"))
        )
        novelty = (
            verdicts.select("doc_id", "status")
            .join(batch_state.select("doc_id", "n_shingles"), "doc_id")
            .join(seen, "doc_id", "left")
            .selectExpr(
                "doc_id",
                "status",
                "CAST(n_shingles AS BIGINT) AS n_shingles",
                "CAST(coalesce(n_seen, 0) AS BIGINT) AS n_seen",
                "CASE WHEN n_shingles > 0 THEN"
                " floor((n_shingles - coalesce(n_seen, 0))"
                " / CAST(n_shingles AS DOUBLE) * 1000000) / 1000000"
                " END AS novelty",
            )
        )

        new_corpus = corpus.unionByName(
            batch_sigs.join(kept, "doc_id", "left_semi")
        )
        new_bands = corpus_bands.unionByName(
            batch_bands.join(kept, "doc_id", "left_semi")
        )
        # distinct-by-construction append: only the kept docs' shingles
        # NOT already in the set ship into the new version — |Δ|-sized
        # work, no full-state re-distinct
        kept_new_sh = (
            batch_sh.join(kept, "doc_id", "left_semi")
            .select("sh")
            .distinct()
            .join(corpus_sh, "sh", "left_anti")
        )
        new_sh = corpus_sh.unionByName(kept_new_sh)
        new_verdicts = (
            verdicts
            if prev_verdicts is None
            else prev_verdicts.unionByName(verdicts)
        )
        new_novelty = (
            novelty
            if prev_novelty is None
            else prev_novelty.unionByName(novelty)
        )
        return {
            "corpus": new_corpus,
            "bands": new_bands,
            "shingles": new_sh,
            "verdicts": new_verdicts,
            "novelty": new_novelty,
        }

    drain(
        spark, docs, state_tables(state_dir), checkpoint_dir, _admit, batch_ids
    ).awaitTermination()


def verdicts_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The cumulative admission log — latest committed version."""
    return read_state(spark, state_tables(state_dir))["verdicts"]


def novelty_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The cumulative one-pass ingest-gate log — (doc_id, status,
    n_shingles, n_seen, novelty) per arrival, latest committed version."""
    return read_state(spark, state_tables(state_dir))["novelty"]
