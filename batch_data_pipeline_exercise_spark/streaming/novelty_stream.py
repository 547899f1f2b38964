"""Streaming n-gram novelty scoring against a persisted first-occurrence
index.

Batch twin: ``plans/contract5.py doc_incremental_novelty`` — same
semantics, driven by ``foreachBatch``: each document drop is tokenized
ONCE, probed against the stored (gram, first_doc) index with one left
equi join, scored, and the index grows by exactly the batch's novel
grams. History is never re-tokenized OR re-written: index updates are
pure appends of immutable rows (a gram's first_doc never changes).

Crash-safety protocol (the two-table commit): the index append runs
BEFORE the novelty append, and the novelty condition treats an index
hit with ``first_doc >= first_new`` as self-inflicted (this batch's
own grams, written by a crashed earlier attempt) rather than prior
history. Under the module's ordering assumption (doc_ids ingested in
non-decreasing order across drops), a genuine prior occurrence always
has ``first_doc < first_new``, so the two cases cannot be confused.
Every crash window therefore replays to the same tables:

- crash before the index append → nothing written, clean replay;
- crash between index append and novelty append → replay re-appends
  nothing to the index (anti-join on gram) and scores the batch
  correctly via the ``>= first_new`` rule;
- crash after both → replay is anti-joined away by scored doc_ids.

Parity (test-pinned): streaming over any drop slicing equals the
one-shot batch computation, including through a simulated crash
between the two appends.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_data_pipeline_exercise_spark.operators import text

DOCS_SCHEMA = "doc_id BIGINT, text STRING"


def fold_novelty(
    prior_index: DataFrame | None,
    batch: DataFrame,
    id_col: str = "doc_id",
    n: int = 5,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Score a batch against the stored first-occurrence index.

    Returns (novelty, updated_index, fresh_rows):

    - ``novelty``: one row per batch doc (id, n_grams, novel_grams,
      novelty);
    - ``updated_index``: prior ∪ fresh — what the full index looks like
      after this batch (for batch-style callers);
    - ``fresh_rows``: ONLY the new (g, first_doc) rows — what a
      streaming sink should append (index rows are immutable, so an
      append of fresh is the entire update).

    A gram found in the index with ``first_doc >= first_new`` is
    treated as written by a crashed earlier attempt at THIS batch and
    still counts as novel — see the module docstring's protocol.
    """
    # per-doc distinct grams, map-only; batches carry one row per doc_id
    # (see dedup.word_shingles)
    grams = (
        text.word_ngrams_exploded(batch, id_col, "text", n)
        .select(F.col(id_col).alias("doc_id"), "g")
        .localCheckpoint()
    )
    first_new = grams.groupBy("g").agg(F.min("doc_id").alias("first_new"))
    if prior_index is None:
        flagged = (
            grams.join(first_new, "g")
            .withColumn("is_novel", F.col("first_new") == F.col("doc_id"))
        )
        fresh = first_new.select("g", F.col("first_new").alias("first_doc"))
        updated = fresh
    else:
        prior = prior_index.select("g", F.col("first_doc").alias("prior_first"))
        flagged = (
            grams.join(first_new, "g")
            .join(prior, "g", "left")
            .withColumn(
                "is_novel",
                (F.col("prior_first").isNull() | (F.col("prior_first") >= F.col("first_new")))
                & (F.col("first_new") == F.col("doc_id")),
            )
        )
        fresh = first_new.join(prior_index.select("g"), "g", "left_anti").select(
            "g", F.col("first_new").alias("first_doc")
        )
        updated = prior_index.select("g", "first_doc").unionByName(fresh)
    novel = F.sum(F.when(F.col("is_novel"), 1).otherwise(0))
    novelty = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        novel.cast("bigint").alias("novel_grams"),
        (novel.cast("double") / F.count(F.lit(1))).alias("novelty"),
    )
    return novelty, updated, fresh


def stream_documents(spark: SparkSession, raw_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("pathGlobFilter", "docs_*.jsonl")
        .json(raw_dir)
    )


def streaming_novelty(
    spark: SparkSession,
    raw_dir: str,
    warehouse,
    checkpoint_path: str,
    index_table: str = "gram_first_index",
    novelty_table: str = "doc_novelty",
    n: int = 5,
):
    """availableNow stream folding document drops into the novelty table
    and the first-occurrence gram index (append-only; crash-safe per
    the module protocol).

    The persisted index carries the gram size ``n`` it was built with;
    folding with a different ``n`` raises instead of silently mixing
    incomparable gram vocabularies in one table.
    """
    docs = stream_documents(spark, raw_dir)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # NULL doc_ids defeat the scored-docs anti-join replay guard
        batch = batch_df.filter(F.col("doc_id").isNotNull()).dropDuplicates(["doc_id"])
        if warehouse.exists(novelty_table):
            seen = warehouse.read(novelty_table).select("doc_id")
            batch = batch.join(seen, "doc_id", "left_anti")
        prior = None
        if warehouse.exists(index_table):
            prior = warehouse.read(index_table)
            stored_n = prior.select("n").first()
            if stored_n is not None and stored_n["n"] != n:
                raise ValueError(
                    f"gram index {index_table!r} was built with n={stored_n['n']}; "
                    f"refusing to fold n={n} grams into it"
                )
        novelty, _updated, fresh = fold_novelty(prior, batch, n=n)
        # index append FIRST (see crash-safety protocol above)
        fresh_n = fresh.withColumn("n", F.lit(n))
        if warehouse.exists(index_table):
            warehouse.append(fresh_n, index_table)
        else:
            warehouse.overwrite(fresh_n, index_table)
        if warehouse.exists(novelty_table):
            warehouse.append(novelty, novelty_table)
        else:
            warehouse.overwrite(novelty, novelty_table)

    return (
        docs.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
