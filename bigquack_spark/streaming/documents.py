"""Streaming document ingestion with NEAR-duplicate rejection — the
streaming composition of the batch dedup stack: exact fingerprints
(q30/q130), portable MinHash-LSH banding (q32/q33/q36), and exact-Jaccard
verification, run per micro-batch against a PERSISTED history.

``dedup_against_history`` (streaming/events.py) handles the exact-dup
case statelessly; this sink adds the near-dup case, which needs real
state (the history band table) and therefore lives in ``foreachBatch``
behind streaming/sink.py's batch-id offset gate.  Per micro-batch:

1. fingerprint + band the batch docs (pure projections, the q32 plan);
2. EXACT verdicts: anti/semi join against the history fingerprint set;
3. NEAR verdicts: batch bands ⋈ history bands (the q36 candidate join,
   bounded by band-bucket occupancy) -> exact unigram Jaccard >= the
   threshold against the matched history docs;
4. verdicts land in ``{target}/verdicts/batch_id=N``; novel docs and their
   bands land in ``batch_id=N`` of the history tables, so batch N+1 sees
   batch N's novelty.  Each landing OVERWRITES its batch's directory and
   history reads only ``batch_id < N`` (ExactlyOnceBatchSink's layout): a
   batch replayed after a crash before its offset commit rewrites the
   same rows instead of appending them again or meeting itself.

In-batch duplicate policy: exact copies WITHIN a batch keep the lowest
doc_id (the q30 keep-first rule); near-dups within one batch are left to
the nightly batch pass (q36/q86) — bounded state beats perfect recall
inside a single micro-batch, and the batch pass repairs the residue.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigquack_spark.sources.parquet import _read_parquet, table_path
from bigquack_spark.streaming.sink import BatchGate


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table (schema pinned from the
    batch reader, same recipe as read_events_stream)."""
    path = table_path(sf_dir, "documents")
    batch_schema = _read_parquet(spark, path).schema
    return (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", os.path.basename(path))
        .parquet(sf_dir)
    )


class NearDupIngestSink(BatchGate):
    """foreachBatch handler: exact + near-dup classification against a
    persisted history, landed through the batch-id offset gate."""

    def __init__(
        self,
        target: str,
        num_hashes: int = 8,
        rows_per_band: int = 2,
        threshold: float = 0.9,
    ):
        super().__init__(target)
        self.target = target
        self.num_hashes = num_hashes
        self.rows_per_band = rows_per_band
        self.threshold = threshold
        self.docs_dir = os.path.join(target, "history_docs")
        self.bands_dir = os.path.join(target, "history_bands")
        self.verdicts_dir = os.path.join(target, "verdicts")

    @staticmethod
    def _history(spark: SparkSession, path: str, batch_id: int, empty: str) -> DataFrame:
        if os.path.exists(path):
            return (
                spark.read.parquet(path)
                .filter(F.col("batch_id") < batch_id)
                .drop("batch_id")
            )
        return spark.createDataFrame([], empty)

    def _land(self, batch_df: DataFrame, batch_id: int, lease) -> None:
        from bigquack_spark.operators import dedup as D

        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        batch = batch_df.select(
            "doc_id", "text", F.md5("text").alias("fingerprint")
        ).localCheckpoint(eager=True)
        hist_docs = self._history(
            spark, self.docs_dir, batch_id, "doc_id bigint, text string, fingerprint string"
        )
        hist_fps = hist_docs.select("fingerprint").distinct()

        # in-batch exact keep-first, then exact-vs-history
        keeper = batch.groupBy("fingerprint").agg(F.min("doc_id").alias("__keep"))
        tagged = batch.join(keeper, "fingerprint").withColumn(
            "in_batch_dup", F.col("doc_id") != F.col("__keep")
        )
        tagged = tagged.join(
            hist_fps.withColumn("__hist_hit", F.lit(1)), "fingerprint", "left"
        ).withColumn("exact_dup", F.col("__hist_hit").isNotNull())

        # near-dup: candidates from band collisions vs history
        bands = D.minhash_bands(
            batch, "doc_id", "text", self.num_hashes, self.rows_per_band
        ).localCheckpoint(eager=True)
        hist_bands = self._history(
            spark, self.bands_dir, batch_id, "doc_id bigint, band_id int, band_key string"
        )
        cand = (
            hist_bands.withColumnRenamed("doc_id", "a")
            .join(
                bands.withColumnRenamed("doc_id", "b"),
                ["band_id", "band_key"],
            )
            .select("a", "b")
            .distinct()
        )
        corpus = hist_docs.select("doc_id", "text").unionByName(
            batch.select("doc_id", "text")
        )
        near = (
            D.jaccard_verify(
                cand, corpus, "doc_id", "text",
                shingle_len=1, threshold=self.threshold,
            )
            .select(F.col("b").alias("doc_id"))
            .distinct()
            .withColumn("__near", F.lit(1))
        )
        verdicts = (
            tagged.join(near, "doc_id", "left")
            .select(
                "doc_id", "fingerprint",
                F.when(F.col("exact_dup") | F.col("in_batch_dup"), "exact_dup")
                .when(F.col("__near").isNotNull(), "near_dup")
                .otherwise("novel")
                .alias("verdict"),
            )
            .localCheckpoint(eager=True)
        )
        part = f"batch_id={batch_id}"
        verdicts.write.mode("overwrite").parquet(os.path.join(self.verdicts_dir, part))
        novel_ids = verdicts.filter(F.col("verdict") == "novel").select("doc_id")
        batch.join(novel_ids, "doc_id", "left_semi").write.mode("overwrite").parquet(
            os.path.join(self.docs_dir, part)
        )
        bands.join(novel_ids, "doc_id", "left_semi").write.mode("overwrite").parquet(
            os.path.join(self.bands_dir, part)
        )
