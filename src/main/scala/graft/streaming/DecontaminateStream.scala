package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.functions.TextFns
import graft.ops.Provenance

/** Streaming benchmark DECONTAMINATION — the batch `m8_decontaminate`
  * screen ([[graft.ops.TextCorpus.decontaminate]], the n-gram-overlap
  * test run before training on scraped corpora) moved to ADMISSION time:
  * each micro-batch of `(doc_id, text)` arrivals is screened against the
  * static held-out eval set, clean rows pass through to the admitted
  * sink, and contaminated rows are PARKED in a quarantine sink carrying a
  * V3-style provenance token (`decontam:{n_hits=…, w=…}` — the
  * [[graft.ops.Provenance]] trail an auditor reads to learn why a row
  * never reached training). An ingest pipeline composes this in front of
  * [[DedupStream.admitDocuments]]: contamination is decided per document
  * against a FIXED benchmark, so screening at the gate (instead of a
  * corpus-wide sweep before each training run) costs one broadcast join
  * per batch and keeps eval contamination out of every downstream store.
  *
  * Scale shape: the benchmark's distinct shingle set is derived ONCE per
  * stream start (not per batch — the eval set is static for the life of
  * the run) and broadcast into each batch's probe, so per-batch cost is
  * |batch| shingles × a broadcast hash lookup — the corpus is never
  * shuffled and nothing grows with stream lifetime. The verdict is
  * BATCH-BLIND by construction (a static benchmark means a doc's verdict
  * is independent of every other doc), so the streamed union over waves
  * equals the batch screen over the union — the gate identity
  * `m8_stream_decontaminate` hashes.
  *
  * Crash-safety mirrors [[DedupStream]]: both sinks are laid out as
  * `graft_batch=<id>` subdirectories written with overwrite, so a batch
  * re-delivered after a crash-before-checkpoint-commit replaces its own
  * previous attempt (no duplicate parked rows, no duplicate admissions).
  */
object DecontaminateStream {

  /** Start the screen over a streaming `docs` frame with (doc_id, text)
    * columns. `benchmark` is the static eval set (same columns; only its
    * text is read). AvailableNow by default — the scheduled-ingest
    * shape; `continuous = true` for a long-running micro-batch loop.
    *
    * Parked rows carry (doc_id, text, n_hits, source, batch_id) where
    * `n_hits` is the count of DISTINCT benchmark `w`-shingles the doc
    * shares (the [[graft.ops.TextCorpus.decontaminate]] statistic) and
    * `source` is the provenance token. Admitted rows carry
    * (doc_id, text, batch_id). */
  def screen(docs: DataFrame, benchmark: DataFrame,
             admittedDir: String, flaggedDir: String, checkpointDir: String,
             w: Int = 5, continuous: Boolean = false): StreamingQuery = {
    // The benchmark shingle set is computed once and kept as a local
    // checkpoint: an eval set is small by contract (thousands of docs,
    // not the corpus), and re-deriving it per batch would re-scan the
    // benchmark source every few seconds for the life of the stream.
    val benchShingles = benchmark
      .select(explode(TextFns.word_shingles(col("text"), w)).as("shingle"))
      .distinct()
      .localCheckpoint()
    BatchStore.maintain(docs, checkpointDir, continuous) { b =>
      // spread the one-file batch before the shingle explode — see
      // [[BatchStore.spreadBatch]]
      val delta = BatchStore.spreadBatch(b.adds).persist()
      // word_shingles dedups within the doc, so count(*) after the
      // join is the DISTINCT overlap count — exactly the batch
      // operator's statistic.
      val hits = delta
        .select(col("doc_id"),
          explode(TextFns.word_shingles(col("text"), w)).as("shingle"))
        .join(broadcast(benchShingles), Seq("shingle"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      val judged = delta
        .join(hits, Seq("doc_id"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .persist()
      judged.filter(col("n_hits") > 0)
        .withColumn("source", Provenance.render_token("decontam", Seq(
          "n_hits" -> col("n_hits"),
          "w" -> lit(w))))
        .withColumn("batch_id", lit(b.id))
        .write.mode("overwrite")
        .parquet(s"$flaggedDir/graft_batch=${b.id}")
      judged.filter(col("n_hits") === 0)
        .drop("n_hits")
        .withColumn("batch_id", lit(b.id))
        .write.mode("overwrite")
        .parquet(s"$admittedDir/graft_batch=${b.id}")
      judged.unpersist()
      delta.unpersist()
    }
  }
}
