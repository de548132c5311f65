package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import graft.dedup.Dedup

/** Streaming corpus admission — the ingest loop a growing 100 TB training
  * corpus actually runs: new documents arrive in micro-batches, each batch
  * is MinHash-signed and screened against the persistent signature store
  * via [[Dedup.minhashIncremental]] (asymmetric probe: corpus×corpus
  * candidates are never generated), verdicts append to an audit sink, and
  * ONLY the admitted docs' signatures append to the store — so later
  * batches automatically screen against everything admitted before them.
  *
  * Per-batch cost scales with |batch| × collision rate, never |corpus|²;
  * the store carries `numHashes` longs per admitted doc (the certified
  * lossless parquet round trip — see the `m8_signature_store` gate).
  * Admission order is first-seen-wins, so with an ordered source (file
  * stream + `maxFilesPerTrigger`) the verdict stream is deterministic and
  * equals the same batches replayed through batch-mode admission —
  * asserted in DedupStreamSpec.
  *
  * Crash-safety mirrors [[LateData]]: both sinks are laid out as
  * `graft_batch=<id>` subdirectories written with overwrite, so a batch
  * re-delivered after a crash-before-checkpoint-commit replaces its own
  * previous attempt (no duplicate verdicts, no duplicate signatures), and
  * the corpus read excludes the replaying batch's own subdir so its rows
  * never screen against their own first-attempt signatures.
  *
  * Store lifecycle: run [[BatchStore.compact]] on `sigStoreDir` between
  * drains to fold old batch subdirs into a base generation — the corpus
  * read goes through [[BatchStore.read]], so store-read cost stays flat
  * in lifetime batch count instead of degrading into a small-file
  * listing problem (gated end-to-end by `m8_store_compaction`). */
object DedupStream {

  /** Signature-store schema: (id, sig[numHashes]) + the per-batch
    * partition column the crash-safe sink layout adds. */
  private def sigSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("sig", ArrayType(LongType)),
    StructField("graft_batch", LongType)))

  /** Vector-store schema for [[admitVectors]]: the admitted docs' float
    * embeddings (the semantic screen's corpus side) + the per-batch
    * partition column. */
  private def vecSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("v", ArrayType(org.apache.spark.sql.types.FloatType)),
    StructField("graft_batch", LongType)))

  /** Tombstone `docIds` (first column) out of the signature store — the
    * takedown path: subsequent admission batches stop screening against
    * the deleted docs (content that left the corpus must not veto new
    * arrivals), and the next compaction physically drops their
    * signature rows. Run between drains. */
  def deleteDocs(spark: org.apache.spark.sql.SparkSession,
                 sigStoreDir: String, docIds: DataFrame): Unit =
    BatchStore.delete(spark, sigStoreDir, docIds)

  /** Streaming SEMANTIC admission — [[admitDocuments]]' sibling for the
    * embedding-cosine family: each micro-batch of `(doc_id, embedding)`
    * rows is screened against the persistent store of ADMITTED vectors
    * via [[Dedup.embeddingIncremental]] (hyperplane-LSH bucket probe,
    * asymmetric: corpus×corpus pairs are never generated), verdicts
    * append to the audit sink, and only the admitted docs' float
    * vectors extend the store — the streaming loop of the batch-mode
    * `m8_semantic_dedup` composition, for the corpus where "the same
    * content, re-phrased" keeps arriving.
    *
    * `planes` is a store MODE (every batch must sign with the same
    * count — the [[admitDocuments]] bands contract); size it once from
    * the expected corpus via [[Dedup.choosePlanes]]. Crash-safety,
    * per-batch subdir overwrite, the size-aware broadcast policy, the
    * tombstone mask ([[deleteDocs]] on the vector store), and the
    * compaction hook all mirror [[admitDocuments]] — per-batch cost is
    * |batch| × bucket-collision rate, never |corpus|². Gated
    * end-to-end by `m8_stream_semantic` (unrolled incremental replay in
    * the oracle, both SFs); batch parity + crash replay in
    * DedupStreamSpec.
    *
    * `kindCol`: STREAMED TOMBSTONES with [[admitDocuments]]' exact
    * semantics — `"del"` rows (doc_id only, embedding never read)
    * tombstone the vector store at their batch's END, and the batch's
    * own dels PRE-MASK the screen corpus, so verdicts reflect
    * post-takedown state (a vector duplicating only content this batch
    * deletes is admitted) and a crash-replay converges
    * verdict-for-verdict. Gated by `t30_semantic_delete`. */
  def admitVectors(vecs: DataFrame, vecStoreDir: String,
                   verdictDir: String, checkpointDir: String,
                   planes: Int, minCosine: Double = 0.95,
                   portable: Boolean = false, dim: Int = 64,
                   continuous: Boolean = false,
                   compactWhenBatchesExceed: Option[Int] = None,
                   broadcastDeltaUpTo: Long = 500000L,
                   kindCol: Option[String] = None): StreamingQuery = {
    val spark = vecs.sparkSession
    BatchStore.maintain(vecs, checkpointDir, continuous, kindCol,
        policy = () => compactWhenBatchesExceed.foreach(t =>
          BatchStore.compactIfOver(spark, vecStoreDir, t,
            dropDeletedOn = Some("id")))) { b =>
      // spread the one-file batch before the screen's per-row work
      // (hyperplane bucketing + candidate cosines) — see
      // [[BatchStore.spreadBatch]]
      val delta = BatchStore.spreadBatch(b.adds)
        .select(col("doc_id").as("id"), col("embedding").as("v"))
        .persist()
      val corpus = screenCorpus(b, vecStoreDir, vecSchema, kindCol)
      // the size decision reuses splitMixed's add count where one ran
      // (delta is 1:1 with add rows here) — a kindCol-free batch pays
      // the one cached-frame count it always did
      val useBroadcast = broadcastDeltaUpTo > 0 &&
        b.nAdds.getOrElse(delta.count()) <= broadcastDeltaUpTo
      val verdicts = Dedup.embeddingIncremental(corpus, delta,
        planes, minCosine, portable, dim,
        broadcastDelta = useBroadcast).persist()
      verdicts.withColumn("batch_id", lit(b.id))
        .write.mode("overwrite")
        .parquet(s"$verdictDir/graft_batch=${b.id}")
      delta.join(
          verdicts.filter(col("verdict") === "admit")
            .select(col("doc_id").as("id")),
          Seq("id"), "left_semi")
        .write.mode("overwrite")
        .parquet(s"$vecStoreDir/graft_batch=${b.id}")
      // the batch's tombstones land LAST: the takedown covers a
      // vector this same batch admitted, and later batches' screens
      // read through the mask
      if (b.nDels > 0)
        BatchStore.deleteNonEmpty(b.spark, vecStoreDir,
          b.dels.select("doc_id"))
      verdicts.unpersist()
      delta.unpersist()
    }
  }

  /** Start the admission stream over a streaming `docs` frame with
    * (doc_id, text) columns. AvailableNow by default: drain what exists,
    * then stop — the scheduled-ingest shape; pass `continuous = true`
    * for a long-running micro-batch loop.
    *
    * `compactWhenBatchesExceed`: the store-lifecycle policy — when set,
    * [[BatchStore.compactIfOver]] runs on `sigStoreDir` (and the ledger)
    * at the between-batches instants [[BatchStore.maintain]] picks,
    * folding old batch dirs into a base generation whenever the live
    * dir count passes the threshold. A scheduled admission loop thus
    * keeps store-read cost bounded for life without any operator
    * running compactions by hand.
    *
    * `kindCol` ([[PostingsStream.maintainPostings]] has the full
    * streamed-tombstone contract): `"add"` rows run the admission
    * pipeline unchanged; `"del"` rows (doc_id only, text never read)
    * tombstone the signature store — and the ledger, when maintained —
    * at the END of their batch. The batch's own dels ALSO pre-mask the
    * prior-corpus screen input, so verdicts reflect POST-takedown
    * state: a new doc duplicating only content this same batch deletes
    * is admitted (content leaving the corpus must not veto arrivals),
    * and — the reason the mask is applied on FIRST RUN, not only
    * observed on replay — a crash-replayed delete-carrying batch
    * screens against exactly the same corpus as the original attempt
    * (the store's tombstones then already contain the batch's dels; the
    * pre-mask makes the union identical), so verdicts AND admitted
    * signatures converge, not merely the tombstone set. The batch's own
    * delta self-screen is untouched (its rows are deterministic batch
    * content either way). A doc added and deleted in ONE batch keeps
    * its verdict row but leaves the store tombstoned — delete wins. */
  def admitDocuments(docs: DataFrame, sigStoreDir: String,
                     verdictDir: String, checkpointDir: String,
                     bands: Int = 8, rowsPerBand: Int = 4,
                     minAgreement: Double = 0.5,
                     portable: Boolean = false,
                     continuous: Boolean = false,
                     labelsDir: Option[String] = None,
                     compactWhenBatchesExceed: Option[Int] = None,
                     broadcastDeltaUpTo: Long = 500000L,
                     kindCol: Option[String] = None)
      : StreamingQuery = {
    BatchStore.maintain(docs, checkpointDir, continuous, kindCol,
        policy = () => compactWhenBatchesExceed.foreach { t =>
          BatchStore.compactIfOver(docs.sparkSession, sigStoreDir, t,
            dropDeletedOn = Some("id"))
          // the ledger folds latest-wins (one row per doc in the base), so
          // its live row count tracks corpus size, not corpus × churn
          labelsDir.foreach(DeltaLedger.compactIfOver(docs.sparkSession, _, t))
        }) { b =>
      val spark = b.spark
      // spread the one-file batch before the signing pass (md5 per
      // shingle) — see [[BatchStore.spreadBatch]]
      val delta = Dedup.minhashSignatures(BatchStore.spreadBatch(b.adds),
        col("doc_id"), col("text"),
        numHashes = bands * rowsPerBand, portable = portable).persist()
      // Screen against everything PRIOR batches admitted, tombstoned
      // docs ([[deleteDocs]]) excluded: a new doc that duplicates ONLY
      // deleted content must be admitted — the content is no longer
      // in the corpus.
      val corpus = screenCorpus(b, sigStoreDir, sigSchema, kindCol)
      // Size-aware screen policy: when the batch is a genuine
      // micro-batch (≤ broadcastDeltaUpTo rows — the count is one
      // cached pass over the already-persisted delta), broadcast its
      // band/sig rows so the stored corpus is only SCANNED — zero
      // corpus-sized shuffles per batch, the term that otherwise
      // grows with corpus lifetime. A big backlog batch (no
      // maxFilesPerTrigger bound) exceeds the cap and takes the
      // shuffle path — a forced broadcast must never be a memory
      // hazard. broadcastDeltaUpTo = 0 disables broadcasting.
      // splitMixed's add count is an upper bound on delta rows (an
      // empty-text doc signs nothing), so reusing it can only make
      // the decision more conservative at the cap boundary — and the
      // broadcast is a join-strategy hint, never a value change; a
      // kindCol-free batch pays the one cached-frame count it always
      // did
      val useBroadcast = broadcastDeltaUpTo > 0 &&
        b.nAdds.getOrElse(delta.count()) <= broadcastDeltaUpTo
      val verdicts = Dedup.minhashIncremental(corpus, delta,
        bands, rowsPerBand, minAgreement, portable,
        broadcastDelta = useBroadcast).persist()
      // Per-batch subdirs with overwrite: a batch replayed after a
      // crash-before-checkpoint-commit REPLACES its previous attempt
      // instead of appending duplicate verdict and signature rows.
      verdicts.withColumn("batch_id", lit(b.id))
        .write.mode("overwrite")
        .parquet(s"$verdictDir/graft_batch=${b.id}")
      // Admitted signatures extend the store; rejected ones are dropped
      // (their surviving twin already stands in for them).
      delta.join(
          verdicts.filter(col("verdict") === "admit")
            .select(col("doc_id").as("id")),
          Seq("id"), "left_semi")
        .write.mode("overwrite")
        .parquet(s"$sigStoreDir/graft_batch=${b.id}")
      // Optional duplicate-group LEDGER: fold this batch's verdict
      // edges (rejected doc → its dup_of) into the maintained
      // (doc_id, cluster_id) labeling, DELTA-PUBLISHED through
      // [[DeltaLedger]] — per-batch READS are two ledger scans with
      // lookup-sized semi-joins (one combined standing-label lookup
      // for batch docs + dup targets, one live-cluster membership
      // read; scans prune through the compacted base and shuffle
      // nothing corpus-sized), the fold runs over that affected
      // neighborhood plus the batch, and the WRITE is just the
      // fold's output dir. Nothing corpus-sized moves per batch, yet
      // the latest-wins read equals reclustering the full
      // verdict-edge graph from scratch (the incremental-fold
      // identity — the fold-blind `m8_stream_clusters` oracle hashes
      // it). Every doc ever seen gets a row; a rejected doc's
      // cluster names the standing twin its content collapsed into —
      // the queryable provenance a corpus audit needs ("where did my
      // document go?").
      labelsDir.foreach { ld =>
        val singles = verdicts
          .select(col("doc_id"), col("doc_id").as("cluster_id"))
        val edges = verdicts.filter(col("verdict") === "reject")
          .select(col("doc_id").as("id_a"), col("dup_of").as("id_b"))
        // CLEAN-BATCH fast path — the common production case: a batch
        // with zero reject edges touches no standing cluster, so the
        // delta is exactly the fresh singletons. One standing-label
        // scan (still required: a re-seen doc must NOT have its
        // standing label clobbered by a fresh (d, d) row — latest
        // batch wins on read) instead of two scans + the whole CC
        // fold. The cheap emptiness probe runs on the persisted
        // verdicts frame.
        if (edges.isEmpty) {
          val standingBatch = DeltaLedger.labelsFor(spark, ld,
            verdicts.select(col("doc_id")), excludeBatch = b.id,
            broadcastLookup = useBroadcast)
          DeltaLedger.write(
            singles.join(standingBatch, Seq("doc_id"), "left_anti"),
            ld, b.id)
        } else {
        val endpoints = edges.select(col("id_a").as("doc_id"))
          .unionByName(edges.select(col("id_b").as("doc_id"))).distinct()
        // every reader excludes this batch's own dir, so a replayed
        // batch folds against the pre-attempt state and its
        // overwrite REPLACES the first attempt
        // the same size decision as the screen: bounded micro-batch
        // lookups broadcast (ledger only scanned); backlog-sized
        // lookups take the shuffled semi-join
        //
        // ONE combined standing-label lookup serves both consumers —
        // batch doc_ids (re-seen docs keep their standing label) and
        // edge endpoints (dup_of targets' clusters are the touched
        // set): endpoints ⊆ batch docs ∪ dup_of targets, so the
        // union covers both, and the result is lookup-sized
        // (persisted for its two derivations below). Two ledger
        // scans per batch total (this + membersOfLive), not four.
        val standingAll = DeltaLedger.labelsFor(spark, ld,
          verdicts.select(col("doc_id"))
            .unionByName(edges.select(col("id_b").as("doc_id"))),
          excludeBatch = b.id,
          broadcastLookup = useBroadcast).persist()
        val touched = standingAll
          .join(endpoints, Seq("doc_id"), "left_semi")
          .select(col("cluster_id"))
        // labelsFor output is current by construction, so the
        // touched ids are LIVE — the one-scan membership read
        // applies (see DeltaLedger.membersOfLive's invariant note)
        val members = DeltaLedger
          .membersOfLive(spark, ld, touched, excludeBatch = b.id,
            broadcastLookup = useBroadcast)
        // a doc_id re-seen in a later batch keeps its STANDING label
        // (left_anti drops its fresh singleton) — one label row per
        // vertex, or the relabel join would fan out
        val standingBatch = standingAll
          .join(verdicts.select(col("doc_id")), Seq("doc_id"), "left_semi")
        val freshSingles =
          singles.join(standingBatch, Seq("doc_id"), "left_anti")
        // materialize ONCE: the fold reads its labels frame ~5 times
        // (touched split, star input, universe, relabel, untouched
        // passthrough) — un-checkpointed, every read would re-run
        // the ledger scans above. The frame is affected-sized by
        // construction, so the checkpoint is tiny; the general
        // incremental() API can't do this itself because its labels
        // input may be corpus-sized (the batch-mode gate), where
        // re-reading parquet is cheaper than materializing.
        // LAZY checkpoint: the first fold action materializes it —
        // an eager one would spend a whole extra per-batch job (and
        // its driver roundtrip) on the same work
        val labelsIn = members.unionByName(standingBatch)
          .unionByName(freshSingles)
          .dropDuplicates("doc_id")
          .localCheckpoint(false)
        DeltaLedger.write(
          graft.ops.ConnectedComponents.incremental(labelsIn, edges),
          ld, b.id)
        standingAll.unpersist()
        }
      }
      // the batch's streamed tombstones land LAST (after the adds'
      // signatures and the ledger fold): the takedown covers even a
      // doc this same batch admitted, the next batch's screen and
      // ledger reads exclude it (both read through the tombstone
      // mask), and the next compaction drops its rows physically
      if (b.nDels > 0) {
        BatchStore.deleteNonEmpty(spark, sigStoreDir, b.dels.select("doc_id"))
        labelsDir.foreach(ld =>
          DeltaLedger.deleteNonEmpty(spark, ld, b.dels.select("doc_id")))
      }
      verdicts.unpersist()
      delta.unpersist()
    }
  }

  /** The screen corpus of one admission batch: the store's live rows
    * under the pinned `schema` (whose last field is `graft_batch`),
    * minus the batch's own dir — a replayed batch must not self-collide
    * against its first attempt's identical rows — and masked by the
    * stored tombstones plus, under `kindCol`, the batch's own dels
    * (post-takedown verdicts and convergent replay; the kindCol-free
    * plan carries no own-dels mask). Existence is checked explicitly: a
    * missing store means "first batch, empty corpus" (an empty frame of
    * the store's row schema), but a genuine read failure (FS error,
    * corrupt files) must fail the batch, NOT silently admit everything
    * against an empty corpus. */
  private def screenCorpus(b: BatchStore.StreamBatch, storeDir: String,
                           schema: StructType,
                           kindCol: Option[String]): DataFrame = {
    val spark = b.spark
    val rowSchema = StructType(schema.dropRight(1))
    val storePath = new Path(storeDir)
    if (!storePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(storePath))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rowSchema)
    else {
      val live = BatchStore.read(spark, storeDir, Some(schema))
        .filter(col(BatchStore.BatchCol) =!= lit(b.id))
        .select(rowSchema.fieldNames.map(col).toIndexedSeq: _*)
      val storeDels =
        if (BatchStore.hasDeletes(spark, storeDir))
          Some(BatchStore.readDeletes(spark, storeDir))
        else None
      val ownDels = kindCol.map(_ => b.dels.select(col("doc_id").as("del_id")))
      (storeDels.toSeq ++ ownDels.toSeq)
        .reduceOption(_ unionByName _)
        .map(d => live.join(d, col("id") === col("del_id"), "left_anti"))
        .getOrElse(live)
    }
  }
}
