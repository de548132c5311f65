package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
import graft.similarity.Similarity

/** VERSIONED quantized ANN index with a retrain → re-encode → atomic-swap
  * lifecycle — the piece [[IndexStream]] deliberately leaves out: its
  * fixed stored quantizer makes incremental maintenance bit-exact, but
  * under distribution drift (a new embedding model, a new content
  * domain) the frozen coarse centroids stop describing the data and
  * recall degrades unboundedly. [[refresh]] is the gated recourse: the
  * quantizer retrains on the drained live corpus, EVERY live vector is
  * re-encoded against it, and the whole (centroids, lists) pair flips in
  * one atomic pointer swap — readers can never observe lists encoded
  * against one quantizer served through another (the mixed-quantizer
  * wrong-answer state that in-place retraining would produce).
  *
  * Layout: `root/v=<n>/centroids` (parquet) + `root/v=<n>/lists` (a
  * [[BatchStore]], seeded as a published generation and extended by
  * [[maintain]]'s per-batch appends), with the root `_CURRENT` pointer
  * naming the live version ([[StatePointer]] — atomic rename publish).
  * Centroids and lists travel under ONE version dir, so the single
  * pointer flip is the only commit point.
  *
  * Crash-safety of [[refresh]]: the new version is STAGED invisibly
  * (pointer still names the old one) — a crash anywhere during staging
  * leaves the live version fully intact and a rerun overwrite-converges;
  * after the flip, superseded version dirs are GC'd keeping the
  * immediately-previous one for in-flight readers (the
  * [[SnapshotStore]] retire convention). A maintenance batch replayed
  * ACROSS a swap is fenced by arithmetic: the rebuilt lists publish with
  * their high-water mark pinned to the highest batch id the rebuild
  * consumed ([[BatchStore.seedBase]]), so a re-delivered already-folded
  * batch dir is dead on arrival under the pointer filter.
  *
  * Deletion composes: [[delete]] tombstones the current version's lists
  * ([[IndexStream.readLists]] masks them at serve), and [[refresh]]
  * rebuilds from the masked read — deleted vectors are physically absent
  * from the new version, and the tombstone set is carried forward so an
  * out-of-contract re-ingest of a taken-down id stays suppressed. */
object AnnIndex {

  private val Pointer = "_CURRENT"
  private val ResidualMeta = "_RESIDUAL"

  /** Drift-TRIGGERED refresh policy for [[maintain]] — the monitoring
    * half of the refresh lifecycle (the `compactWhenBatchesExceed`
    * precedent): each monitored batch records its mean
    * residual-to-assigned-centroid (`mean(1 − csim)`, a by-product of
    * the encode's own assignment — no extra corpus pass), and when a
    * batch's residual exceeds `residualFactor ×` the live version's
    * TRAINING residual (stamped into the version dir at publish), the
    * stream runs [[refresh]] at the end of that batch — a
    * between-batches instant, so the next batch encodes against the new
    * version automatically and a crash-replay of the triggering batch
    * is fenced by the rebuild's pinned high-water mark. Self-limiting:
    * the post-refresh baseline is trained ON the drifted data, so the
    * same drift cannot re-trigger — a planted drift stream refreshes
    * exactly once (AnnIndexSpec).
    *
    * The corpus `source` must satisfy [[refresh]]'s contract at every
    * batch end: the float vector of EVERY live id, including ids this
    * very stream has admitted (a superset is fine — [[refresh]]
    * semi-joins to the live list ids and fails closed on partial
    * coverage). The residual statistic is a float mean (a monitoring
    * trigger with wide margins, not a gated value — shuffle-order ulps
    * cannot flip a ≥ factor-sized threshold crossing). A pre-policy
    * version dir carries no training residual; monitored batches over
    * it record their statistic but never trigger (the baseline appears
    * at the next init/refresh publish). */
  case class RefreshPolicy(residualFactor: Double, source: RefreshCorpus,
                           nlist: Int = 16, lloydIters: Int = 2) {
    require(residualFactor > 0.0,
      s"residualFactor must be positive: $residualFactor")
  }

  /** Where a triggered [[refresh]] finds the live float vectors (the
    * lists store holds only int8 codes — re-encoding needs sources). */
  sealed trait RefreshCorpus

  /** Caller-pinned snapshot — the test/replay shape: the rebuild trains
    * on exactly the frame the caller captured when wiring the policy.
    * Production streams prefer [[StoreCorpus]]: a pinned frame taken at
    * wire time goes stale the moment the stream admits or tombstones a
    * vector behind it. */
  case class PinnedCorpus(vecs: DataFrame) extends RefreshCorpus

  /** The maintained float-vector store itself, read AT TRIGGER TIME —
    * the production shape: `dir` is an [[DedupStream.admitVectors]]-
    * layout [[BatchStore]] of `(id LONG, v ARRAY<FLOAT>)` rows, read
    * through the pointer filter with a PINNED schema (fail-closed on
    * drift, the vecSchema contract) and anti-joined against the store's
    * standing tombstones — so the rebuild trains on precisely the live
    * corpus at the between-batches trigger instant, with takedowns
    * excluded, and no caller has to keep a snapshot fresh by hand.
    * [[refresh]]'s full-coverage require still holds underneath: a
    * store that has drifted out of sync with the index's live ids fails
    * the rebuild rather than silently shrinking it. */
  case class StoreCorpus(dir: String) extends RefreshCorpus

  /** Pinned-schema tombstone-masked live read of a [[StoreCorpus]] dir,
    * renamed to [[refresh]]'s (vec_id, embedding) contract. */
  private def readStoreCorpus(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(FloatType)),
      StructField(BatchStore.BatchCol, LongType)))
    val live = BatchStore.read(spark, dir, Some(schema))
      .select(col("id"), col("v"))
    val masked =
      if (BatchStore.hasDeletes(spark, dir))
        live.join(BatchStore.readDeletes(spark, dir),
          col("id") === col("del_id"), "left_anti")
      else live
    masked.select(col("id").as("vec_id"), col("v").as("embedding"))
  }

  /** The training-time mean residual (fixed-point, ×1e6) stamped into
    * version `v`'s dir at publish — the refresh policy's baseline. */
  private[streaming] def versionResidual(spark: SparkSession, root: String,
                                         v: Long): Option[Long] =
    StatePointer.read(spark, vdir(root, v), ResidualMeta)
      .collect { case s if s.matches("-?\\d+") => s.toLong }

  /** `mean(1 − csim)` of `assigned` rows ([[Similarity.ivfAssignSim]]
    * output) as a fixed-point long (×1e6); None for an empty frame. */
  private def residualFp(assigned: DataFrame): Option[Long] = {
    val r = assigned.agg(avg(lit(1.0) - col("csim"))).collect()(0)
    if (r.isNullAt(0)) None else Some(math.round(r.getDouble(0) * 1e6))
  }

  private def vdir(root: String, v: Long) = s"$root/v=$v"
  private def listsDir(root: String, v: Long) = s"${vdir(root, v)}/lists"
  private def centDir(root: String, v: Long) = s"${vdir(root, v)}/centroids"

  /** The live version, if the index was ever initialized. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    StatePointer.read(spark, root, Pointer)
      .collect { case s if s.matches("\\d+") => s.toLong }

  private def liveVersion(spark: SparkSession, root: String): Long =
    currentVersion(spark, root).getOrElse(throw new IllegalStateException(
      s"AnnIndex at $root is not initialized — run init() first"))

  /** Build version 1 from `corpus` (vec_id, embedding) and publish it.
    * Fails if the index already exists — a re-init would orphan the
    * maintenance stream's checkpoint ids. */
  def init(spark: SparkSession, root: String, corpus: DataFrame,
           nlist: Int = 16, lloydIters: Int = 2): Unit = {
    require(currentVersion(spark, root).isEmpty,
      s"AnnIndex at $root is already initialized — use refresh() to rebuild")
    publishVersion(spark, root, 1L, corpus, hwm = -1L, nlist, lloydIters,
      carryDeletes = None)
  }

  /** Stage version `nv` (train + encode + optional tombstone carry),
    * flip the root pointer, GC superseded versions (keeping nv − 1 for
    * in-flight readers). */
  private def publishVersion(spark: SparkSession, root: String, nv: Long,
                             vecs: DataFrame, hwm: Long, nlist: Int,
                             lloydIters: Int,
                             carryDeletes: Option[DataFrame]): Unit = {
    val (cent, lists) = Similarity.ivfBuildQuantized(vecs, nlist, lloydIters)
    cent.write.mode("overwrite").parquet(centDir(root, nv))
    BatchStore.seedBase(spark, listsDir(root, nv), lists, hwm)
    carryDeletes.foreach(d => BatchStore.delete(spark, listsDir(root, nv), d))
    // training-residual baseline for the drift policy, stamped INSIDE
    // the still-staged version dir (invisible until the pointer flip):
    // one extra assignment pass over the build corpus, paid only at
    // init/refresh — the per-batch monitor then compares against it
    // for free. An EMPTY residual (empty training frame) stamps
    // NOTHING — a 0 baseline would make `r > factor * 0` fire on every
    // monitored batch with any positive residual (refresh-per-batch
    // thrash), so versionResidual stays None and the trigger's
    // strictly-positive-baseline guard keeps it inert, exactly like a
    // pre-policy version dir.
    residualFp(Similarity.ivfAssignSim(
      vecs.select(col("vec_id").as("cand_id"), col("embedding").as("cv")),
      spark.read.parquet(centDir(root, nv))))
      .foreach(trainRes => StatePointer.publish(spark, vdir(root, nv),
        ResidualMeta, trainRes.toString))
    StatePointer.publish(spark, root, Pointer, nv.toString)
    // GC (idempotent; crash here leaves dead dirs the pointer ignores):
    // retire all but the new and immediately-previous versions
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(root)))
      fs.listStatus(new Path(root)).foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory && n.startsWith("v=") &&
            n.stripPrefix("v=").toLong < nv - 1)
          fs.delete(s.getPath, true)
      }
  }

  /** Incremental maintenance against the CURRENT version's fixed
    * quantizer — [[IndexStream.maintainIndex]]'s contract (unique
    * vec_ids, per-batch crash-safe overwrite dirs), version-resolved at
    * every batch so a between-drains [[refresh]] redirects the next
    * drain automatically. `kindCol` enables the mixed add/delete feed
    * ([[IndexStream.maintainIndex]]): `"del"` rows tombstone the
    * CURRENT version's lists after the batch's adds land — [[refresh]]
    * then carries the set forward like any other tombstone. */
  def maintain(vecs: DataFrame, root: String, checkpointDir: String,
               continuous: Boolean = false,
               compactWhenBatchesExceed: Option[Int] = None,
               kindCol: Option[String] = None,
               refreshPolicy: Option[RefreshPolicy] = None)
      : StreamingQuery = {
    val spark = vecs.sparkSession
    BatchStore.maintain(vecs, checkpointDir, continuous, kindCol,
        policy = () => compactWhenBatchesExceed.foreach(t =>
          BatchStore.compactIfOver(spark,
            listsDir(root, liveVersion(spark, root)), t,
            dropDeletedOn = Some("cand_id")))) { b =>
      val sp = b.spark
      val v = liveVersion(sp, root)
      val target = s"${listsDir(root, v)}/${BatchStore.BatchCol}=${b.id}"
      // monitored encode keeps the assignment similarity so the drift
      // statistic is a by-product of the batch's own encode (one agg
      // over the persisted batch-sized frame, never a corpus pass);
      // the unmonitored path is IndexStream's, byte-identical to
      // before the policy existed
      val batchRes: Option[Long] = refreshPolicy match {
        case None =>
          IndexStream.encodeAgainst(b.adds, centDir(root, v))
            .write.mode("overwrite").parquet(target)
          None
        case Some(_) =>
          val centPath = new Path(centDir(root, v))
          require(centPath
              .getFileSystem(sp.sparkContext.hadoopConfiguration)
              .exists(centPath),
            s"centroid store missing at ${centDir(root, v)} — refusing " +
              "to encode against an empty quantizer")
          val assigned = Similarity.ivfAssignSim(
              BatchStore.spreadBatch(b.adds)
                .select(col("vec_id").as("cand_id"),
                  col("embedding").as("cv")),
              sp.read.parquet(centDir(root, v)))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          assigned
            .withColumn("scale",
              graft.functions.VectorFns.quantize_scale(col("cv")))
            .withColumn("code",
              graft.functions.VectorFns.quantize_i8(col("cv"), col("scale")))
            .select("cand_id", "cent_id", "code")
            .write.mode("overwrite").parquet(target)
          val r = residualFp(assigned)
          assigned.unpersist()
          r
      }
      // deletes land BEFORE a triggered refresh, so the rebuild
      // excludes them and carries the tombstone set forward
      if (b.nDels > 0)
        BatchStore.deleteNonEmpty(sp, listsDir(root, v),
          b.dels.select("vec_id"))
      // trigger check at batch END — a between-batches instant: the
      // next batch resolves the new version, and a crash-replay of
      // THIS batch is fenced by the rebuild's pinned hwm (its re-write
      // lands under the pointer filter, dead on arrival); the replayed
      // batch's recomputed residual compares against the REFRESHED
      // baseline (trained on the drifted data), so it cannot
      // double-trigger
      // the baseline must be STRICTLY positive: a 0 baseline (a corpus
      // whose vectors sit exactly on its centroids) carries no usable
      // drift scale — factor × 0 would fire on ANY positive residual,
      // and the post-refresh baseline could stay 0, so the trigger
      // would never self-limit; such a degenerate store behaves like
      // the documented un-stamped case instead (monitor records, never
      // triggers)
      for (p <- refreshPolicy; r <- batchRes;
           base <- versionResidual(sp, root, v)
           if base > 0L && r > p.residualFactor * base)
        refresh(sp, root,
          p.source match {
            case PinnedCorpus(vecs) => vecs
            case StoreCorpus(dir) => readStoreCorpus(sp, dir)
          },
          p.nlist, p.lloydIters)
    }
  }

  /** Tombstone `ids` (first column = vec_ids) out of the current
    * version — [[IndexStream.deleteVectors]] semantics. */
  def delete(spark: SparkSession, root: String, ids: DataFrame): Unit =
    BatchStore.delete(spark, listsDir(root, liveVersion(spark, root)), ids)

  /** Serve top-k through the current version: one pointer resolve, then
    * centroids and tombstone-masked lists from the SAME version dir —
    * never a mixed-quantizer read. */
  def serve(spark: SparkSession, root: String, queries: DataFrame,
            corpus: DataFrame, k: Int, nprobe: Int = 4,
            rescoreK: Int = 15): DataFrame = {
    val v = liveVersion(spark, root)
    Similarity.ivfServeQuantized(queries,
      spark.read.parquet(centDir(root, v)),
      IndexStream.readLists(spark, listsDir(root, v)),
      corpus, k, nprobe, rescoreK)
  }

  /** The retrain → re-encode → atomic-swap lifecycle step. `corpus`
    * must supply the float vector of EVERY live id (the lists store
    * holds only int8 codes — re-encoding needs the source vectors);
    * partial coverage fails closed rather than silently rebuilding a
    * shrunken index. Run BETWEEN drains (the [[BatchStore.compact]]
    * admin contract). Returns the new version id.
    *
    * The rebuilt index equals a from-scratch
    * [[Similarity.ivfBuildQuantized]] over the live (tombstone-masked)
    * corpus — the identity the `t19_quantizer_refresh` oracle replays —
    * and the new lists publish with hwm pinned to the highest consumed
    * batch id, fencing any post-swap replay of an already-folded
    * batch. */
  def refresh(spark: SparkSession, root: String, corpus: DataFrame,
              nlist: Int = 16, lloydIters: Int = 2): Long = {
    val v = liveVersion(spark, root)
    val ld = listsDir(root, v)
    val liveIds = IndexStream.readLists(spark, ld)
      .select(col("cand_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vecs = corpus.select(col("vec_id"), col("embedding"))
      .join(liveIds, col("vec_id") === col("cand_id"), "left_semi")
    val (nLive, nVec) = (liveIds.count(), vecs.count())
    require(nVec == nLive,
      s"corpus covers $nVec of $nLive live ids — refusing to rebuild a " +
        "partial index (a takedown is a delete(), not a missing vector)")
    val dels =
      if (BatchStore.hasDeletes(spark, ld))
        Some(BatchStore.readDeletes(spark, ld))
      else None
    publishVersion(spark, root, v + 1, vecs,
      hwm = BatchStore.maxBatchId(spark, ld), nlist, lloydIters, dels)
    liveIds.unpersist()
    v + 1
  }
}
