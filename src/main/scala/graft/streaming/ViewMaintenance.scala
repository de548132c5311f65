package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions.col
import graft.ops.IncrementalAgg
import graft.ops.IncrementalAgg.Measure

/** Streaming materialized-view maintenance: each micro-batch is reduced
  * to its partial state ([[IncrementalAgg.state]]) and folded into the
  * persistent state table with [[IncrementalAgg.merge]] — so the stored
  * view is always `state(everything seen so far)`, exactly (monoid
  * measures only), and per-batch work is batch + state sized, never
  * history-sized.
  *
  * Snapshots are VERSIONED and published through a pointer file: batch
  * `b` writes `v{b}`, then atomically renames a staged pointer over
  * `LATEST`. A crash at ANY point leaves the previous pointer (and the
  * snapshot it names) fully intact — there is no delete-then-rename
  * window where the view doesn't exist; a half-written `v{b}` is
  * unreferenced garbage, cleaned by the next successful batch; and a
  * REPLAYED batch (crash after publish, before the stream checkpoint
  * commit) detects its own already-published snapshot — or, when an
  * interleaved admin publish has superseded it, the `_FOLDED`
  * high-water mark ([[SnapshotStore]]) — and skips, so the fold is
  * idempotent in batchId. Readers resolve
  * [[ViewMaintenance.readLatest]] and always see one complete
  * snapshot; the immediately-superseded snapshot is retained for one
  * extra batch so a reader that resolved it mid-publish can finish
  * its scan before the dir is retired. Floats never live in the store — readers finalize with
  * their own projection (e.g. avg = stored sum / stored count). With an
  * ordered file source the final state equals batch-mode aggregation
  * over the same files, asserted in ViewMaintenanceSpec.
  *
  * DELETION ([[deleteFromView]]): the monoid state cannot RETRACT — a
  * deleted source row's contribution to `min`/`max` is unrecoverable
  * from the partials alone — so the takedown path is KEYED
  * RE-AGGREGATION: recompute ONLY the affected groups' partials from
  * the SURVIVING source rows (a pruned, affected-key-sized scan — the
  * `affectedSplit` precedent), splice them over the prior snapshot,
  * and publish through the same staged-write → atomic-pointer
  * protocol. The post-delete view equals `state(survivors)` exactly —
  * the identity the `t27_view_delete` gate hashes at both SFs. */
object ViewMaintenance {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The snapshot dir `LATEST` names — falling back, if the pointer is
    * missing or dangling (a crash in the tiny pointer-replace window on
    * filesystems whose rename refuses to clobber), to the most recently
    * PUBLISHED complete (`_SUCCESS`-marked) versioned snapshot on disk,
    * so recovery needs no operator intervention. None before the first
    * publish.
    *
    * "Most recent" is the snapshot's `_SEQ` publish sequence
    * ([[SnapshotStore]] — monotonic by construction, so immune to
    * coarse filesystem timestamps), then the `_SUCCESS` file's
    * modification time, then the numeric version as final tie-break —
    * NOT the numeric version alone: version names are batch ids except
    * for ADMIN publishes ([[SampleStream.deleteFromSample]],
    * [[deleteFromView]]), whose ids ride far above the stream's so the
    * replay guard can't mistake them for batches. Publishes are
    * sequential (the store family's single-admin contract), so seq
    * order IS publish order; numeric-max would resolve back to a stale
    * admin snapshot after the next stream batch and silently roll that
    * batch's fold back. */
  def latestSnapshot(spark: SparkSession, stateDir: String): Option[String] = {
    val f = fs(spark, stateDir)
    val fromPtr = StatePointer.read(spark, stateDir, "LATEST")
      .map(v => s"$stateDir/$v")
    fromPtr.filter(p => f.exists(new Path(p))).orElse {
      val root = new Path(stateDir)
      if (!f.exists(root)) None
      else f.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
        .flatMap { s =>
          val succ = new Path(s.getPath, "_SUCCESS")
          if (!f.exists(succ)) None
          else Some((
            SnapshotStore.seqOf(spark, s.getPath.toString).getOrElse(-1L),
            f.getFileStatus(succ).getModificationTime,
            s.getPath.getName.drop(1).toLong, s.getPath.toString))
        }
        .sortBy(t => (t._1, t._2, t._3))
        .lastOption.map(_._4)
    }
  }

  /** Current view contents (one complete snapshot, whatever the
    * maintainer is doing concurrently). */
  def readLatest(spark: SparkSession, stateDir: String): Option[DataFrame] =
    latestSnapshot(spark, stateDir).map(spark.read.parquet(_))

  /** The folded-id ledger's live id set — [[BatchStore.read]]'s pointer
    * filter over the `_ids` space, so compacted-away ledger dirs (and a
    * replayed overwrite of one at or below the folded mark) never
    * double-read. Consumers semi-join, so residual duplicates across a
    * base generation and a crash-window batch dir are harmless anyway. */
  private def readIdLedger(spark: SparkSession, stateDir: String,
                           idCol: String): DataFrame =
    BatchStore.read(spark, s"$stateDir/_ids").select(col(idCol))

  /** Fold the view's per-batch folded-id ledger dirs into a compacted
    * base generation when more than `threshold` live dirs have
    * accumulated — the lifecycle bound on `_ids` growth (one dir per
    * lifetime batch otherwise, each a listing unit every takedown
    * pays). Rides [[BatchStore.compactIfOver]] verbatim: staged
    * generation → `_HWM` meta → atomic pointer → GC, idempotent and
    * crash-safe at every step, `keepBatches = 1` preserving the
    * replayed batch's live overwrite target. The fold dedups (ids are
    * a set; the ledger's contract is one fold per id) — and because
    * the takedown's survivor join is a semi-join, a pre-compaction and
    * post-compaction takedown are splice-identical (ViewMaintenanceSpec
    * pins it). Safe between drains, or per batch from [[maintain]]'s
    * `compactIdsOver` policy (the foreachBatch is the single admin). */
  def compactIdLedger(spark: SparkSession, stateDir: String,
                      threshold: Int): Option[BatchStore.Compaction] = {
    BatchStore.compactIfOver(spark, s"$stateDir/_ids", threshold,
      keepBatches = 1,
      // drop the batch column BEFORE dedup — the same id re-delivered
      // into two dirs differs on graft_batch and would survive twice
      merge = Some(_.drop(BatchStore.BatchCol).dropDuplicates()))
  }

  /** The affected-group splice shared by every retraction path: the
    * `affected` keys' partials recompute as
    * `state(survivors ⋉ affected)` (an affected-key-pruned scan) and
    * replace those groups in the prior snapshot through an admin
    * publish. A group whose every row was deleted disappears. */
  private def retractKeys(spark: SparkSession, stateDir: String,
                          keys: Seq[String], measures: Seq[Measure],
                          affected0: DataFrame, survivors: DataFrame): Unit = {
    val prior = latestSnapshot(spark, stateDir)
    prior.foreach { snap =>
      val n = snap.split('/').last.stripPrefix("v").toLong
      // tiny; read twice below — LAZY so the first read materializes it
      // instead of a dedicated per-takedown job
      val affected = affected0.localCheckpoint(false)
      val fresh = IncrementalAgg.state(
        survivors.join(affected, keys, "left_semi"),
        keys.map(col), measures)
      SnapshotStore.fold(spark, stateDir, n + 1000000L, admin = true) { p =>
        p.get.join(affected, keys, "left_anti").unionByName(fresh)
      }
    }
  }

  /** Takedown path for the maintained view: republish the state with
    * `deletedRows`' contributions RETRACTED. `survivors` must be the
    * full surviving source (everything folded so far MINUS the deleted
    * rows — the same caller-supplies-the-corpus contract as
    * [[AnnIndex.refresh]]); only the AFFECTED groups' rows are actually
    * scanned — `deletedRows` must carry the key columns. Run between
    * drains (the store family's admin contract); the admin version id
    * rides far above the stream's batch ids, and reruns converge (the
    * recompute is deterministic in its inputs). */
  def deleteFromView(spark: SparkSession, stateDir: String,
                     keys: Seq[String], measures: Seq[Measure],
                     deletedRows: DataFrame, survivors: DataFrame): Unit =
    retractKeys(spark, stateDir, keys, measures,
      deletedRows.select(keys.map(col): _*).distinct(), survivors)

  /** Start maintaining the view over streaming `rows`. AvailableNow by
    * default (drain-then-stop, the scheduled-refresh shape); pass
    * `continuous = true` for a long-running loop. The per-batch fold,
    * replay guard, publish, and retention all ride the shared
    * [[SnapshotStore.fold]] protocol.
    *
    * `kindCol`: STREAMED TOMBSTONES ([[PostingsStream.maintainPostings]]
    * has the family contract) — `"add"` rows fold as usual, `"del"`
    * rows carry only `idCol` (a unique long row id) and RETRACT at
    * their batch's end. Because the monoid state cannot subtract, the
    * retraction is the keyed re-aggregation of [[deleteFromView]],
    * driven by two pieces of store-kept truth: a per-batch FOLDED-ID
    * ledger (`_ids/graft_batch=<b>`, overwrite-idempotent — so the
    * recompute's survivor set is exactly the rows folded so far, never
    * rows a later batch will add) and the standing tombstone set
    * (`_deletes`, [[BatchStore.delete]] — so a delete arriving BEFORE
    * its add still wins: later adds are masked against it at fold
    * time, the family's re-ingest suppression). `corpus` must supply
    * the source row of EVERY id the stream will ever fold (the
    * [[AnnIndex.RefreshPolicy]] corpus contract): survivors =
    * corpus ⋉ folded-ids ∖ deleted-ids, affected groups =
    * corpus ⋉ the batch's del ids. The maintained view therefore
    * equals `state(all adds − all dels)` — batch-blind, whatever order
    * adds and deletes arrived in — the identity the
    * `t29_stream_view_delete` oracle hashes. Replay converges: the
    * fold is skipped by the `_FOLDED` guard, the id-ledger overwrite
    * and re-applied tombstones are idempotent, and the re-run
    * retraction recomputes the identical splice.
    *
    * Ledger growth: `_ids` holds one tiny dir per batch (ids only) and
    * is read ONLY when a takedown batch arrives — for the scheduled-
    * drain view shape that is lifetime-batch-count dirs of id longs, a
    * listing cost the rare delete path pays, not the fold. The ledger
    * IS a [[BatchStore]] layout (`_ids/graft_batch=<b>` overwrite
    * targets), so long-horizon deployments bound it with the store
    * family's own compaction: `compactIdsOver = Some(n)` runs
    * [[BatchStore.compactIfOver]] on the `_ids` space at each batch
    * start (single-admin safe — the foreachBatch IS the only writer),
    * folding all but the newest ledger dirs into a pointer-protected
    * base generation. Union is order-free and the takedown's survivor
    * semi-join is set-semantics, so compaction can never change a
    * takedown's answer ([[compactIdLedger]] + ViewMaintenanceSpec pin
    * pre == post); reads go through [[BatchStore.read]]'s pointer
    * filter, so they are exact at every instant of a compaction and a
    * replayed batch dir at or below the folded mark is dead on arrival
    * by arithmetic. */
  def maintain(rows: DataFrame, stateDir: String, checkpointDir: String,
               keys: Seq[String], measures: Seq[Measure],
               continuous: Boolean = false,
               kindCol: Option[String] = None,
               idCol: String = "event_id",
               corpus: Option[DataFrame] = None,
               compactIdsOver: Option[Int] = None): StreamingQuery = {
    require(kindCol.isEmpty || corpus.nonEmpty,
      "streamed tombstones need the source corpus — retraction " +
        "re-aggregates affected groups from surviving source rows")
    BatchStore.maintain(rows, checkpointDir, continuous, kindCol) { b =>
      val spark = b.spark
      // standing-tombstone mask: an add of an already-taken-down id
      // must not resurrect it (delete wins across any arrival order)
      val adds =
        if (kindCol.isEmpty || !BatchStore.hasDeletes(spark, stateDir))
          b.adds
        else b.adds.join(BatchStore.readDeletes(spark, stateDir),
          col(idCol) === col("del_id"), "left_anti")
      if (kindCol.nonEmpty) {
        // ledger housekeeping first (single-admin: this fold is the
        // only `_ids` writer, so "between drains" holds per batch); a
        // no-op below the threshold, one listing
        compactIdsOver.foreach(t => compactIdLedger(spark, stateDir, t))
        // folded-id ledger BEFORE the fold: overwrite-idempotent, and a
        // crash between the two leaves an id entry whose fold the
        // replay simply re-runs (the guard hasn't published)
        adds.select(col(idCol))
          .write.mode("overwrite")
          .parquet(s"$stateDir/_ids/${BatchStore.BatchCol}=${b.id}")
      }
      SnapshotStore.fold(spark, stateDir, b.id) { prior =>
        val delta = IncrementalAgg.state(adds, keys.map(col), measures)
        prior match {
          case Some(p) => IncrementalAgg.merge(Seq(p, delta), keys, measures)
          case None    => delta
        }
      }
      // the batch's tombstones land AFTER its fold (same-batch
      // add+del: delete wins), then the affected groups recompute
      // from the folded survivors
      if (b.nDels > 0) {
        BatchStore.deleteNonEmpty(spark, stateDir, b.dels.select(idCol))
        val c = corpus.get
        val folded = readIdLedger(spark, stateDir, idCol)
        val allDels = BatchStore.readDeletes(spark, stateDir)
        val survivors = c
          .join(folded, Seq(idCol), "left_semi")
          .join(allDels, col(idCol) === col("del_id"), "left_anti")
        val affected = c
          .join(b.dels.select(col(idCol).cast("long").as("del_id")),
            col(idCol) === col("del_id"), "left_semi")
          .select(keys.map(col): _*).distinct()
        retractKeys(spark, stateDir, keys, measures, affected, survivors)
      }
    }
  }
}
