package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.TextCorpus

/** Incremental maintenance of a BM25 postings index — the SPARSE
  * counterpart of [[IndexStream]]'s dense ANN lists: new document
  * batches are tokenized and their index partials appended to a
  * [[BatchStore]], so the retrieval index keeps up with ingest without
  * ever re-scanning the standing corpus.
  *
  * WHY PARTIALS COMPOSE: doc_ids are unique across batches (the same
  * caller contract as [[IndexStream]] — upstream admission enforces
  * at-most-once ingest), so every BM25 index frame is a disjoint union
  * of per-batch frames: tf rows are per-(doc, word) facts, dl rows
  * per-doc facts, and df — the one frame aggregated across documents —
  * is a per-word SUM of per-batch document counts. The serve path
  * re-aggregates the df partials and hands the frames to
  * [[TextCorpus.bm25ScoreTopK]], the batch build's own scoring core,
  * so the served ranking is BIT-IDENTICAL to rebuilding the index from
  * the full corpus (`t14_postings_maintain` certifies this end to end
  * against the batch oracle).
  *
  * ONE FRAME PER BATCH: the partials ship as one union-typed frame
  * (`kind` ∈ tf|dl|df, plus per-occurrence `tp` position rows when the
  * store is positional; `n` carries the count or position) written to a
  * single `graft_batch=<id>` dir — under the store family's read
  * contract (serve between drains/batches, like [[BatchStore
  * .compact]]), a reader sees each batch all-or-nothing, and a replay
  * after a crash-before-checkpoint-commit overwrites its previous
  * attempt wholesale, the same crash contract as
  * [[DedupStream]]/[[IndexStream]]. Split per-kind stores would break
  * that batch-granularity: a crash between the kind writes leaves tf
  * visible with dl missing, which silently drops the batch's docs from
  * scoring until the replay — repairable only with an extra per-batch
  * commit marker. Each batch
  * file is written sorted by (kind, word), so parquet row-group stats
  * prune the serve's kind filters instead of paying a full-file scan.
  *
  * Store lifecycle: [[compactIndex]] folds old batch dirs through
  * [[BatchStore.compact]] with a merge that re-sums the df partials
  * (one row per word per base generation — the vocabulary never
  * accumulates per-batch copies) and passes the tf/dl facts through
  * untouched. */
object PostingsStream {

  /** Write-once root marker: present iff EVERY batch in the store
    * carries positional (`tp`) rows. Underscore-prefixed so Spark's
    * file index ignores it, like [[BatchStore]]'s `_BASE`. */
  private val PositionsMarker = "_POSITIONS"

  /** Write-once root marker recording the store's [[TextCorpus.Analyzer]]
    * spec — a whole-store mode, like positions: every batch must be
    * tokenized identically or queries analyzed one way would silently
    * miss documents indexed another. Absent = the raw whitespace
    * regime. Serve paths READ the analyzer from here and apply it to
    * the query side, so a maintained store can never be queried through
    * the wrong analysis. */
  private val AnalyzerMarker = "_ANALYZER"

  private def fsFor(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether `storeDir` was maintained with `positions = true`. */
  def hasPositions(spark: SparkSession, storeDir: String): Boolean =
    fsFor(spark, storeDir).exists(new Path(storeDir, PositionsMarker))

  /** The analyzer `storeDir` was maintained with (None = raw
    * whitespace tokenization). Throws on an unparsable marker — a
    * future-format store must fail closed. */
  def storeAnalyzer(spark: SparkSession, storeDir: String)
      : Option[TextCorpus.Analyzer] = {
    val p = new Path(storeDir, AnalyzerMarker)
    val fs = fsFor(spark, storeDir)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val spec = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                 finally in.close()
      Some(TextCorpus.Analyzer.parse(spec))
    }
  }

  private def hasAnyBatchDir(spark: SparkSession, storeDir: String): Boolean = {
    val fs = fsFor(spark, storeDir)
    val p = new Path(storeDir)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith(s"${BatchStore.BatchCol}="))
  }

  /** The per-batch index partial of `docs` (doc_id, text): tf, dl and
    * df rows union-typed under `kind`; with `positions`, also one `tp`
    * row per token occurrence (`n` = 0-based position — positions only
    * ever enter phrase matching as differences, so the base is free). */
  private[streaming] def batchPartial(docs: DataFrame,
                                      positions: Boolean = false,
                                      analyzer: Option[TextCorpus.Analyzer] =
                                        None): DataFrame = {
    val words = TextCorpus.tokenize(docs, col("doc_id"), col("text"),
      analyzer)
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
      .select(lit("tf").as("kind"), col("doc_id"), col("word"), col("n"))
    // dl = Σ_word tf: derived from tf (one tokenize pass per batch)
    val dl = tf.groupBy("doc_id").agg(sum("n").as("n"))
      .select(lit("dl").as("kind"), col("doc_id"),
        lit(null).cast("string").as("word"), col("n"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("n"))
      .select(lit("df").as("kind"), lit(null).cast("long").as("doc_id"),
        col("word"), col("n"))
    val base = tf.unionByName(dl).unionByName(df)
    if (!positions) base
    else base.unionByName(
      TextCorpus.positional(docs, col("doc_id"), col("text"), "doc_id", "pos",
          analyzer)
        .select(lit("tp").as("kind"), col("doc_id"), col("word"),
          col("pos").cast("long").as("n")))
  }

  /** Start the maintenance stream over a streaming `docs` frame with
    * (doc_id, text) columns. AvailableNow by default (drain-then-stop);
    * `continuous = true` for a long-running micro-batch loop. The
    * compaction policy runs where [[BatchStore.maintain]] places it: at
    * drain start, or (continuous) at the top of each micro-batch.
    *
    * `positions = true` additionally stores per-occurrence token
    * positions (`tp` rows, ~dl-sum extra rows per batch) and marks the
    * store, enabling [[phraseServe]]. The mode is a WHOLE-STORE
    * property, checked fail-closed at start: flipping it mid-store
    * would leave old batches invisible to phrase matching (positions
    * missing) or break the marker's promise (positions partial), both
    * silent wrong-answer states — so a mismatch throws instead.
    *
    * `kindCol`: STREAMED TOMBSTONES — when set, the stream is a mixed
    * add/delete feed (the real takedown shape: opt-out events arrive
    * interleaved with ingest, not as out-of-band admin calls): rows
    * whose `kindCol` is `"add"` are indexed as usual, rows marked
    * `"del"` carry only a doc_id and are folded into the store's
    * [[BatchStore]] tombstone set as part of the same batch — adds
    * land first, then the batch's deletes publish, so a delete and its
    * own add arriving in ONE batch leave the doc tombstoned (delete
    * wins: a takedown must not lose to ingest ordering). Any other
    * kind value fails the batch (a mis-tagged row silently ingested or
    * silently dropped are both wrong answers). Replay after a crash
    * converges: the add dir is overwritten wholesale and the re-applied
    * delete lands as one more duplicate-tolerant tombstone dir — every
    * serve and the compaction anti-join see the same set
    * (StreamDeleteSpec). Between batches the store is always in a
    * serve-exact state; mid-batch instants are unobservable under the
    * store family's serve-between-drains contract. */
  def maintainPostings(docs: DataFrame, storeDir: String,
                       checkpointDir: String,
                       continuous: Boolean = false,
                       compactWhenBatchesExceed: Option[Int] = None,
                       positions: Boolean = false,
                       analyzer: Option[TextCorpus.Analyzer] = None,
                       kindCol: Option[String] = None)
      : StreamingQuery = {
    val spark = docs.sparkSession
    // The analyzer is a WHOLE-STORE mode like positions: batches
    // tokenized under different analyzers share one postings space but
    // disagree on what a term is — silent wrong-answer state, so any
    // mismatch between the caller's analyzer and the store's marker
    // fails closed (an EMPTY store adopts the caller's mode; the marker
    // lands with the first batch, see ensureMarker).
    val stored = storeAnalyzer(spark, storeDir)
    require(stored.map(_.spec) == analyzer.map(_.spec) ||
        !hasAnyBatchDir(spark, storeDir),
      s"$storeDir was maintained with analyzer ${stored.map(_.spec)} but " +
        s"this stream supplies ${analyzer.map(_.spec)} — mixed-analysis " +
        "postings silently miss matches; rebuild the store instead")
    if (stored.map(_.spec) != analyzer.map(_.spec) &&
        !hasAnyBatchDir(spark, storeDir))
      // crashed-before-first-batch residue of an attempt under a
      // DIFFERENT analyzer (including an analyzed attempt restarted
      // raw): nothing is indexed, so healing the marker is safe (the
      // _POSITIONS empty-store heal, same argument). The heal must
      // fire on ANY spec mismatch, not only analyzer.isEmpty —
      // ensureMarker never overwrites an existing marker, so a
      // restart with analyzer B over a stale A-marker would otherwise
      // index under B while the marker (and every serve) says A: the
      // exact silent mixed-analysis state the marker exists to
      // prevent.
      fsFor(spark, storeDir).delete(new Path(storeDir, AnalyzerMarker), false)
    if (positions) {
      require(hasPositions(spark, storeDir) ||
          !hasAnyBatchDir(spark, storeDir),
        s"$storeDir already holds position-less batches — a positional " +
          "retrofit would silently hide them from phrase matching; " +
          "rebuild the store instead")
      // the marker itself is created lazily inside the first batch write
      // (see the fold below): a stream that fails before its first
      // batch must not leave a marker-only store that fail-closes a
      // positions=false restart
    } else if (hasPositions(spark, storeDir)) {
      // marker present: fail closed on a store with DATA (appending
      // position-less batches would break phraseServe's completeness);
      // an EMPTY marked store is the crashed-before-first-batch residue
      // of a positional attempt — nothing is hidden by dropping the
      // marker, so heal it and proceed
      require(!hasAnyBatchDir(spark, storeDir),
        s"$storeDir is marked positional — appending position-less " +
          "batches would break phraseServe's completeness; pass " +
          "positions = true")
      fsFor(spark, storeDir).delete(new Path(storeDir, PositionsMarker), false)
    }
    def ensureMarker(): Unit = {
      val fs = fsFor(spark, storeDir)
      if (positions) {
        fs.mkdirs(new Path(storeDir))
        if (!fs.exists(new Path(storeDir, PositionsMarker))) {
          val out = fs.create(new Path(storeDir, PositionsMarker), true)
          out.close()
        }
      }
      analyzer.foreach { a =>
        fs.mkdirs(new Path(storeDir))
        if (!fs.exists(new Path(storeDir, AnalyzerMarker))) {
          val out = fs.create(new Path(storeDir, AnalyzerMarker), true)
          out.write(a.spec.getBytes("UTF-8")); out.close()
        }
      }
    }
    BatchStore.maintain(docs, checkpointDir, continuous, kindCol,
        policy = () => compactWhenBatchesExceed.foreach(t =>
          BatchStore.compactIfOver(spark, storeDir, t,
            merge = Some(mergeDfPartials),
            dropDeletedOn = Some("doc_id")))) { b =>
      // marker BEFORE the rows it describes: a crash between the two
      // leaves a marker-only empty store (healable — see above), never
      // positional data the marker check would refuse to resume
      ensureMarker()
      // NOT spread ([[BatchStore.spreadBatch]]): measured round 18 —
      // tokenize is regex-split cheap, and the positional `tp` rows
      // reach this write without any intervening exchange, so a
      // spread batch writes one file per core and every downstream
      // serve pays the file-count + lost per-file (kind, word)
      // clustering (t15/t17/t20/t22 regressed 10-40% under spread)
      batchPartial(b.adds.select("doc_id", "text"), positions, analyzer)
        .sortWithinPartitions("kind", "word")
        .write.mode("overwrite")
        .parquet(s"$storeDir/${BatchStore.BatchCol}=${b.id}")
      // the batch's tombstones publish AFTER its adds: a same-batch
      // add+del leaves the doc deleted, and a replayed batch re-lands
      // its delete as one more duplicate-tolerant dir (set semantics)
      if (b.nDels > 0)
        BatchStore.deleteNonEmpty(b.spark, storeDir, b.dels.select("doc_id"))
    }
  }

  /** Tombstone `docIds` (first column) out of the index — the takedown
    * path: every serve ([[bm25Serve]]/[[phraseServe]]) immediately
    * excludes the docs AND corrects the corpus statistics they carried
    * (df, dl, n_docs, avgdl — see [[readIndex]]), and the next
    * [[compactIndex]] physically drops their rows from the folded base.
    * Run between drains/serves, like [[compactIndex]]. */
  def deleteDocs(spark: SparkSession, storeDir: String,
                 docIds: DataFrame): Unit =
    BatchStore.delete(spark, storeDir, docIds)

  /** [[BatchStore.compact]] merge for this store: the df frame is
    * REBUILT from the surviving tf facts (df is definitionally the
    * per-word count of (doc, word) tf rows, and every folding batch's
    * tf rows are in the fold input — so the rebuild equals re-summing
    * the partials when nothing was deleted, and is the only correct
    * answer when [[BatchStore.compact]]'s tombstone drop has removed
    * deleted docs' tf rows: their old df partials must not survive
    * them). tf/dl/tp facts pass through untouched; incoming df partials
    * are discarded. */
  val mergeDfPartials: DataFrame => DataFrame = in => {
    val facts = in.filter(col("kind") =!= "df")
      .select("kind", "doc_id", "word", "n")
    val df = facts.filter(col("kind") === "tf")
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(lit("df").as("kind"), lit(null).cast("long").as("doc_id"),
        col("word"), col("n"))
    facts.unionByName(df).sortWithinPartitions("kind", "word")
  }

  /** Fold old batch dirs into a base generation (run between drains —
    * see [[BatchStore]] for the protocol). Tombstoned docs' rows
    * (tf/dl/tp) are physically dropped from the fold and the folded df
    * is rebuilt from the survivors — the store genuinely shrinks. */
  def compactIndex(spark: SparkSession, storeDir: String,
                   keepBatches: Int = 2): BatchStore.Compaction =
    BatchStore.compact(spark, storeDir, keepBatches,
      merge = Some(mergeDfPartials), dropDeletedOn = Some("doc_id"))

  /** The index frames as the scoring core expects them. df stays as
    * PARTIALS (per-batch per-word counts, one row per word per live
    * batch/base dir) — the scoring core restricts to the query
    * vocabulary before summing, so no consumer ever pays a
    * vocabulary-wide aggregate; tf/dl read straight through the
    * pointer filter.
    *
    * DELETION-EXACT: tombstoned docs ([[deleteDocs]]) are anti-joined
    * out of tf and dl, and their still-visible tf rows contribute
    * NEGATIVE df partials — so the scored corpus equals a from-scratch
    * index over the surviving documents in every compaction state:
    * before a fold the negative partials cancel the deleted docs'
    * counts exactly (both derive from the same visible tf rows); after
    * a fold the dropped rows produce no adjustment and the rebuilt base
    * df already excludes them. n_docs/avgdl correct themselves through
    * the filtered dl. */
  def readIndex(spark: SparkSession, storeDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val rows = BatchStore.read(spark, storeDir)
    val tf0 = rows.filter(col("kind") === "tf")
      .select(col("doc_id"), col("word"), col("n").as("tf"))
    val dl0 = rows.filter(col("kind") === "dl")
      .select(col("doc_id"), col("n").as("dl"))
    val df0 = rows.filter(col("kind") === "df")
      .select(col("word"), col("n").as("df"))
    if (!BatchStore.hasDeletes(spark, storeDir)) (tf0, dl0, df0)
    else {
      val dels = BatchStore.readDeletes(spark, storeDir)
      val dfNeg = tf0
        .join(dels, col("doc_id") === col("del_id"), "left_semi")
        .groupBy("word").agg((-count(lit(1))).as("df"))
      (tf0.join(dels, col("doc_id") === col("del_id"), "left_anti"),
       dl0.join(dels, col("doc_id") === col("del_id"), "left_anti"),
       df0.unionByName(dfNeg))
    }
  }

  /** BM25 top-k straight off the maintained store —
    * [[TextCorpus.bm25ScoreTopK]] over [[readIndex]]'s frames, so an
    * index that has lived through any number of refresh batches and
    * compactions serves the exact ranking of a from-scratch build. */
  def bm25Serve(spark: SparkSession, storeDir: String, queries: DataFrame,
                k: Int, k1: Double = 1.2, b: Double = 0.75,
                broadcastQueriesUpTo: Long = Long.MaxValue): DataFrame = {
    val (tf, dl, df) = readIndex(spark, storeDir)
    // the query side is analyzed through the STORE's recorded analyzer
    // — a serve can never mismatch the index's analysis by construction
    TextCorpus.bm25ScoreTopK(tf, dl, df, queries, k, k1, b,
      broadcastQueriesUpTo, storeAnalyzer(spark, storeDir))
  }

  /** Exact-phrase top-k straight off a POSITIONAL store
    * ([[maintainPostings]] with `positions = true`) —
    * [[TextCorpus.phraseMatchTopK]] over the pointer-filtered `tp`
    * rows, the same end-state-identity contract as [[bm25Serve]].
    * Fail-closed on a store without the positions marker: `tp` rows
    * would simply be absent and every phrase would silently match
    * nothing. */
  def phraseServe(spark: SparkSession, storeDir: String, queries: DataFrame,
                  k: Int,
                  broadcastQueriesUpTo: Long = Long.MaxValue): DataFrame = {
    require(hasPositions(spark, storeDir),
      s"$storeDir carries no positional postings (maintainPostings " +
        "positions = true) — refusing to phrase-match against nothing")
    val pos0 = BatchStore.read(spark, storeDir)
      .filter(col("kind") === "tp")
      .select(col("doc_id"), col("n").as("pos"), col("word"))
    val pos =
      if (!BatchStore.hasDeletes(spark, storeDir)) pos0
      else pos0.join(BatchStore.readDeletes(spark, storeDir),
        col("doc_id") === col("del_id"), "left_anti")
    TextCorpus.phraseMatchTopK(pos, queries, k, broadcastQueriesUpTo,
      storeAnalyzer(spark, storeDir))
  }

  /** The store's live positional rows `(doc_id, pos, word)` — pointer-
    * filtered and tombstone-masked, fail-closed on a position-less
    * store. A caller running SEVERAL positional serves against one
    * store state should read this ONCE, persist it, and hand the frame
    * to the frame-based serve overloads below: each serve otherwise
    * re-scans the whole store (guide §6 — read once, share the frame;
    * measured round 18 as 4 store scans under one query). */
  def readPositional(spark: SparkSession, storeDir: String): DataFrame = {
    require(hasPositions(spark, storeDir),
      s"$storeDir carries no positional postings (maintainPostings " +
        "positions = true) — refusing to position-match against nothing")
    val pos0 = BatchStore.read(spark, storeDir)
      .filter(col("kind") === "tp")
      .select(col("doc_id"), col("n").as("pos"), col("word"))
    if (!BatchStore.hasDeletes(spark, storeDir)) pos0
    else pos0.join(BatchStore.readDeletes(spark, storeDir),
      col("doc_id") === col("del_id"), "left_anti")
  }

  /** Proximity (NEAR/k) top-k off a POSITIONAL store —
    * [[TextCorpus.proximityMatchTopK]] over the pointer-filtered,
    * tombstone-masked `tp` rows, query side analyzed through the
    * store's recorded analyzer: the same end-state-identity and
    * fail-closed contracts as [[phraseServe]]. */
  def proximityServe(spark: SparkSession, storeDir: String,
                     queries: DataFrame, k: Int, slop: Int,
                     broadcastQueriesUpTo: Long = Long.MaxValue)
      : DataFrame =
    proximityServeFrom(readPositional(spark, storeDir),
      storeAnalyzer(spark, storeDir), queries, k, slop,
      broadcastQueriesUpTo)

  /** [[proximityServe]] over an already-read (possibly persisted)
    * positional frame + its store's analyzer — the multi-serve shape:
    * one store scan shared by every leg. */
  def proximityServeFrom(pos: DataFrame,
                         analyzer: Option[TextCorpus.Analyzer],
                         queries: DataFrame, k: Int, slop: Int,
                         broadcastQueriesUpTo: Long = Long.MaxValue)
      : DataFrame =
    TextCorpus.proximityMatchTopK(pos, queries, k, slop,
      broadcastQueriesUpTo, analyzer)

  /** Unordered NEAR/w top-k off a POSITIONAL store —
    * [[TextCorpus.nearMatchTopK]] with the same pointer-filter /
    * tombstone-mask / stored-analyzer contracts as the other positional
    * serves. */
  def nearServe(spark: SparkSession, storeDir: String,
                queries: DataFrame, k: Int, slop: Int,
                broadcastQueriesUpTo: Long = Long.MaxValue): DataFrame =
    nearServeFrom(readPositional(spark, storeDir),
      storeAnalyzer(spark, storeDir), queries, k, slop,
      broadcastQueriesUpTo)

  /** [[nearServe]] over an already-read positional frame + analyzer —
    * see [[proximityServeFrom]]. */
  def nearServeFrom(pos: DataFrame, analyzer: Option[TextCorpus.Analyzer],
                    queries: DataFrame, k: Int, slop: Int,
                    broadcastQueriesUpTo: Long = Long.MaxValue): DataFrame =
    TextCorpus.nearMatchTopK(pos, queries, k, slop,
      broadcastQueriesUpTo, analyzer)
}
