package perfbench

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** A workload: one pass is its op list, run in order by one client. */
trait Workload {
  def name: String
  /** SparkEntry ops of the pass; their outputs go through the oracle. */
  def entryOps: Seq[String]
  def pass(ctx: Ctx, passNo: Int): Unit =
    entryOps.foreach(q => ctx.op(s"queries.$q") {
      ctx.sink(q, SparkEntry.queries(q)(ctx.spark, ctx.genDir))
    })
  /** Traced run only: the layer functions under the ops, each timed on a
    * pre-materialized input so its span is that layer's own work. */
  def layers(ctx: Ctx): Map[String, Double] = Map.empty
  /** Untimed checks beyond the oracle: (check name, passed, detail). */
  def checks(ctx: Ctx): Seq[(String, Boolean, String)] = Seq.empty
  /** Untimed input preparation, once per run. */
  def prepare(ctx: Ctx): Unit = ()
}

object Workloads {
  val all: Map[String, Workload] =
    Seq(EtlCuration, StreamStore).map(w => w.name -> w).toMap

  def rmrf(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** Persist and count: the input of a layer call, outside its span. */
  def ready(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p
  }

  /** Time `f`'s full output drained, in a span named `metric`, and
    * return (metric -> seconds). Cache is left for the caller. */
  def timed(ctx: Ctx, metric: String)(f: => DataFrame): (String, Double) = {
    val t0 = System.nanoTime()
    ctx.op(metric, clear = false) { ctx.drain(f) }
    metric -> (System.nanoTime() - t0) / 1e9
  }
}

/** The batch side: the reference's own job (queue -> fetch -> fuse ->
  * write-back) and the warehouse RFM segmentation over the distributed
  * ntile, as SparkEntry ops. The traced run adds the pipeline, warehouse
  * and corpus-curation (dedup, similarity, TextCorpus) layer calls. */
object EtlCuration extends Workload {
  val name = "etl_curation"
  val entryOps = Seq("pipeline_end_to_end", "agg_rfm_segments")

  override def layers(ctx: Ctx): Map[String, Double] =
    pipelineLayers(ctx) ++ corpusLayers(ctx)

  private def pipelineLayers(ctx: Ctx): Map[String, Double] = {
    import graft.ops.{PageRank, Scd2}
    import graft.pipeline.{ParsePipeline, Queues}
    import graft.plans.GraftOps
    import Workloads._
    val s = ctx.spark
    val k = col("o_orderkey")
    // the tracker/queue shapes pipeline_end_to_end feeds these layers
    val links = ready(Tables.spread(Tables.orders(s, ctx.genDir)).select(
      concat(lit("t"), k % 3).as("sheet_name"), k.as("row_index"),
      when(k % 5 === 0, concat(lit("https://boards.greenhouse.io/co"), k % 7,
          lit("/jobs/"), k))
        .when(k % 5 === 1, concat(lit("https://direct.example.com/j/"), k))
        .otherwise(concat(lit("https://jsheavy.example.com/j/"), k))
        .as("url")))
    val tracker = ready(links.select(col("sheet_name"), col("row_index"),
      col("url").as("link"), lit("").as("canonical_link"),
      lit("").as("company_auto"), lit("").as("role_auto"),
      lit("").as("status"), lit("").as("source")))
    val rich = """<script type="application/ld+json">{"@type":"JobPosting",""" +
      """"title":"Fixture Role","hiringOrganization":{"name":"Fixture Co"}}</script>"""
    val fixtures = ready(links.select(col("url"),
      when(col("url").contains("greenhouse"), lit(null).cast("int"))
        .otherwise(lit(200)).as("direct_status"),
      when(col("url").contains("direct.example"), lit(rich))
        .when(col("url").contains("jsheavy"), lit("<p>loading</p>"))
        .as("direct_html"),
      when(col("url").contains("jsheavy"), lit(rich)).as("rendered_html"),
      when(col("url").contains("greenhouse"), lit("API Role")).as("api_role")))
    val empty = links.select("sheet_name", "row_index", "url")
      .withColumn("status", lit("queued")).filter(lit(false))
    val out = Seq.newBuilder[(String, Double)]
    out += timed(ctx, "pipeline.enqueue_s")(
      Queues.enqueue(links.select("sheet_name", "row_index", "url"), empty))
    val queued = ready(Queues.enqueue(
      links.select("sheet_name", "row_index", "url"), empty))
    out += timed(ctx, "pipeline.parse_s")(ParsePipeline.parse(
      queued.select("sheet_name", "row_index", "url"), fixtures))
    val results = ready(ParsePipeline.parse(
      queued.select("sheet_name", "row_index", "url"), fixtures))
    out += timed(ctx, "pipeline.write_back_s")(
      ParsePipeline.writeBack(tracker, results))
    out += timed(ctx, "functions.canonical_url_s")(links.select(col("row_index"),
      graft.functions.UrlFns.canonical_url(col("url")).as("c")))
    val ev = ready(Tables.events(s, ctx.genDir))
    val perUser = ready(ev.groupBy("user_id")
      .agg(sum(col("value")).as("monetary"), count(lit(1)).as("frequency")))
    out += timed(ctx, "plans.ntile_distributed_s")(GraftOps.ntileDistributed(
      perUser, 4, Seq(col("monetary").desc, col("user_id")), "m"))
    val seg = when(col("event_type").isin("click", "view"), lit("browse"))
      .otherwise(lit("action"))
    val updates = ready(ev.select(col("user_id"), col("ts"),
      col("event_id"), seg.as("seg")))
    out += timed(ctx, "ops.scd2_s")(Scd2.buildHistory(updates,
      col("user_id"), col("ts"), col("event_id"), col("seg")))
    val li = Tables.lineitem(s, ctx.genDir).select("l_orderkey", "l_suppkey")
    val ord = Tables.orders(s, ctx.genDir).select("o_orderkey", "o_custkey")
    val edges = ready(li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select(col("l_suppkey").as("src"),
        (col("o_custkey") + lit(1000000L)).as("dst")))
    out += timed(ctx, "ops.pagerank_s")(PageRank.runConverged(edges,
      maxIterations = 12, epsScaled = PageRank.Scale / 1000000L))
    ctx.spark.catalog.clearCache()
    out.result().toMap
  }

  private def corpusLayers(ctx: Ctx): Map[String, Double] = {
    import graft.dedup.Dedup
    import graft.similarity.Similarity
    import graft.ops.TextCorpus
    import Workloads._
    val s = ctx.spark
    val docs = ready(Tables.spread(Tables.documents(s, ctx.genDir))
      .select("doc_id", "text"))
    val emb = ready(Tables.spread(Tables.embeddings(s, ctx.genDir))
      .select("vec_id", "embedding"))
    val out = Seq.newBuilder[(String, Double)]
    out += timed(ctx, "dedup.minhash_signatures_s")(Dedup.minhashSignatures(
      docs, col("doc_id"), col("text"), numHashes = 32, portable = true))
    out += timed(ctx, "dedup.minhash_pairs_s")(Dedup.minhashPairs(docs,
      col("doc_id"), col("text"), numHashes = 32, minAgreement = 0.5,
      portable = true))
    out += timed(ctx, "dedup.simhash_pairs_s")(Dedup.simhashPairs(docs,
      col("doc_id"), col("text"), maxHamming = 8, portable = true))
    out += timed(ctx, "dedup.embedding_pairs_s")(Dedup.embeddingPairs(emb,
      col("vec_id"), col("embedding"), minCosine = 0.4, portable = true,
      dim = 64, maxBucket = Int.MaxValue))
    val truth = ready(Dedup.ngramJaccardPairs(docs, col("doc_id"),
      col("text"), minJaccard = 0.5).select("id_a", "id_b"))
    val cand = ready(Dedup.minhashPairs(docs, col("doc_id"), col("text"),
      numHashes = 32, minAgreement = 0.5, portable = true)
      .select("id_a", "id_b"))
    val eval = Dedup.pairEval(truth, cand).head()
    out += "dedup.candidate_precision" ->
      eval.getAs[Long]("precision_bp") / 10000.0
    out += timed(ctx, "expressions.text_shingles_s")(docs.select(col("doc_id"),
      graft.functions.TextFns.word_shingles(col("text")).as("sh")))
    out += timed(ctx, "ops.repetition_signals_s")(TextCorpus.repetitionSignals(
      docs, col("doc_id"), col("text")))
    val queries = ready(docs.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 1, 4), " ").as("query_text")))
    out += timed(ctx, "ops.bm25_topk_s")(TextCorpus.bm25TopK(docs,
      col("doc_id"), col("text"), queries, k = 5))
    var built: (DataFrame, DataFrame) = null
    out += timed(ctx, "similarity.ivf_build_s") {
      built = Similarity.ivfBuildQuantized(emb, nlist = 16, lloydIters = 2)
      built._2
    }
    val cent = ready(built._1)
    val lists = ready(built._2)
    val q = ready(emb.filter(col("vec_id") % 50 === 7))
    out += timed(ctx, "similarity.ivf_serve_s")(Similarity.ivfServeQuantized(
      q, cent, lists, emb, 10, nprobe = 4, rescoreK = 15))
    out += timed(ctx, "similarity.bruteforce_topk_s")(
      Similarity.bruteForceTopK(q, emb, 10))
    out += timed(ctx, "expressions.vector_kernels_s")(emb.select(col("vec_id"),
      graft.functions.VectorFns.quantize_i8(col("embedding"),
        graft.functions.VectorFns.quantize_scale(col("embedding"))).as("code")))
    val approx = ready(Similarity.ivfServeQuantized(q, cent, lists, emb, 10,
      nprobe = 4, rescoreK = 15))
    val exact = ready(Similarity.bruteForceTopK(q, emb, 10))
    out += "similarity.recall_at_k" -> Similarity.recallAtK(approx, exact)
      .agg(avg(col("recall"))).head().getDouble(0)
    ctx.spark.catalog.clearCache()
    out.result().toMap
  }
}
