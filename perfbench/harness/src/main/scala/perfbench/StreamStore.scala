package perfbench

import graft.Tables
import graft.ops.TextCorpus
import graft.similarity.Similarity
import graft.streaming.{AnnIndex, IndexStream, PostingsStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The maintained-store lifecycle, on fresh store dirs every pass: W
  * file waves drained through the postings maintainer (writes), a
  * delete of a fixed id set, compaction (which drops the deleted docs'
  * rows), and a serve (read). The id set is a function of the ids, and
  * the ids move with the seed. The AnnIndex lifecycle runs in the
  * traced run only. */
object StreamStore extends Workload {
  val name = "stream_store"
  val Waves = 3
  val Nlist = 8
  val entryOps = Seq.empty[String]

  private var docWatch, vecWatch: String = _
  private var docs, corpus, standing, docQueries, vecQueries: DataFrame = _
  private var delDocs, delVecs: DataFrame = _
  private var lastRoot: String = _
  private var annRoot: String = _

  private def isDeleted(id: org.apache.spark.sql.Column) = pmod(id, lit(17)) === 3

  /** Stage the waves once per run, like ServeScale: one file per wave,
    * modification times 2 s apart so the file source takes them in
    * order, one file per trigger. Returns the bytes staged. */
  private def stage(spark: SparkSession, df: DataFrame, idCol: String,
                    dir: String): Long = {
    val base = System.currentTimeMillis() - 3600L * 1000
    new java.io.File(dir).mkdirs()
    (0 until Waves).foreach { i =>
      val tmp = s"$dir/_stage$i"
      df.filter(pmod(col(idCol), lit(Waves)) === i).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(dir, f"w$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(base + i * 2000L)
      Workloads.rmrf(new java.io.File(tmp))
    }
    new java.io.File(dir).listFiles().map(_.length).sum
  }

  override def prepare(ctx: Ctx): Unit = {
    val s = ctx.spark
    // plain scans, not cached: every op starts from a cleared cache
    docs = Tables.documents(s, ctx.genDir).select("doc_id", "text")
    corpus = Tables.embeddings(s, ctx.genDir).select("vec_id", "embedding")
    standing = corpus.filter(pmod(col("vec_id"), lit(5)) =!= 4)
    docWatch = s"${ctx.workDir}/waves/docs"
    vecWatch = s"${ctx.workDir}/waves/vecs"
    ctx.info("wave_bytes") = (stage(s, docs, "doc_id", docWatch) +
      stage(s, corpus.filter(pmod(col("vec_id"), lit(5)) === 4), "vec_id",
        vecWatch)).toDouble
    docQueries = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(trim(coalesce(col("text"), lit(""))),
          "\\s+"), 1, 4), " ").as("query_text"))
    vecQueries = corpus.filter(pmod(col("vec_id"), lit(40)) === 1)
    delDocs = docs.filter(isDeleted(col("doc_id"))).select("doc_id")
    delVecs = corpus.filter(isDeleted(col("vec_id"))).select("vec_id")
  }

  private def docStream(s: SparkSession) = s.readStream
    .schema("doc_id BIGINT, text STRING")
    .option("maxFilesPerTrigger", "1").parquet(docWatch)

  override def pass(ctx: Ctx, passNo: Int): Unit = {
    val s = ctx.spark
    val root = s"${ctx.workDir}/pass$passNo"
    val index = s"$root/index"
    ctx.op("streaming.postings_maintain") {
      PostingsStream.maintainPostings(docStream(s), index, s"$root/ck_post")
        .awaitTermination()
    }
    ctx.op("streaming.delete") {
      PostingsStream.deleteDocs(s, index, delDocs)
    }
    ctx.op("streaming.compact") {
      PostingsStream.compactIndex(s, index, keepBatches = 1)
    }
    ctx.op("streaming.bm25_serve") {
      ctx.drain(PostingsStream.bm25Serve(s, index, docQueries, k = 5))
    }
    if (lastRoot != null) Workloads.rmrf(new java.io.File(lastRoot))
    lastRoot = root
  }

  /** Traced run only: the AnnIndex lifecycle on the same waves (init on
    * the standing vectors, maintain, delete, serve, list compaction,
    * serve, refresh), each call its own span. */
  override def layers(ctx: Ctx): Map[String, Double] = {
    val s = ctx.spark
    val ann = s"${ctx.workDir}/ann"
    annRoot = ann
    def step(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      ctx.op(name)(body)
      s"${name}_s" -> (System.nanoTime() - t0) / 1e9
    }
    def serve() = step("streaming.ann_serve") {
      ctx.drain(AnnIndex.serve(s, ann, vecQueries, corpus, k = 5, nprobe = 4))
    }
    def lists = s"$ann/v=${AnnIndex.currentVersion(s, ann).get}/lists"
    val out = Seq(
      step("streaming.ann_init") {
        AnnIndex.init(s, ann, standing, nlist = Nlist, lloydIters = 2)
      },
      step("streaming.ann_maintain") {
        AnnIndex.maintain(s.readStream
            .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
            .option("maxFilesPerTrigger", "1").parquet(vecWatch),
          ann, s"${ctx.workDir}/ck_ann").awaitTermination()
      },
      step("streaming.ann_delete")(AnnIndex.delete(s, ann, delVecs)),
      serve(),
      step("streaming.ann_compact") {
        IndexStream.compactLists(s, lists, keepBatches = 1)
      },
      serve(),
      step("streaming.ann_refresh") {
        AnnIndex.refresh(s, ann, corpus, nlist = Nlist, lloydIters = 2)
      })
    // the two serves are reported as their sum
    out.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  /** The store identities the specs assert: the last pass's compacted
    * postings store serves the BM25 ranking of the batch operator over
    * the surviving docs (PostingsStreamSpec); in the traced run, the
    * refreshed ANN index serves what a from-scratch quantized build over
    * the surviving vectors serves (AnnIndex.refresh's contract). */
  override def checks(ctx: Ctx): Seq[(String, Boolean, String)] = {
    val s = ctx.spark
    val liveDocs = docs.filter(!isDeleted(col("doc_id")))
    def bm25Set(df: DataFrame) = df
      .withColumn("sfp", round(col("score") * 1e6).cast("long"))
      .select("query_id", "rank", "doc_id", "sfp")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    val served = bm25Set(PostingsStream.bm25Serve(s, s"$lastRoot/index",
      docQueries, k = 5))
    val batch = bm25Set(TextCorpus.bm25TopK(liveDocs, col("doc_id"),
      col("text"), docQueries, k = 5))
    val bm25 = ("streaming.bm25_serve", batch.nonEmpty && served == batch,
      s"served ${served.size} rows, batch ${batch.size}, " +
        s"differ ${(served diff batch).size + (batch diff served).size}")
    if (annRoot == null) return Seq(bm25)
    def annSet(df: DataFrame) = df.select("query_id", "rank", "cand_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val gotAnn = annSet(AnnIndex.serve(s, annRoot, vecQueries, corpus, k = 5,
      nprobe = 4))
    val (cent, lists) = Similarity.ivfBuildQuantized(
      corpus.filter(!isDeleted(col("vec_id"))), Nlist, 2)
    val wantAnn = annSet(Similarity.ivfServeQuantized(vecQueries, cent,
      lists, corpus, 5, nprobe = 4))
    Seq(bm25, ("streaming.ann_serve", wantAnn.nonEmpty && gotAnn == wantAnn,
      s"served ${gotAnn.size} rows, batch ${wantAnn.size}, " +
        s"differ ${(gotAnn diff wantAnn).size + (wantAnn diff gotAnn).size}"))
  }
}
