package perfbench

import org.apache.spark.sql.functions._

/** Checks that a job a streaming query runs on its own thread is
  * attributed to the op that started the query, not to "no op". Writes
  * {"stream_op_jobs": n, "plain_op_jobs": n, "unattributed_jobs": n}. */
object SelfTest {
  def run(work: String, out: String): Unit = {
    val spark = Main.session(2, work)
    val ctx = new Ctx(spark, work, work)
    val ops = new OpListener
    spark.sparkContext.addSparkListener(ops)
    val src = s"$work/selftest_src"
    (0 until 2).foreach(i => spark.range(i * 10, i * 10 + 10)
      .write.mode("append").parquet(src))
    ctx.op("stream") {
      spark.readStream.schema("id BIGINT").option("maxFilesPerTrigger", "1")
        .parquet(src).writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.agg(sum("id")).collect(); ()
        }
        .option("checkpointLocation", s"$work/selftest_ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    ctx.op("plain") { spark.range(100).agg(sum("id")).collect() }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val ids = ctx.runs.map(r => r.name -> r.id).toMap
    def jobs(op: Int) = ops.byOp.get(op).map(_.jobs).getOrElse(0L)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Json.render(
      Json.obj("stream_op_jobs" -> jobs(ids("stream")),
        "plain_op_jobs" -> jobs(ids("plain")), "unattributed_jobs" -> jobs(0))))
    spark.stop()
  }
}
