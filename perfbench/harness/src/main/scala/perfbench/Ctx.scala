package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** What one op call left behind: wall seconds, and the number of RDDs
  * still persisted when it returned (read before `clearCache()`). */
final case class OpRun(id: Int, name: String, pass: String, seconds: Double,
                       persistedLeft: Int, error: Option[String])

/** The run's state: session, input and work dirs, the span log and the
  * op runs. */
final class Ctx(val spark: SparkSession, val genDir: String,
                val workDir: String) {
  val spans = new Spans
  val runs = mutable.ArrayBuffer.empty[OpRun]
  @volatile var currentOp: Int = 0
  private var parents: List[Int] = Nil
  var passLabel: String = "setup"
  /** Workload facts for the artifact (input sizes and the like). */
  val info = mutable.Map.empty[String, Double]

  /** Drain the full result, as graft.Bench does: every column is
    * consumed, so no join or column is pruned away. */
  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Where the check pass dumps SparkEntry outputs; None in the other
    * passes, which drain through the noop sink. */
  var dumpDir: Option[String] = None

  /** An op's result: drained, or in the check pass written as one
    * parquet file the way graft.Verify writes it (timestamps as
    * TIMESTAMP_NTZ, which parquet stores as micros) for the DuckDB
    * oracle. */
  def sink(name: String, df: DataFrame): Unit = dumpDir match {
    case None => drain(df)
    case Some(dir) =>
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      df.schema.fields.foldLeft(df) { (d, f) =>
          if (f.dataType == TimestampType)
            d.withColumn(f.name, col(f.name).cast(TimestampNTZType))
          else d
        }
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
  }

  /** One op: cache cleared first (graft.Bench's per-query hygiene), jobs
    * tagged with the op's id, leaked persisted RDDs counted after. An
    * op that throws is recorded as failed and the pass goes on. */
  def op(name: String, clear: Boolean = true)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    if (clear) spark.catalog.clearCache()
    val id = spans.newId()
    val parent = parents.headOption.getOrElse(-1)
    currentOp = id
    sc.setLocalProperty(OpListener.OpProp, id.toString)
    parents = id :: parents
    val t0 = System.nanoTime()
    val err =
      try { body; None }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        Some(Option(e.getMessage).getOrElse(e.toString).take(300))
      }
    val t1 = System.nanoTime()
    parents = parents.tail
    // progress and job events of this op reach the listeners before
    // the next op's id is current
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.setLocalProperty(OpListener.OpProp, null)
    currentOp = 0
    spans.add(Span(id, name, parent, id, t0, t1))
    runs += OpRun(id, name, passLabel, (t1 - t0) / 1e9,
      sc.getPersistentRDDs.size, err)
  }
}
