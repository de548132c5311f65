package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[GraftOps.ntileDistributed]] must equal the global `ntile(t)`
  * window BIT-FOR-BIT on a total order — it replaced the three
  * single-partition WindowExecs in `agg_rfm_segments` (round-19), so
  * the oracle hash rides on this identity. Covers: n divisible and not
  * divisible by t, n < t, duplicate sort keys broken by a unique
  * tie-break, descending orders, skewed value distributions, and a
  * session with exchange reuse and AQE both off. */
class NtileDistributedSpec extends SparkSpec {
  import spark.implicits._

  private def check(n: Int, tiles: Int, keyOf: Int => Long,
                    desc: Boolean,
                    confs: Map[String, String] = Map.empty): Unit = {
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try checkUnderConfs(n, tiles, keyOf, desc)
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def checkUnderConfs(n: Int, tiles: Int, keyOf: Int => Long,
                              desc: Boolean): Unit = {
    val df = (0 until n).map(i => (i.toLong, keyOf(i))).toDF("id", "k")
    val order =
      if (desc) Seq(col("k").desc, col("id")) else Seq(col("k").asc, col("id"))
    val expected = df.withColumn("t", ntile(tiles).over(
      Window.orderBy(order: _*)))
    val got = GraftOps.ntileDistributed(df, tiles, order, "t")
    assert(got.schema("t").dataType ===
      org.apache.spark.sql.types.IntegerType)
    val mismatches = expected.alias("e")
      .join(got.alias("g"), Seq("id"))
      .filter(col("e.t") =!= col("g.t"))
      .count()
    assert(mismatches === 0L,
      s"n=$n tiles=$tiles desc=$desc: $mismatches rows diverge from ntile")
    assert(got.count() === n.toLong)
  }

  test("matches global ntile across sizes, tiles, orders and skew") {
    check(n = 103, tiles = 4, keyOf = i => (i * 37 % 11).toLong, desc = false)
    check(n = 100, tiles = 4, keyOf = i => (i * 37 % 11).toLong, desc = true)
    check(n = 7, tiles = 4, keyOf = _.toLong, desc = false)
    check(n = 2, tiles = 4, keyOf = _ => 5L, desc = false) // n < tiles
    check(n = 64, tiles = 3, keyOf = i => if (i < 60) 1L else i.toLong,
      desc = false) // heavy duplicate-key skew
    // with exchange reuse AND AQE off, each consumer of the
    // range-partitioned frame would plan (and sample) its own range
    // exchange unless the partition id is stamped once
    check(n = 20000, tiles = 4, keyOf = i => (i * 7919L) % 1000, desc = false,
      confs = Map("spark.sql.shuffle.partitions" -> "8",
        "spark.sql.exchange.reuse" -> "false",
        "spark.sql.adaptive.enabled" -> "false"))
  }

  test("plans no single-partition window over the data") {
    val df = (0 until 50).map(i => (i.toLong, (i % 5).toLong)).toDF("id", "k")
    val plan = GraftOps.ntileDistributed(df, 4,
      Seq(col("k").asc, col("id")), "t")
      .queryExecution.executedPlan.toString
    // the data-sized window is partitioned by __nt_part; the only
    // unpartitioned windows run over the per-partition count frame
    assert(plan.contains("__nt_part"),
      "expected the range-partitioned ranking shape")
  }
}
