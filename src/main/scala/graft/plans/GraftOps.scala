package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.graftbridge.Bridge

/** DataFrame facade for the custom operators. */
object GraftOps {

  /** EXACT `ntile(tiles) OVER (ORDER BY order…)` without the
    * single-partition WindowExec a global window plans — the
    * scale-safe form for frames whose cardinality grows with the
    * corpus (e.g. one row per user at the 100 TB design point).
    *
    * `order` MUST be a total order (include a unique tie-break
    * column): the global rank is assembled as range-partitioned sort +
    * per-partition row_number + prefix-count offsets, and equal keys
    * split across two range partitions would double-rank. Returns `df`
    * plus an IntegerType `out` column equal to the global window's
    * ntile bit-for-bit: rank is exact whatever boundaries the range
    * sampler draws (the total order fixes each row's rank), and the
    * tile formula is the standard first-(n mod t)-buckets-get-one-extra
    * split both Spark and the SQL oracles implement.
    *
    * Scale shape: two data-sized exchanges (range + the per-partition
    * window's hash) instead of one exchange INTO A SINGLE TASK; the
    * only single-partition window runs over the per-partition count
    * frame — ≤ `spark.sql.shuffle.partitions` rows by construction. */
  def ntileDistributed(df: DataFrame, tiles: Int, order: Seq[Column],
                       out: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    require(tiles > 0, s"ntileDistributed: tiles must be positive, got $tiles")
    val helper = Seq("__nt_part", "__nt_rn", "__nt_cnt", "__nt_off", "__nt_n")
    require(helper.forall(h => !df.columns.contains(h)),
      s"ntileDistributed: input must not carry ${helper.mkString("/")}")
    // LAZY checkpoint with `__nt_part` stamped in: both consumers (the
    // counts aggregate and the row_number branch) read this one
    // materialized state. Were each to plan its own range exchange
    // (exchange reuse and AQE both off), each would sample its own
    // boundaries, and a row's partition, hence its offset, would differ
    // between the two. The checkpoint also truncates the lineage, so a
    // chained call does not re-derive its whole upstream once per
    // consumer; the first consumer's job materializes it.
    val sorted = df.repartitionByRange(order: _*)
      .withColumn("__nt_part", spark_partition_id())
      .localCheckpoint(false)
    val counts = sorted.groupBy(col("__nt_part"))
      .agg(count(lit(1)).as("__nt_cnt"))
    // tiny frame (one row per shuffle partition): the unpartitioned
    // windows here run over ≤ shuffle.partitions rows by construction
    val offsets = counts
      .withColumn("__nt_off",
        coalesce(sum(col("__nt_cnt")).over(
          Window.orderBy(col("__nt_part"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__nt_n",
        sum(col("__nt_cnt")).over(
          Window.orderBy(col("__nt_part")).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
      .drop("__nt_cnt")
    sorted
      .withColumn("__nt_rn", row_number().over(
        Window.partitionBy(col("__nt_part")).orderBy(order: _*)))
      .join(broadcast(offsets), Seq("__nt_part"))
      .withColumn(out, expr(
        // global rank r = offset + local row_number; first (n % t)
        // tiles hold (n div t)+1 rows, the rest (n div t) — Spark's
        // (and standard SQL's) NTile split, in exact long arithmetic
        s"""CAST(CASE
           |  WHEN __nt_off + __nt_rn <= (__nt_n % $tiles) * (__nt_n DIV $tiles + 1)
           |  THEN (__nt_off + __nt_rn - 1) DIV (__nt_n DIV $tiles + 1) + 1
           |  ELSE (__nt_n % $tiles) +
           |    (__nt_off + __nt_rn - (__nt_n % $tiles) * (__nt_n DIV $tiles + 1) - 1)
           |      DIV (__nt_n DIV $tiles) + 1
           |END AS INT)""".stripMargin))
      .drop("__nt_part", "__nt_rn", "__nt_off", "__nt_n")
  }

  /** Top-k rows per key via the [[TopKPerKey]] operator (bounded heap,
    * no sort). `order` columns use the usual `.desc`/`.asc` forms; plain
    * columns default to ascending.
    *
    * Plans as TWO operators — a partial (map-side) top-k on the child's
    * existing partitioning, then the final top-k after the exchange — so
    * the shuffle carries at most k rows per key per upstream task instead
    * of every candidate row. Per-task heap memory is bounded by
    * `spark.graft.topk.maxKeysInMemory` keys × k rows; past the bound the
    * partial operator flushes (degrade-to-passthrough, like a partial
    * hash agg) and the final operator falls back to a spillable external
    * sort — pathological key cardinality spills instead of OOMing.
    *
    * Registers [[TopKPerKeyStrategy]] on the session if absent (also
    * installed globally by [[graft.GraftExtensions]]). */
  def topKPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column],
                 k: Int): DataFrame = {
    require(k > 0, s"topKPerKey: k must be positive, got $k")
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerKeyStrategy
    val keyExprs = keys.map(Bridge.expressionNow(spark, _))
    val orderExprs = order.map { c =>
      Bridge.expressionNow(spark, c) match {
        case so: SortOrder => so
        case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
      }
    }
    Bridge.ofRows(spark,
      TopKPerKey(keyExprs, orderExprs, k,
        TopKPerKey(keyExprs, orderExprs, k, Bridge.logicalPlan(df),
          partial = true)))
  }

  /** Map-side-only cap: at most k rows per key PER TASK, chosen by
    * `order`, with NO exchange — the child's partitioning and plan shape
    * are preserved. Not a global cut (a key spread over t tasks keeps up
    * to t×k rows); use where the point is bounding per-task work for hot
    * keys without forcing a shuffle, e.g. capping LSH bucket fan-in on a
    * scan that a broadcast join consumes in place.
    *
    * CAVEAT — the per-task cap is itself best-effort, not a hard bound:
    * past `spark.graft.topk.maxKeysInMemory` distinct keys in one task,
    * the partial operator flushes its heaps (the same degrade-to-
    * passthrough a partial hash agg does) and starts fresh, so a key can
    * emit up to k rows per flush window. With no final operator after an
    * exchange to re-cut, that superset reaches the consumer. This is the
    * deliberate trade — the alternative is an OOM or a forced shuffle —
    * but it means: use this only where the cap is a performance bound
    * (candidate limiting), never where >k rows per key per task would be
    * a correctness error. Raise `maxKeysInMemory` if the flush metric
    * fires on a workload where the cap matters. */
  def capPerKeyLocal(df: DataFrame, keys: Seq[Column], order: Seq[Column],
                     k: Int): DataFrame = {
    require(k > 0, s"capPerKeyLocal: k must be positive, got $k")
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerKeyStrategy
    val keyExprs = keys.map(Bridge.expressionNow(spark, _))
    val orderExprs = order.map { c =>
      Bridge.expressionNow(spark, c) match {
        case so: SortOrder => so
        case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
      }
    }
    Bridge.ofRows(spark,
      TopKPerKey(keyExprs, orderExprs, k, Bridge.logicalPlan(df),
        partial = true))
  }
}
