package graft.core

import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

import graft.SparkSpec

class TablesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("spread hash-partitions on its keys into exactly shuffle.partitions, which AQE keeps") {
    val s7 = spark.newSession()
    s7.conf.set("spark.sql.shuffle.partitions", "7")
    s7.conf.set("spark.sql.adaptive.enabled", "true")
    s7.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // a few KB in one scan task: AQE would coalesce a count-less
    // repartition of it to one partition
    val df = Tables.spread(Tables.documents(s7, sf0001), col("doc_id"))

    val logical = df.queryExecution.logical.collect {
      case r: RepartitionByExpression => r
    }
    assert(logical.size == 1)
    assert(logical.head.optNumPartitions.contains(7))
    assert(logical.head.partitionExpressions.map(_.sql) == Seq("doc_id"))

    val rows = df.select(col("doc_id"), spark_partition_id().as("p"),
        pmod(hash(col("doc_id")), lit(7)).as("want"))
    val got = rows.collect()
    assert(got.nonEmpty)
    assert(got.forall(r => r.getInt(1) == r.getInt(2)),
      "every row must sit in partition pmod(murmur3(doc_id), 7)")
    assert(got.map(_.getInt(1)).distinct.length > 1)

    // the executed (final AQE) plan: no coalescing reader undid the count
    val exchanges = collect(rows.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.size == 1)
    assert(exchanges.head.shuffleOrigin == REPARTITION_BY_NUM)
    assert(exchanges.head.outputPartitioning.numPartitions == 7)
    assert(rows.rdd.getNumPartitions == 7)
  }
}
