package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._

import graft.operators.Par

/** Par.spread decides from the planned scan alone: building the spread
  * frame starts no Spark job, whatever the input.
  */
class ParSpec extends SparkSpec {

  /** `f`'s result and the number of jobs started while it ran. */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = f
      ListenerBusDrain.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  private def orders: DataFrame = spark.read.parquet(s"$sfDir/orders.parquet")

  test("spreading a joined frame starts no job and returns it unchanged") {
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    val joined = orders.join(customer, col("o_custkey") === col("c_custkey"))
    val (out, jobs) = jobsDuring(Par.spread(joined, col("o_orderkey")))
    assert(jobs == 0)
    assert(out eq joined)
  }

  test("a bare single-file scan is spread by key, with no job") {
    val scan = orders.select("o_orderkey", "o_orderstatus")
    val (out, jobs) = jobsDuring(Par.spread(scan, col("o_orderkey")))
    assert(jobs == 0)
    val parts = out.queryExecution.analyzed.collect { case r: RepartitionByExpression => r }
    assert(parts.size == 1, out.queryExecution.analyzed.toString)
    assert(parts.head.optNumPartitions.contains(spark.sparkContext.defaultParallelism))
    assert(parts.head.partitionExpressions.collect {
      case a: AttributeReference => a.name
    } == Seq("o_orderkey"))
  }
}
