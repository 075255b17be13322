package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
import org.apache.spark.sql.functions.col

/** Both branches of every gate in [[Shape]]: narrow vs already-wide
  * input, keyed vs round-robin spread, below vs above the plan-size
  * floor, and the pinned width. At test scale only one branch of each
  * would otherwise run. */
class ShapeSpec extends SparkSpec {

  private def target = spark.sparkContext.defaultParallelism

  private def narrow: DataFrame = spark.range(0, 1000, 1, 1).toDF("id")

  test("a 1-partition input is repartitioned to defaultParallelism on the key") {
    assert(target > 1, "the gate needs a multi-core session")
    val out = Shape.fanOut(narrow, Seq(col("id")))
    out.queryExecution.analyzed match {
      case r: RepartitionByExpression =>
        assert(r.numPartitions == target)
        assert(r.partitionExpressions.map(_.sql) == Seq("id"))
      case p => fail(s"expected a keyed repartition, got:\n$p")
    }
    assert(out.rdd.getNumPartitions == target)
    assert(out.count() == 1000)
  }

  test("a keyless fan-out spreads round-robin") {
    val out = Shape.fanOut(narrow)
    out.queryExecution.analyzed match {
      case r: Repartition =>
        assert(r.shuffle && r.numPartitions == target)
      case p => fail(s"expected a round-robin repartition, got:\n$p")
    }
    assert(out.rdd.getNumPartitions == target)
  }

  test("an already-wide input comes back as the same plan") {
    val wide = spark.range(0, 1000, 1, target).toDF("id")
    assert(Shape.fanOut(wide, Seq(col("id"))) eq wide)
    assert(Shape.fanOut(wide) eq wide)
  }

  test("the minBytes floor: unchanged below it, repartitioned above it") {
    val in = narrow
    val est = in.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    assert(est > 1L)
    assert(Shape.fanOut(in, Seq(col("id")), minBytes = est + 1) eq in)
    val above = Shape.fanOut(in, Seq(col("id")), minBytes = est - 1)
    assert(!(above eq in))
    assert(above.rdd.getNumPartitions == target)
  }

  test("pinWide's width is max(defaultParallelism, shuffle partitions)") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try {
      for (n <- Seq(1, target + 3)) {
        spark.conf.set(key, n.toString)
        val out = Shape.pinWide(narrow, col("id"))
        assert(out.rdd.getNumPartitions == math.max(target, n), s"shuffle=$n")
      }
    } finally spark.conf.set(key, saved)
  }
}
