package graft.tools

import org.apache.spark.sql.SparkSession

/** R11: run every SparkEntry query once with ANSI mode ON.
  *
  * ANSI mode (`spark.sql.ansi.enabled=true`, the Spark 4 default
  * posture for new deployments) turns silent SQL laxities into
  * runtime errors: overflow, bad casts, division by zero, and some
  * function domain violations (groupOls's scaladoc already records
  * one: built-in corr throws on zero variance). A 100 TB deployment
  * inheriting cluster-wide ANSI settings must not discover those at
  * job 9 of 10 — this sweep pins the engine's behavior under ANSI at
  * sf0.01 and the record lands in SCALING.md: either all-green or a
  * documented divergence list with when-guards added.
  *
  * Usage: sbt "runMain graft.tools.R11AnsiSweep [sfDir]"
  */
object R11AnsiSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    require(spark.conf.get("spark.sql.ansi.enabled") == "true")
    var ok = 0
    var fails = List.empty[(String, String)]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach {
      case (name, fn) =>
        try {
          // foreach, NOT count: count(1) lets ColumnPruning drop the
          // select-list, so a projection that throws under ANSI would
          // never run and the sweep would record a false all-green —
          // foreach deserializes full rows, evaluating every column
          fn(spark, sfDir).foreach(_ => ())
          ok += 1
        } catch {
          case scala.util.control.NonFatal(e) =>
            val root = {
              var c: Throwable = e
              while (c.getCause != null && c.getCause != c) c = c.getCause
              c
            }
            fails ::= (name,
              root.getClass.getSimpleName + ": " +
                Option(root.getMessage).getOrElse("").linesIterator
                  .take(1).mkString.take(160))
        }
        graft.Caches.releaseAll()
    }
    graft.llm.Similarity.clearIvfCache()
    graft.llm.Similarity.clearPqCache()
    graft.llm.Dedup.clearCorpusStateCache()
    println(s"ANSI_SWEEP ok=$ok fail=${fails.length}")
    fails.sortBy(_._1).foreach { case (n, m) =>
      println(s"ANSI_FAIL $n :: $m")
    }
    spark.stop()
  }
}
