package graftbench

import graft.functions.Text
import graft.llm.{CorpusPipeline, Dedup}
import graft.plans.{HtmlTextExpr, MainTextExpr, MinHashSig, RepetitionStatsExpr, TextStatsExpr, UnicodeNormExpr}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.execution.{DataSourceScanExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.control.NonFatal

/** Corpus preparation, a probe of traced `medallion_batch` runs:
  * generated HTML pages with planted exact and near duplicates, through
  * the `graft.plans` extraction and quality kernels to parquet, then
  * `CorpusPipeline.prepare`, whose survivors must be exactly the planted
  * originals; then each kernel alone, and `Dedup.dedupCorpus` alone. */
object CorpusPrep {
  val Originals = 1000

  private def extract(html: DataFrame): DataFrame =
    html.select(col("id"), col("url"), HtmlTextExpr.htmlTitle(col("html")).as("title"),
        UnicodeNormExpr.nfcNormalize(MainTextExpr.htmlMainText(col("html"))).as("text"))
      .withColumn("text_stats", TextStatsExpr.textStats(col("text")))
      .withColumn("repetition", RepetitionStatsExpr.repetitionStats(col("text")))

  /** The corpus layers, and how many checks failed. The pass is the
    * JVM's first over this code, so its times include warm-up. */
  def probe(b: Bench): (Map[String, Double], Long) = {
    val spark = b.spark
    val corpus = Gen.corpus(b.seed, Originals, 0.1, 0.1)
    spark.createDataFrame(corpus.docs.map(d => (d.id, d.url, d.html)))
      .toDF("id", "url", "html").repartition(b.cpus)
      .write.mode("overwrite").parquet(b.path("html"))

    val t0 = System.nanoTime()
    val (extracted, prepared, kept) = b.op("corpus-pass", "corpus.pass") {
      val ex = extract(spark.read.parquet(b.path("html")))
      b.trace.span("corpus.extract", "corpus-pass")(ex.write.mode("overwrite").parquet(b.path("extracted")))
      b.trace.span("llm.prepare", "corpus-pass") {
        val pr = CorpusPipeline.prepare(spark.read.parquet(b.path("extracted")), "id", "text").select("id")
        (ex, pr, pr.collect().map(_.getLong(0)).toSet)
      }
    }
    val corpusS = (System.nanoTime() - t0) / 1e9
    println(f"metric corpus_s $corpusS%.4f s (corpus probe, ${corpus.docs.size} docs)")
    val nearRemoved = (corpus.nearDups -- kept).size.toDouble / corpus.nearDups.size
    val failed = if (kept == corpus.originals) 0L else {
      System.err.println(s"corpus pass: ${kept.size} survivors, " +
        s"${(corpus.originals -- kept).size} originals lost, ${(kept -- corpus.originals).size} duplicates kept")
      1L
    }
    // what the pass left cached, then the caller's documented release
    b.trace.sampleStorage(spark)
    b.releaseLibraryCaches()

    // Every kernel must run inside whole-stage codegen. One that does not
    // still returns correct rows, so it is reported (here and as
    // `kernel.<name>.codegen`), not counted as a failed check.
    val codegen = (Codegen.kernels(extracted.queryExecution.executedPlan) ++
      Codegen.kernels(prepared.queryExecution.executedPlan))
      .groupBy(_._1).map { case (k, v) => k -> v.forall(_._2) }

    val text = spark.read.parquet(b.path("extracted"))
    val html = spark.read.parquet(b.path("html"))
    text.select(Text.shingles(col("text"), 3).as("shingles"))
      .write.mode("overwrite").parquet(b.path("shingles"))
    val shingles = spark.read.parquet(b.path("shingles"))
    val probes: Seq[(String, DataFrame, Column)] = Seq(
      ("html_main_text", html, MainTextExpr.htmlMainText(col("html"))),
      ("html_meta", html, HtmlTextExpr.htmlTitle(col("html"))),
      ("nfc_normalize", text, UnicodeNormExpr.nfcNormalize(col("text"))),
      ("text_stats", text, TextStatsExpr.textStats(col("text"))),
      ("repetition_stats", text, RepetitionStatsExpr.repetitionStats(col("text"))),
      ("minhash_sig", shingles, MinHashSig.minhashSig(col("shingles"), 32)))
    val bad = probes.map(_._1).filterNot(k => codegen.getOrElse(k, false))
    if (bad.nonEmpty) println(s"assertion failed: not under whole-stage codegen: ${bad.mkString(", ")}")
    probes.foreach { case (k, in, e) =>
      b.op(s"kernel-$k", s"kernel.$k")(in.select(e.as("k")).write.format("noop").mode("overwrite").save())
    }
    b.trace.drain()
    val dedupMs = {
      val t1 = System.nanoTime()
      b.op("dedup-probe", "llm.dedup")(Dedup.dedupCorpus(text, "id", "text").select("id").collect())
      b.releaseLibraryCaches()
      (System.nanoTime() - t1) / 1e6
    }
    val rows = corpus.docs.size.toDouble
    val layers = probes.flatMap { case (k, _, _) =>
      val taskS = b.trace.opTotal(s"kernel-$k", "exec.task_run_ms") / 1000
      Seq(s"kernel.$k.rows_per_s_core" -> (if (taskS > 0) rows / taskS else 0.0),
        s"kernel.$k.codegen" -> (if (codegen.getOrElse(k, false)) 1.0 else 0.0))
    }.toMap ++ Map(
      "llm.dedup_ms" -> dedupMs,
      "llm.prepare_ms" -> Stats.median(b.trace.spanDurationsMs("llm.prepare")),
      "llm.near_dup_removed_ratio" -> nearRemoved)
    (layers, failed)
  }
}

/** Finds the `graft.plans` kernels in a physical plan and whether each
  * runs inside a whole-stage-codegen stage whose generated code compiles
  * (Spark falls back to interpreted execution, logging only, when it
  * does not). */
object Codegen {
  def kernels(plan: SparkPlan): Seq[(String, Boolean)] = {
    val compiled = mutable.Map[WholeStageCodegenExec, Boolean]()
    def compiles(w: WholeStageCodegenExec): Boolean = compiled.getOrElseUpdate(w,
      try { CodeGenerator.compile(w.doCodeGen()._2); true } catch { case NonFatal(_) => false })
    val out = mutable.ArrayBuffer[(String, Boolean)]()
    def walk(p: SparkPlan, stage: Option[WholeStageCodegenExec]): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, None)
      case q: QueryStageExec => walk(q.plan, None)
      case w: WholeStageCodegenExec => walk(w.child, Some(w))
      case i: InputAdapter => walk(i.child, None)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan, None)
      case _: DataSourceScanExec => // pushed-down filters: evaluated by the Filter above
      case other =>
        other.expressions.flatMap(_.collect {
          case e if e.getClass.getName.startsWith("graft.plans.") => e
        }).foreach(e => out += e.prettyName -> (!e.isInstanceOf[CodegenFallback] && stage.exists(compiles)))
        other.children.foreach(walk(_, stage))
    }
    walk(plan, None)
    out.toSeq
  }
}
