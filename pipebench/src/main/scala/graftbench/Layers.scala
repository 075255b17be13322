package graftbench

/** The per-layer metrics of a traced run. Their names are those of
  * `per_layer` in BENCHMARK.json; a layer a workload does not exercise
  * reads 0. Counts, bytes and times of the Spark layers are per timed
  * operation (a medallion pass, a predictor micro-batch) over the traced
  * segment. */
object Layers {

  /** The Spark and parquet I/O layers every workload shares: the trace's
    * totals of these names, per operation. */
  private val PerOpPrefixes: Seq[String] = Seq("catalyst.", "exec.", "io.")

  def shared(b: Bench, names: Seq[String], seg: Segment, untraced: Segment): Map[String, Double] = {
    val ops = math.max(1, seg.ops).toDouble
    names.filter(n => PerOpPrefixes.exists(n.startsWith)).map(k => k -> b.trace.totals(k) / ops).toMap +
      ("trace.overhead_ms" -> (Stats.median(seg.latMs) - Stats.median(untraced.latMs)))
  }

  /** Memory, read after the workload's own probes have run too. */
  def memory(b: Bench): Map[String, Double] = Map(
    "spark.persisted_rdds_left" -> b.trace.totals("spark.persisted_rdds_left"),
    "spark.cached_bytes_peak" -> b.trace.totals("spark.cached_bytes_peak"),
    "jvm.heap_peak_mb" -> b.trace.heapPeakMb)

  /** Every named metric: the measured value, or 0 for a layer the run
    * did not exercise. A measured metric without a name is an error. */
  def complete(names: Seq[String], measured: Map[String, Double]): Map[String, Double] = {
    val unknown = measured.keySet -- names
    require(unknown.isEmpty, s"per-layer metrics missing from BENCHMARK.json: ${unknown.toSeq.sorted}")
    names.map(k => k -> measured.getOrElse(k, 0.0)).toMap
  }
}
