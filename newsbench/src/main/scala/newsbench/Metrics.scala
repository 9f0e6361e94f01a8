package newsbench

/** Per-layer metric names (as BENCHMARK.json lists them), their
  * assembly from a traced loop, and the result line.
  */
object Metrics {

  /** Every per-layer metric, with its unit. A traced run of any workload
    * reports all of them; a layer the workload does not reach reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.cpu_s" -> "s", "spark.gc_s" -> "s", "spark.jobs" -> "count",
    "spark.tasks" -> "count", "spark.input_bytes" -> "bytes",
    "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "catalyst.plan_ms" -> "ms", "catalyst.interpreted_exprs" -> "count",
    // ingest_batch: self seconds per pass
    "sources.fetch_s" -> "s", "functions.clean_s" -> "s",
    "operators.dedup.signature_s" -> "s", "operators.layout.band_index_s" -> "s",
    "operators.dedup.candidates_s" -> "s", "operators.dedup.resolve_s" -> "s",
    "operators.summarize_s" -> "s", "operators.chunker_s" -> "s",
    "operators.similarity.embed_s" -> "s", "operators.upsert.merge_s" -> "s",
    "operators.hnsw.build_s" -> "s",
    "operators.dedup.candidate_pairs" -> "count",
    "operators.dedup.confirm_ratio" -> "ratio",
    "operators.dedup.dup_recall" -> "ratio",
    "operators.chunker.chunks" -> "count",
    "operators.upsert.bytes_written" -> "bytes",
    // stream_refinery: ms per micro-batch
    "streaming.latest_offset_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.trigger_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.sink_ms" -> "ms", "streaming.admission_ms" -> "ms",
    "functions.clean_ms" -> "ms", "operators.dedup.signature_ms" -> "ms",
    "operators.dedup.probe_ms" -> "ms",
    "operators.textanalysis.quality_ms" -> "ms",
    "operators.upsert.merge_ms" -> "ms",
    "operators.layout.index_append_ms" -> "ms",
    "operators.dedup.index_scan_bytes" -> "bytes",
    "operators.layout.index_files" -> "count",
    "streaming.machinery_ms" -> "ms",
    // every workload
    "trace.unattributed_ms" -> "ms", "trace_overhead_frac" -> "frac")

  /** Add one traced operation's spans, Spark counters and workload
    * counts to `tr`. Self times of all spans plus the unattributed
    * remainder add up to the operation's wall time `ms`.
    */
  def record(tr: Main.Traced, ctx: Ctx, l: SpanListener, w: Workload,
             ms: Double): Unit = {
    val spans = ctx.tracer.take()
    val counters = l.take(ctx.tracer.lastOp)
    val self = Span.selfTimes(spans)
    val layerSelfNs = spans.filter(_.name != "op").map(s => self(s.id)).sum
    tr.add("unattributed_ms", ms - layerSelfNs / 1e6)
    spans.filter(_.name != "op").foreach(s => tr.add("self." + s.name, self(s.id)))
    spans.filter(_.name == "streaming.sink")
      .foreach(s => tr.add("sink_dur_ns", s.durNs))
    val byName = spans.map(s => s.id -> s.name).toMap
    counters.foreach { case (sp, c) =>
      if (sp != -1) {
        tr.add("cpu_ns", c.cpuNs); tr.add("gc_ms", c.gcMs)
        tr.add("jobs", c.jobs); tr.add("tasks", c.tasks)
        tr.add("input", c.inputBytes); tr.add("shuffle", c.shuffleBytes)
        tr.add("spill", c.spillBytes); tr.add("plan_ms", c.planMs)
        tr.add("interpreted", c.interpreted)
        byName.get(sp).foreach { n =>
          tr.add("in." + n, c.inputBytes); tr.add("out." + n, c.outputBytes)
        }
      }
    }
    w.traceCounts().foreach { case (k, v) => tr.add(k, v) }
    tr.ops += 1
  }

  def perLayer(workload: String, plain: Main.Loop, traced: Main.Loop,
               tr: Main.Traced)
      : Seq[(String, Double, String)] = {
    val n = math.max(1, tr.ops).toDouble
    def per(k: String) = tr.sums(k) / n
    val v = scala.collection.mutable.HashMap.empty[String, Double]
    val (suffix, scale) = if (workload == "ingest_batch") ("_s", 1e9) else ("_ms", 1e6)
    tr.sums.keys.filter(_.startsWith("self.")).foreach { k =>
      v(k.stripPrefix("self.") + suffix) = per(k) / scale
    }
    v("spark.cpu_s") = per("cpu_ns") / 1e9
    v("spark.gc_s") = per("gc_ms") / 1e3
    v("spark.jobs") = per("jobs")
    v("spark.tasks") = per("tasks")
    v("spark.input_bytes") = per("input")
    v("spark.shuffle_bytes") = per("shuffle")
    v("spark.spill_bytes") = per("spill")
    v("catalyst.plan_ms") = per("plan_ms")
    v("catalyst.interpreted_exprs") = per("interpreted")
    v("operators.upsert.bytes_written") = per("out.operators.upsert.merge")
    v("operators.dedup.index_scan_bytes") = per("in.operators.dedup.probe")
    tr.sums.keys.filter(k => PerLayer.exists(_._1 == k)).foreach(k => v(k) = per(k))
    if (workload == "stream_refinery")
      v("streaming.machinery_ms") =
        per("streaming.trigger_ms") - per("sink_dur_ns") / 1e6
    v("trace.unattributed_ms") = per("unattributed_ms")
    v("trace_overhead_frac") =
      if (plain.latMs.isEmpty || traced.latMs.isEmpty) 0.0
      else Stats.median(traced.latMs.toSeq) / Stats.median(plain.latMs.toSeq) - 1
    PerLayer.map { case (name, unit) => (name, v.getOrElse(name, 0.0), unit) }
  }

  /** The result object, on one line. */
  def json(correct: Boolean, attempted: Int, failed: Int,
           metrics: Seq[(String, Double, String)]): String = {
    def num(x: Double) = if (x.isNaN || x.isInfinite) "0.0" else x.toString
    val ms = metrics.map { case (n, x, u) =>
      s""""$n": {"value": ${num(x)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
