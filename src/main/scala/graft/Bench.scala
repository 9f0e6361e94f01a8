package graft
import org.apache.spark.sql.SparkSession
import Harness.jsonEscape
object Bench {
  /** An entry's min-of-n seconds and shuffle JSON (or err marker), plus
    * every successful run's seconds and probes: min-of-n stays auditable.
    */
  type Result = (String, Either[String, (Double, String)],
                 Seq[(Double, Seq[(String, Double)])])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // warm the scan/codegen/shuffle stack on the tiny sf so per-query
    // numbers measure steady-state execution, not JVM startup
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // the JVM's first case-mapping call (lower/upper) pays ~1.4 s of
    // collation-machinery init, which otherwise lands on whichever
    // query hits it first (measured: q16 1.38 s cold vs 0.15 s warm)
    try {
      import org.apache.spark.sql.functions.{lit, lower}
      // collect, not count: count() would let column pruning drop the
      // projection and skip the very init this is here to trigger
      spark.range(1).select(lower(lit("Ấm Áp"))).collect()
    } catch { case _: Throwable => () }
    // GRAFT_BENCH_SELFTEST=1 injects a deliberately broken query to
    // prove failures surface as explicit markers, not fake timings
    val selftest: Seq[(String, Harness.Entry)] =
      if (sys.env.contains("GRAFT_BENCH_SELFTEST"))
        Seq("zz_selftest_broken" ->
          ((s: SparkSession, _: String) => s.read.parquet("/nonexistent")))
      else Nil
    // per-query shuffle read/write/spill deltas — the measured side of
    // SCALE.md's shuffle-bytes claims (a plan can look right and still
    // shuffle 10× what it should; this makes that visible per round)
    val tally = ShuffleTally.install(spark.sparkContext)
    // min-of-2 IN the harness for every micro-batch entry — its scalar
    // is scheduler-latency-dominated (~3-5 s floor × batches), the
    // noisiest family on a contended host, so one inflated run must not
    // be the round's number — and for the two iterative entries the r18
    // driver run inflated with them. q180 runs micro-batches but stays
    // OUT of streamingQueries (the floor subtotal's membership is a
    // round-over-round contract). SPARK_GRAFT_BENCH_REPEAT=n extends
    // min-of-n to every entry (dev loop; the driver default keeps 1).
    val minOf2: Set[String] = graft.queries.Queries.streamingQueries ++
      Set("q180_stream_frontier", "q179_quality_lr", "q186_weighted_linkrank")
    val baseReps = sys.env.get("SPARK_GRAFT_BENCH_REPEAT")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
    val results: Seq[Result] = Harness.entries(
        SparkEntry.queries.toSeq ++ SparkEntry.benchOnly.toSeq ++ selftest)
      .map { case (name, fn) =>
        val reps = if (minOf2(name)) baseReps.max(2) else baseReps
        val runs = (0 until reps).map { _ =>
          val s0 = tally.snapshot(spark.sparkContext)
          Harness.runEntry(spark, sfDir, name, fn)(_.count()).map { r =>
            val d = tally.snapshot(spark.sparkContext) - s0
            (r, s"""{"w":${d.write},"r":${d.read},"sp":${d.spilled}}""")
          }
        }
        val oks = runs.collect { case Right(r) => r }
        if (oks.isEmpty) {
          val Left(err) = runs.head: @unchecked
          (name, Left(err), Nil)
        } else {
          val (best, sh) = oks.minBy(_._1.sec)
          (name, Right((best.sec, sh)), oks.map(o => (o._1.sec, o._1.probes)))
        }
      }
    val (lines, fullLine) = report(sfDir, Harness.only, results)
    // resolve against an explicit root (or the CWD, made absolute so
    // the destination is unambiguous) and WARN on failure — a silently
    // missing bench_full.json previously read as "no run happened"
    val fullPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json"))
      .toAbsolutePath
    try java.nio.file.Files.write(fullPath,
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(
        s"warn: bench_full.json write failed at $fullPath: $e") }
    lines.foreach(println)
    spark.stop()
  }

  /** Chars of the compact metric line: well under the driver's
    * 2000-char output tail minus sbt's trailer. */
  val CompactBudget = 1400

  /** The lines Bench prints, in order, and the full metric line for
    * bench_full.json. The driver captures only the LAST 2000 chars of
    * the output (BENCH_r01..r09 had parsed:null: the ~4 KB per-query
    * line's head, with the "metric" key, fell outside). So: shuffle,
    * probe and full wall-time maps on their own lines, keyed "detail"
    * (a mid-line truncation can never expose a bogus "metric"), then
    * the ONE "metric" line within [[CompactBudget]]: totals, every
    * error marker, then the slowest wall times until the budget hits.
    */
  def report(sfDir: String, only: Option[Seq[String]],
             results: Seq[Result]): (Seq[String], String) = {
    val qs = results.map {
      case (k, Right((sec, _)), _) => s"\"" + k + "\":" + sec
      case (k, Left(err), _) => s"\"" + k + "\":\"" + jsonEscape(err) + "\""
    }.mkString("{", ",", "}")
    val sh = results.collect {
      case (k, Right((_, j)), _) => s"\"" + k + "\":" + j
    }.mkString("{", ",", "}")
    // per-entry decomposition for every entry that has one: each
    // successful run's scalar plus its per-iteration / per-micro-batch
    // phases, e.g. {"runs":[{"sec":6.1,"batch0":2.0,"batch1":1.4}, ...]}
    def f3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    val probe = results.collect {
      case (k, Right(_), detail)
          if detail.exists(_._2.nonEmpty) || detail.size > 1 =>
        val runs = detail.map { case (sec, ps) =>
          // a run that re-enters the same operator repeats labels
          // (q149x: 9 pageRank calls → 9 "pr_iter0"s); suffix repeats
          // so the JSON object keys stay unique and lossless
          val seen = scala.collection.mutable.Map.empty[String, Int]
          (s"\"sec\":${f3(sec)}" +: ps.map { case (l, s) =>
            val n = seen.getOrElse(l, 0); seen(l) = n + 1
            val lab = if (n == 0) l else s"$l#$n"
            s"\"${jsonEscape(lab)}\":${f3(s)}"
          }).mkString("{", ",", "}")
        }.mkString("[", ",", "]")
        s"\"" + k + "\":{\"runs\":" + runs + "}"
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, Right((sec, _)), _) => sec }.sum
    // the five Structured-Streaming queries carry a fixed per-query
    // overhead floor (~3-5 s each: checkpoint init + micro-batch
    // planning) that dominates the suite total at sf0.1; subtotaling it
    // lets round-over-round comparison exclude the floor mechanically
    val streamFloor = results.collect {
      case (k, Right((sec, _)), _)
        if graft.queries.Queries.streamingQueries(k) => sec
    }.sum
    val errs = results.count(_._2.isLeft)
    // n_queries + the active restriction (if any) make a
    // SPARK_GRAFT_ONLY dev run self-describing — a 5-query subset can
    // never be mistaken for a full-suite result
    val restricted = only.map(p =>
      s""","only":"${jsonEscape(p.mkString(","))}"""").getOrElse("")
    val fullLine =
      s"""{"metric":"total","unit":"sec","err_count":$errs,"n_queries":${results.size}$restricted,"sf":"$sfDir","streaming_floor_sec":$streamFloor,"nonstreaming_sec":${total - streamFloor},"queries":$qs,"shuffle_bytes":$sh,"probe":$probe,"value":$total}"""
    val errEntries = results.collect {
      case (k, Left(err), _) => s"\"" + k + "\":\"" + jsonEscape(err) + "\""
    }
    val slowFirst = results.collect {
      case (k, Right((sec, _)), _) => (k, sec)
    }
      .sortBy(-_._2)
      .map { case (k, sec) => s"\"" + k + "\":" + f3(sec) }
    def compactLine(entries: Seq[String]): String =
      s"""{"metric":"total","unit":"sec","err_count":$errs,"n_queries":${results.size},"n_shown":${entries.size},"streaming_floor_sec":${f3(streamFloor)},"nonstreaming_sec":${f3(total - streamFloor)},"sf":"$sfDir","queries":${entries.mkString("{", ",", "}")},"value":${f3(total)}}"""
    // STOP at the first entry that would bust the budget — "slowest
    // until the budget is hit" stays literally true (a skip-and-
    // continue fold would sneak shorter-but-faster names in past the
    // first miss, misrepresenting the cut)
    val kept = (errEntries ++ slowFirst)
      .scanLeft(Vector.empty[String])(_ :+ _)
      .takeWhile(acc => compactLine(acc).length <= CompactBudget)
      .lastOption.getOrElse(Vector.empty)
    (Seq(
      s"""{"detail":"shuffle_bytes","sf":"$sfDir","shuffle_bytes":$sh}""",
      s"""{"detail":"probe_times","sf":"$sfDir","probe":$probe}""",
      s"""{"detail":"wall_times_full","sf":"$sfDir","queries":$qs}""",
      compactLine(kept)), fullLine)
  }
}
