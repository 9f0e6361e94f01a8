package newsbench

import java.io.File

import scala.collection.mutable

/** One workload: a set-up that can be repeated, then operations that
  * are timed one at a time and checked after the clock stops.
  */
trait Workload {
  /** Generate the inputs from the seed and stage them (repeated). */
  def prepare(rep: Int): Unit
  /** Build the fixtures and run a few untimed operations (once). */
  def warmup(): Unit
  /** The timed part of operation `op`; `broken` makes it produce a
    * wrong result on purpose (self-test).
    */
  def execute(op: Int, broken: Boolean): Unit
  /** Whether operation `op`'s outputs are right. Untimed. */
  def check(op: Int): Boolean
  def docsPerOp: Long
  def hasNext: Boolean = true
  /** Fewest untraced operations a run times, however long they take. */
  def minOps: Int = 1
  /** Leading untraced operations the end-to-end medians use: all of
    * them when every operation does the same work, the first `minOps`
    * when later operations do more (so a faster run that times more of
    * them is not compared on costlier work).
    */
  def comparableOps: Int = Int.MaxValue
  /** Digest of the warm-up's outputs, as the golden file records it. */
  def warmupDigest: String
  /** End-of-run checks, with lines describing them. */
  def finish(): (Boolean, Seq[String]) = (true, Nil)
  /** Per-operation counts of the latest traced operation. */
  def traceCounts(): Map[String, Double]
  def storeBytesPerInputByte: Double
}

/** The benchmark's command line:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`
  * and, optionally, `--golden <file>` (digests recorded per workload and
  * seed, see [[Golden]]) and `--selftest 1`, which breaks the first
  * timed operation on purpose. Prints every metric on its own line,
  * then one JSON object as the last line.
  */
object Main {
  val Workloads = Seq("ingest_batch", "stream_refinery")
  /** Set-up repetitions whose median is reported. */
  val SetupReps = 3
  /** No run may measure past this many seconds after start. */
  val DeadlineS = 140.0

  final class Loop {
    val latMs = mutable.ArrayBuffer.empty[Double]
    val docsPerS = mutable.ArrayBuffer.empty[Double]
    var attempted, failed = 0
  }

  /** Per-operation sums of a traced loop. */
  final class Traced {
    val sums = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var ops = 0
    def add(k: String, v: Double): Unit = sums(k) += v
  }

  private val t0 = System.nanoTime()
  private def now(): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", "")
    require(Workloads.contains(workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val selftest = a.getOrElse("selftest", "0") == "1"
    val work = new File(a("work"))
    work.mkdirs()
    val golden = a.get("golden").flatMap(f => Golden.read(new File(f)).get((workload, seed)))

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Ctx.session(work, cores)
    val sessionS = now()
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, work, tracer)
    val w: Workload = workload match {
      case "ingest_batch" => new IngestWorkload(ctx, seed, golden)
      case "stream_refinery" => new StreamWorkload(ctx, seed, golden)
    }
    // installed before the warm-up: a stream's session is cloned from
    // this one when the query starts, listeners included
    val listener = if (trace) Some(SpanListener.install(spark)) else None
    val reps = (0 until SetupReps).map { r =>
      val s = now(); w.prepare(r); now() - s
    }
    val warm = { val s = now(); w.warmup(); now() - s }
    val setupS = sessionS + Stats.median(reps) + warm
    println(f"# $workload seed=$seed cores=$cores session=$sessionS%.3fs " +
      f"prepare=${reps.map(x => f"$x%.3f").mkString("/")}s warmup=$warm%.3fs")
    println(s"# warm-up digest ${w.warmupDigest}, golden ${golden.getOrElse("none for this seed")}")

    // a traced run interleaves untraced and traced operations in
    // blocks of untraced, traced, traced, untraced, so both kinds hold
    // the same mean position and their medians give the overhead
    listener.foreach(_.take(-1))
    val plain, traced = new Loop
    val tr = new Traced
    val start = now()
    var op = 0
    def more: Boolean =
      if (trace) now() - start < seconds || op % 4 != 0
      else now() - start < seconds || plain.latMs.size < w.minOps
    while (w.hasNext && now() < DeadlineS && more) {
      val on = trace && (op % 4 == 1 || op % 4 == 2)
      tracer.on = on
      runOp(w, ctx, op, selftest && op == 0, if (on) traced else plain,
        listener.filter(_ => on).map(l => (l, tr)))
      if (!on) listener.foreach(_.take(-1))
      tracer.on = false
      op += 1
    }
    val loopS = now() - start
    val (finishOk, notes) = w.finish()
    println(f"# timed loop $loopS%.1fs, finish ${now() - start - loopS}%.1fs")
    notes.foreach(n => println(s"# $n"))
    val attempted = plain.attempted + traced.attempted
    val failed = plain.failed + traced.failed
    val correct = finishOk && failed == 0 && attempted > 0

    val metrics =
      if (trace) Metrics.perLayer(workload, plain, traced, tr)
      else endToEnd(w, plain, setupS)
    println(f"# attempted=$attempted failed=$failed fail_frac=" +
      f"${failed.toDouble / math.max(1, attempted)}%.4f correct=$correct")
    println("# operation ms: " + plain.latMs.map(x => f"$x%.0f").mkString(" ") +
      (if (trace) " | traced: " + traced.latMs.map(x => f"$x%.0f").mkString(" ") else ""))
    metrics.foreach { case (n, v, u) => println(s"$n = $v $u") }
    spark.stop()
    println(Metrics.json(correct, attempted, failed, metrics))
  }

  private def endToEnd(w: Workload, l: Loop, setupS: Double)
      : Seq[(String, Double, String)] = {
    // the median operation by latency, and its throughput: with an even
    // count, separate medians of the two would pick different operations
    val lats = l.latMs.take(w.comparableOps).toSeq
    val lat = if (lats.isEmpty) 0.0 else Stats.median(lats)
    val tput = if (lats.isEmpty) 0.0 else l.docsPerS(lats.indexOf(lat))
    val v = Map("latency_ms_p50" -> lat, "throughput_docs_per_s" -> tput,
      "store_bytes_per_input_byte" -> w.storeBytesPerInputByte,
      "setup_s" -> setupS)
    EndToEnd.map { case (n, u) => (n, v(n), u) }
  }

  /** The end-to-end metrics, with units, as BENCHMARK.json lists them. */
  val EndToEnd: Seq[(String, String)] = Seq("latency_ms_p50" -> "ms",
    "throughput_docs_per_s" -> "docs/s", "store_bytes_per_input_byte" -> "ratio",
    "setup_s" -> "s")

  /** Time one operation, then check it. A failed or wrong operation is
    * counted, never timed.
    */
  private def runOp(w: Workload, ctx: Ctx, op: Int, broken: Boolean, l: Loop,
                    trace: Option[(SpanListener, Traced)]): Unit = {
    val ms = try {
      val s = System.nanoTime()
      ctx.tracer.op(op)(w.execute(op, broken))
      val ms = (System.nanoTime() - s) / 1e6
      if (w.check(op)) Some(ms) else None
    } catch {
      case e: Throwable =>
        System.err.println(s"operation $op failed: $e")
        None
    }
    l.attempted += 1
    ms match {
      case Some(x) => l.latMs += x; l.docsPerS += w.docsPerOp / (x / 1000)
      case None => l.failed += 1
    }
    trace.foreach { case (listener, tr) =>
      if (ms.isDefined) Metrics.record(tr, ctx, listener, w, ms.get)
      else { ctx.tracer.take(); listener.take(ctx.tracer.lastOp) }
    }
    ctx.release()
  }
}
