package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.graftbridge.ListenerBridge

/** The harness every main (Bench, Verify, Dev, PlanAudit) runs its
  * entries through: one session factory, one entry filter, one JSON
  * escaper, and [[runEntry]] — the single place an entry is timed,
  * failures become markers, the listener bus is drained and the
  * entry's leftovers are released.
  */
object Harness {
  type Entry = (SparkSession, String) => DataFrame

  /** The local session of every main. `SPARK_GRAFT_CPUS` sets the core
    * count (and the shuffle partitions); unset, it is the JVM's
    * available processors.
    */
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries INT64 TIMESTAMP(NANOS); read as long and
      // convert at the loader (Queries.t) — Spark has no nanos type.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    recordBatches(spark)
    spark
  }

  /** Per-micro-batch wall times: each completed trigger's
    * triggerExecution lands in BenchProbe as `batch<id>` under the
    * active entry, so a divergent streaming scalar (r16/r18: q180
    * inflated 13.8× on the driver host) decomposes into WHICH batch
    * ate the time.
    */
  def recordBatches(spark: SparkSession): Unit =
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ms = Option(p.durationMs.get("triggerExecution"))
          .map(_.doubleValue).getOrElse(0.0)
        BenchProbe.record(s"batch${p.batchId}", ms / 1000.0)
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

  /** `SPARK_GRAFT_ONLY=q26,q48` restricts a run to the entries whose
    * name starts with any of the comma-separated prefixes (dev loop
    * tool; the driver never sets it).
    */
  val only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  /** `registry` in name order — residual warmup always lands on the
    * first entry, so per-entry numbers stay comparable across rounds —
    * restricted to names starting with one of `prefixes`.
    */
  def entries(registry: Iterable[(String, Entry)],
              prefixes: Option[Seq[String]] = only): Seq[(String, Entry)] =
    registry.toSeq.sortBy(_._1)
      .filter { case (name, _) => prefixes.forall(_.exists(name.startsWith)) }

  /** JSON string-body escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round.
    */
  def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** A successful entry: seconds of construction plus consume, the
    * consumer's value, and its probe records in arrival order. */
  final case class Ran[T](sec: Double, value: T, probes: Seq[(String, Double)])

  /** Build entry `name` and `consume` it, timed together. A failure
    * becomes an explicit `err: <Class>: <msg>` marker, never a timing.
    * Before returning, the listener bus is drained, so every event the
    * entry caused (task metrics, micro-batch progress, query-execution
    * callbacks) has been delivered — none can land on the next entry.
    * Then, on every path, the entry's leftovers are dropped: stranded
    * iterCut frames, its temp dirs (persisted indexes, checkpoints,
    * state stores) and the cached state-store providers, so no entry
    * rides as block-manager/disk/state pressure into later ones (the
    * r18 1.4-1.7× drift suspect).
    */
  def runEntry[T](spark: SparkSession, sfDir: String, name: String,
                  fn: Entry)(consume: DataFrame => T)
      : Either[String, Ran[T]] = {
    BenchProbe.start(name)
    val t0 = System.nanoTime()
    val out = try {
      val v = consume(fn(spark, sfDir))
      Right(((System.nanoTime() - t0) / 1e9, v))
    } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse("").linesIterator
          .take(1).mkString.take(160)
        Left(s"err: ${e.getClass.getSimpleName}: $msg")
    }
    try ListenerBridge.drain(spark.sparkContext)
    finally {
      BenchProbe.stop()
      release(spark)
    }
    val probes = BenchProbe.drain()
      .collect { case (e, l, s) if e == name => (l, s) }
    out.map { case (sec, v) => Ran(sec, v, probes) }
  }

  // each step is best-effort: cleanup must never fail a run
  private def release(spark: SparkSession): Unit = {
    try graft.operators.Materialize.releaseAll(spark)
    catch { case _: Throwable => () }
    try TempDirs.cleanAll() catch { case _: Throwable => () }
    // StateStore.unloadAll() drops the provider cache (loaded
    // HDFSBackedStateStoreProvider maps stay keyed per checkpoint
    // otherwise — dead weight once the checkpoint dir is deleted).
    // private[sql], so reached reflectively.
    try {
      val cls = Class.forName(
        "org.apache.spark.sql.execution.streaming.state.StateStore$")
      cls.getMethod("unloadAll").invoke(cls.getField("MODULE$").get(null))
    } catch { case _: Throwable => () }
  }
}
