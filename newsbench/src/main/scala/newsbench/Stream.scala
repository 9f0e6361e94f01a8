package newsbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.operators.{Dedup, Layout, TextAnalysis, Upsert}
import graft.streaming.Streams

/** `stream_refinery`: one operation is one micro-batch. A backlog of
  * slices is drained one file per trigger: url admission through the
  * state store, then a `foreachBatch` sink that cleans, probes the
  * persisted band index for near-duplicates, gates on quality, upserts
  * into the growing store and appends its own bands to the index.
  */
final class StreamWorkload(ctx: Ctx, seed: Long, golden: Option[String])
    extends Workload {
  import StreamWorkload._
  private val spark = ctx.spark
  import spark.implicits._

  private var backlog: Backlog = _
  private var dir: String = _
  private var query: StreamingQuery = _
  private var next = 0
  private var stored = Set.empty[Long]
  private var byId = Map.empty[Long, Article]
  private var prefixDigest = ""
  private var seenLinks = Set.empty[String]
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private var lastProgress = Seq.empty[StreamingQueryProgress]
  @volatile private var breakBatch = false

  private def p(name: String) = new File(dir, name).getAbsolutePath

  def docsPerOp: Long = backlog.slices(math.max(0, next - 1)).size.toLong
  override def hasNext: Boolean = next < backlog.slices.size
  /** Batches still speed up for the first ~8 of a run (JIT), and host
    * speed drifts over seconds: six batches after the warm-up, so the
    * median sits past the early ones and spans ~20 s.
    */
  override def minOps: Int = 6
  /** Later batches merge into and probe a larger store. */
  override def comparableOps: Int = minOps

  def prepare(rep: Int): Unit = {
    backlog = Gen.backlog(seed, Slices, PerSlice, DupShare, LowShare)
    byId = backlog.slices.flatten.map(a => a.id -> a).toMap
    dir = ctx.path(s"stream$rep")
    val staged = new File(p("backlog"))
    staged.mkdirs()
    new File(p("incoming")).mkdirs()
    backlog.slices.zipWithIndex.foreach { case (s, i) =>
      Files.write(new File(staged, f"slice-$i%04d.json").toPath,
        s.map(json).mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }

  private def json(a: Article): String = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val ts = java.time.Instant.ofEpochSecond(a.tsSec).toString
    s"""{"doc_id":${a.id},"link":${q(a.url)},"topic":${q(a.topic)},""" +
      s""""ts":${q(ts)},"published":${q(a.published)},"html":${q(a.html)}}"""
  }

  private val schema =
    "doc_id BIGINT, link STRING, topic STRING, ts TIMESTAMP, published STRING, html STRING"

  /** Two confs beyond `graft.Bench`'s session: no empty micro-batch
    * after a watermark move, so every operation is exactly the one
    * batch its slice makes; and the parquet `In` pushdown threshold
    * above a batch's distinct band keys (~20 pages × 8 bands), which
    * `Dedup.incrementalCandidatesPruned`'s deployment note asks for, so
    * the probe prunes the band-index scan instead of reading all of it.
    */
  def warmup(): Unit = {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "4096")
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress): Unit
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(p("incoming"))
    query = Streams.dedupedStream(src, "link", "ts", Watermark)
      .writeStream
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", p("checkpoint"))
      .foreachBatch((b: Dataset[Row], id: Long) => sink(b.toDF(), id))
      .start()
    val ms = (0 until WarmupBatches).map { i =>
      val s = System.nanoTime()
      execute(-1 - i, broken = false)
      val ms = (System.nanoTime() - s) / 1e6
      require(check(-1 - i), s"warm-up batch $i stored the wrong rows")
      if (i == PrefixBatches - 1) {
        storeRatio = Seq("store", "bands").map(n => Ctx.du(new File(p(n)))).sum
          .toDouble / backlog.inputBytes(next)
        prefixDigest = storeDigest(p("store"))
      }
      ms
    }
    println("# warm-up batch ms: " + ms.map(x => f"$x%.0f").mkString(" "))
  }

  /** The store's digest after the first `PrefixBatches` batches (what
    * a golden file records).
    */
  def warmupDigest: String = prefixDigest

  private def storeDigest(path: String): String =
    Digest.of(spark.read.parquet(path).drop(Upsert.bucketCol))

  private var storeRatio = 0.0

  /** Taken after the first `PrefixBatches` batches, a fixed prefix of
    * the backlog, so a faster change that drains more batches reads the
    * same store.
    */
  def storeBytesPerInputByte: Double = storeRatio

  /** Stage the next slice and wait until the stream has committed it. */
  def execute(op: Int, broken: Boolean): Unit = {
    breakBatch = broken
    val i = next
    next += 1
    val from = new File(p("backlog"), f"slice-$i%04d.json").toPath
    val tmp = new File(p("incoming"), f".slice-$i%04d.json.tmp").toPath
    Files.copy(from, tmp)
    Files.move(tmp, new File(p("incoming"), f"slice-$i%04d.json").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    query.processAllAvailable()
  }

  /** Rows the store gained in this batch = the slice's first-seen,
    * non-copy, quality-passing pages, each with its page's link, topic,
    * uuid, date and text.
    */
  def check(op: Int): Boolean = {
    org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
    lastProgress = Iterator.continually(progress.poll()).takeWhile(_ != null).toSeq
    val slice = backlog.slices(next - 1)
    val expected = slice.filter { a =>
      val fresh = !seenLinks(a.url)
      seenLinks += a.url
      fresh && a.dupOf.isEmpty && !a.lowQuality
    }.map(_.id).toSet
    val rows = storeRows()
    val now = rows.map(_._1).toSet
    val wrong = rows.filter { case (id, link, topic, uuid, ts, text, q) =>
      !stored(id) && byId.get(id).forall(a => link != a.url || topic != a.topic ||
        uuid != Oracle.uuid(a.url) || ts != a.tsSec || text != a.text ||
        q < QualityGate)
    }
    wrong.take(3).foreach(r => System.err.println(s"batch $op stored a wrong row for doc ${r._1}"))
    val ok = (now -- stored) == expected && stored.subsetOf(now) && wrong.isEmpty
    stored = now
    ok
  }

  private def storeRows(): Seq[(Long, String, String, String, Long, String, Double)] =
    if (!new File(p("store")).exists()) Nil
    else spark.read.parquet(p("store")).select(col("doc_id"), col("link"),
        col("topic"), col("uuid"),
        coalesce(col("published_at").cast("long"), lit(-1L)), col("text"),
        col("quality"))
      .as[(Long, String, String, String, Long, String, Double)].collect().toSeq

  private def sink(batch: DataFrame, batchId: Long): Unit =
    ctx.tracer.span("streaming.sink") {
      val admitted = ctx.step("streaming.admission")(batch)
      val text = ctx.layer("functions.clean")(
        Ingest.clean(admitted, "html"))
      val buckets = ctx.layer("operators.dedup.signature")(
        Dedup.bandBuckets(Dedup.minhashSignatures(text, "text", "doc_id")))
      val dups = ctx.layer("operators.dedup.probe") {
        val bands = new File(p("bands"))
        val index =
          if (bands.exists()) spark.read.parquet(bands.getAbsolutePath)
          else buckets.limit(0)
        Dedup.incrementalCandidatesPruned(index, buckets)
          .select(col("id_b").as("dup")).distinct()
      }
      val kept = ctx.layer("operators.textanalysis.quality")(refine(text, dups))
      // a broken batch loses one stored row
      val delta = if (!breakBatch) kept
        else kept.filter(col("doc_id") =!= kept.agg(max("doc_id")).head().getLong(0))
      ctx.tracer.span("operators.upsert.merge") {
        Upsert.mergeIntoPartitionedTable(spark, p("store"), delta,
          Seq("doc_id"), Ingest.Buckets)
      }
      ctx.tracer.span("operators.layout.index_append") {
        Layout.byKey(buckets, "band_hash", IndexFilesPerBatch)
          .write.mode(SaveMode.Append).parquet(p("bands"))
      }
      ctx.release()
    }

  /** The pages to store: not a near-duplicate of an earlier page, and
    * above the quality gate.
    */
  private def refine(text: DataFrame, dups: DataFrame): DataFrame =
    text.join(dups, text("doc_id") === dups("dup"), "left_anti")
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .filter(col("quality") >= QualityGate)

  /** Digest of a one-shot batch run over the first `slices` slices:
    * `dropDuplicates` on the link, then the same clean, near-dup
    * removal, quality gate and merge, written to `out`.
    */
  def oneShotDigest(slices: Int, out: String): String = {
    val files = (0 until slices).map(i =>
      new File(p("backlog"), f"slice-$i%04d.json").getAbsolutePath)
    val rows = spark.read.schema(schema).json(files: _*)
    val text = Ingest.clean(rows.dropDuplicates("link"), "html")
    val dups = Dedup.minhashCandidates(text, "text", "doc_id")
      .select(col("id_b").as("dup")).distinct()
    Upsert.mergeIntoPartitionedTable(spark, out, refine(text, dups),
      Seq("doc_id"), Ingest.Buckets)
    storeDigest(out)
  }

  /** The store after the first `PrefixBatches` batches must equal the
    * seed's golden digest, when the golden file has one; the final store must equal
    * a one-shot batch run over the union of the slices consumed.
    */
  override def finish(): (Boolean, Seq[String]) = {
    query.stop()
    val (a, b) = (storeDigest(p("store")), oneShotDigest(next, p("oneshot")))
    val goldenOk = golden.forall(_ == prefixDigest)
    (a == b && goldenOk, Seq(s"stream store digest $a, one-shot digest $b, $next slices",
      s"store after warm-up $prefixDigest, golden ${golden.getOrElse("none for this seed")}"))
  }

  /** Per-operation streaming fields from the batch's progress report,
    * and the size of the band index after it.
    */
  override def traceCounts(): Map[String, Double] = {
    def dur(k: String) = lastProgress.map(x =>
      Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val files = Option(new File(p("bands")).listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".parquet"))
    Map(
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.state_commit_ms" ->
        lastProgress.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble)).sum,
      "streaming.state_rows" -> lastProgress.lastOption
        .map(_.stateOperators.map(_.numRowsTotal.toDouble).sum).getOrElse(0.0),
      "operators.layout.index_files" -> files.toDouble)
  }
}

object StreamWorkload {
  /** 60 slices of 20 new pages (the summary sensor's per-tick cap; 8%
    * copies, 8% low quality) plus re-deliveries: more than a run
    * drains, so the store and band index keep growing through the run
    * as a polling ingest's do.
    */
  val Slices = 60
  val PerSlice = 20
  val DupShare = 0.08
  val LowShare = 0.08
  /** Untimed batches before the timed ones: the first is cold (~12–15
    * s), the next three still ~3.5–5 s.
    */
  val WarmupBatches = 4
  /** Batches whose store the golden digest and the store ratio record. */
  val PrefixBatches = 3
  /** Re-deliveries are at most 40 minutes old; the watermark keeps two
    * hours of urls in the admission state.
    */
  val Watermark = "2 hours"
  val QualityGate = 0.35
  val IndexFilesPerBatch = 2
}
