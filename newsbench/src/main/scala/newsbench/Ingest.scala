package newsbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Chunker, Dedup, Hnsw, Layout, Similarity, Summarize, Upsert}
import graft.sources.FileTreeSource

/** The backfill pass: fetch → clean → near-dup removal → summarize
  * stand-in → chunk → embed → upsert → per-topic HNSW index. Every
  * step is a public operator call; the pass writes the store, its
  * per-topic index and the persisted LSH band index.
  */
object Ingest {
  val Dim = 768
  val Buckets = 8

  final case class Paths(corpus: String, store: String, index: String,
                         tagMap: String, bandIndex: String) {
    def outputs: Seq[String] = Seq(store, index, tagMap, bandIndex)
  }

  /** Frames a traced pass keeps for its per-layer counts. */
  final case class Out(candidates: DataFrame, chunks: DataFrame)

  object Paths {
    def under(ctx: Ctx, name: String): Paths = Paths(ctx.path(s"$name/corpus"),
      ctx.path(s"$name/store"), ctx.path(s"$name/index"),
      ctx.path(s"$name/tagmap"), ctx.path(s"$name/bands"))
  }

  /** One page per file, flat under `dir`; the feed row's `url` is the
    * file's path suffix (FileTreeSource's contract).
    */
  def fileName(a: Article): String = s"${a.topic}-${a.id}.html"

  def stage(ctx: Ctx, corpus: Corpus, p: Paths): DataFrame = {
    val dir = new File(p.corpus)
    dir.mkdirs()
    corpus.articles.foreach(a =>
      Files.write(new File(dir, fileName(a)).toPath,
        a.html.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    feeds(ctx, corpus.articles)
  }

  /** The pages themselves, as a local relation. */
  def pages(ctx: Ctx, articles: Seq[Article]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    articles.map(a => (a.id, a.url, a.topic, a.published, a.html))
      .toDF("doc_id", "link", "topic", "published", "html")
  }

  def feeds(ctx: Ctx, articles: Seq[Article]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    articles.map(a => (a.url.split('/')(2), a.topic, "/" + fileName(a),
        a.url, a.published, a.id))
      .toDF("source", "topic", "url", "link", "published", "doc_id")
  }

  /** Cleaned article text and its keys (reference F1–F4). */
  def clean(raw: DataFrame, html: String): DataFrame =
    raw.select(col("doc_id"), col("link"), col("topic"),
      Text.md5Uuid(col("link")).as("uuid"),
      Text.parseDateLenient(col("published")).as("published_at"),
      Text.cleanText(Text.htmlMainText(col(html))).as("text"))

  def pass(ctx: Ctx, feeds: DataFrame, p: Paths): Out = {
    val spark = ctx.spark
    val raw = ctx.step("sources.fetch")(
      FileTreeSource(p.corpus).fetch(spark, feeds))
    val text = ctx.layer("functions.clean")(clean(raw, "content"))
    // the persisted band index later deltas probe (Streams.streamingDedup
    // layout); minhashCandidates below signs the corpus again itself
    val sigs = ctx.step("operators.dedup.signature")(
      Dedup.minhashSignatures(text, "text", "doc_id"))
    ctx.tracer.span("operators.layout.band_index") {
      Layout.byKey(Dedup.bandBuckets(sigs), "band_hash", 4)
        .write.mode(SaveMode.Overwrite).parquet(p.bandIndex)
    }
    val cands = ctx.layer("operators.dedup.candidates")(
      Dedup.minhashCandidates(text, "text", "doc_id"))
    val survivors = ctx.layer("operators.dedup.resolve") {
      val losers = Dedup.resolveClusters(cands)
        .filter(col("id") =!= col("cluster")).select(col("id"))
      text.join(losers, text("doc_id") === losers("id"), "left_anti")
    }
    Out(cands, enrich(ctx, survivors, p))
  }

  /** Summarize stand-in → chunk → embed → upsert → per-topic index, over
    * cleaned pages; returns the chunks.
    */
  def enrich(ctx: Ctx, survivors: DataFrame, p: Paths): DataFrame = {
    val spark = ctx.spark
    val scored = ctx.step("operators.summarize") {
      val stmts = survivors.select(col("doc_id"),
          explode(Summarize.statements(col("text"))).as("stmt"))
        .select(col("doc_id"), Summarize.statementStatus(col("stmt")).as("status"))
      val card = Summarize.scorecard(stmts, "doc_id", "status")
        .select(col("doc_id"), col("score"))
      survivors.select(col("doc_id"), Text.cleanSummary(
          Summarize.extractiveSummaryRaw(col("text"))).as("summary"))
        .join(card, Seq("doc_id"), "left")
        .select(col("doc_id"), col("summary"),
          coalesce(col("score"), lit(0.0)).as("score"))
    }
    val chunks = ctx.layer("operators.chunker")(
      Chunker.chunkDF(survivors, "doc_id", "text", 400, 50))
    val vecs = ctx.step("operators.similarity.embed") {
      val withId = chunks.select(col("doc_id"),
        (col("doc_id") * 10000L + col("chunk_idx")).as("chunk_id"),
        col("chunk"))
      Similarity.hashEmbedMeanByKey(withId, "doc_id", "chunk_id", "chunk", Dim)
        .groupBy(col("key"))
        .agg(sort_array(collect_list(struct(col("idx"), col("mean_val"))))
          .as("p"))
        .select(col("key").as("doc_id"),
          transform(col("p"), x => x.getField("mean_val")).as("embedding"))
    }
    ctx.tracer.span("operators.upsert.merge") {
      val articles = survivors.join(scored, Seq("doc_id"))
        .join(vecs, Seq("doc_id"))
      Upsert.mergeIntoPartitionedTable(spark, p.store, articles,
        Seq("doc_id"), Buckets)
    }
    ctx.tracer.span("operators.hnsw.build") {
      val stored = spark.read.parquet(p.store)
        .select(col("doc_id"), col("embedding"), col("topic"))
      val (index, tagMap) =
        Hnsw.buildTagged(stored, "doc_id", "embedding", "topic")
      index.write.mode(SaveMode.Overwrite).partitionBy("shard")
        .parquet(p.index)
      tagMap.write.mode(SaveMode.Overwrite).parquet(p.tagMap)
    }
    chunks
  }

  /** Digest of every column of every output the pass writes. */
  def outputDigest(ctx: Ctx, p: Paths): String =
    p.outputs.map(d => Digest.of(ctx.spark.read.parquet(d))).mkString("|")

  /** Every output a pass wrote, held against the generator's ground
    * truth rather than against another run of the same code: each
    * stored row's link, topic, uuid, date, text, summary and score
    * against the page it came from; its chunks' cover of that text;
    * its embedding against one recomputed from the chunks; the index's
    * per-topic members and vectors, and the tag map, against the
    * survivors; the band index against the corpus. Returns what is
    * wrong, at most `limit` lines.
    */
  def oracleErrors(ctx: Ctx, corpus: Corpus, p: Paths, chunks: DataFrame,
                   limit: Int = 8): Seq[String] = {
    val spark = ctx.spark
    import spark.implicits._
    val errs = mutable.ArrayBuffer.empty[String]
    def err(e: => String): Unit = if (errs.size < limit) errs += e
    val want = corpus.byId
    val pieces = chunks.select(col("doc_id"), col("chunk_idx"), col("chunk"))
      .as[(Long, Int, String)].collect().groupBy(_._1)
      .map { case (id, cs) => id -> cs.sortBy(_._2).map(_._3).toSeq }
    val rows = spark.read.parquet(p.store).select(col("doc_id"), col("link"),
        col("topic"), col("uuid"),
        coalesce(col("published_at").cast("long"), lit(-1L)), col("text"),
        col("summary"), col("score"), col("embedding"))
      .as[(Long, String, String, String, Long, String, String, Double, Seq[Double])]
      .collect()
    val vecs = rows.map(r => r._1 -> r._9).toMap
    rows.foreach { case (id, link, topic, uuid, ts, text, summary, score, emb) =>
      want.get(id) match {
        case None => err(s"doc $id was never generated")
        case Some(a) =>
          if (link != a.url || topic != a.topic) err(s"doc $id: link or topic")
          if (uuid != Oracle.uuid(a.url)) err(s"doc $id: uuid $uuid")
          if (ts != a.tsSec) err(s"doc $id: published_at $ts, not ${a.tsSec}")
          if (text != a.text) err(s"doc $id: text differs from the page's")
          if (summary != Oracle.summary(a.text)) err(s"doc $id: summary")
          if (score != Oracle.score(a.text)) err(s"doc $id: score $score")
          val cs = pieces.getOrElse(id, Nil)
          Oracle.chunkError(a.text, cs, 400, 50).foreach(e => err(s"doc $id: $e"))
          if (!Oracle.close(emb, Oracle.embedding(cs, Dim)))
            err(s"doc $id: embedding differs from its chunks' mean")
      }
    }
    val topics = corpus.survivors.toSeq.map(want(_).topic).distinct.sorted
    val tagMap = spark.read.parquet(p.tagMap)
      .select(col("tag"), col("shard").cast("int")).as[(String, Int)].collect()
    if (tagMap.sortBy(_._2).toSeq != topics.zipWithIndex)
      err(s"tag map ${tagMap.mkString(",")}")
    val index = spark.read.parquet(p.index).select(col("shard").cast("int"),
        col("c_id"), col("vec"), col("deleted"))
      .as[(Int, Long, Seq[Double], Boolean)].collect()
    val shardOf = tagMap.toMap
    val members = index.groupBy(_._1).map { case (s, r) => s -> r.map(_._2).sorted.toSeq }
    val expected = corpus.survivors.groupBy(id => shardOf.getOrElse(want(id).topic, -1))
      .map { case (s, ids) => s -> ids.toSeq.sorted }
    if (members != expected) err("index shards do not hold the survivors by topic")
    index.foreach { case (s, id, v, deleted) =>
      if (deleted || !vecs.get(id).exists(Oracle.close(_, v)))
        err(s"index node $id in shard $s: vector or deleted flag")
    }
    val bands = spark.read.parquet(p.bandIndex)
      .select(col("id").cast("long"), col("band").cast("int"))
      .as[(Long, Int)].collect().groupBy(_._1).map { case (id, r) => id -> r.map(_._2).sorted.toSeq }
    if (bands.keySet != want.keySet || bands.values.toSet.size != 1)
      err("band index: not every page has the same bands")
    errs.toSeq
  }

  def storedIds(ctx: Ctx, store: String): Set[Long] = {
    val spark = ctx.spark
    import spark.implicits._
    spark.read.parquet(store).select(col("doc_id")).as[Long].collect().toSet
  }
}

/** `ingest_batch`: one operation is a full backfill pass. */
final class IngestWorkload(ctx: Ctx, seed: Long, golden: Option[String])
    extends Workload {
  import IngestWorkload._
  private var corpus: Corpus = _
  private var feeds: DataFrame = _
  private var p: Ingest.Paths = _
  private var firstDigest: String = _
  private var lastOut: Option[Ingest.Out] = None

  def docsPerOp: Long = corpus.articles.size.toLong
  /** The first pass after the warm-up still runs ~20% slower than the
    * next: two passes, and the median of two is the lower one.
    */
  override def minOps: Int = 2

  def prepare(rep: Int): Unit = {
    corpus = Gen.corpus(seed, Docs, Words, DupShare)
    p = Ingest.Paths.under(ctx, s"ingest$rep")
    feeds = Ingest.stage(ctx, corpus, p)
  }

  def warmup(): Unit = {
    Ingest.pass(ctx, feeds, p)
    require(Ingest.storedIds(ctx, p.store) == corpus.survivors,
      "the warm-up pass stored the wrong pages")
    firstDigest = Ingest.outputDigest(ctx, p)
    ctx.release()
  }

  def execute(op: Int, broken: Boolean): Unit = {
    // a broken pass stores one page with an unparseable date
    val f =
      if (!broken) feeds
      else feeds.withColumn("published", when(col("doc_id") ===
        corpus.survivors.max, lit("not a date")).otherwise(col("published")))
    val out = Ingest.pass(ctx, f, p)
    lastOut = Some(out)
  }

  /** Survivors equal the planted ground truth, every output passes
    * [[Ingest.oracleErrors]], and the all-column digest of the outputs
    * equals the seed's golden digest (the warm-up pass's for a seed
    * with none).
    */
  def check(op: Int): Boolean = {
    val ids = Ingest.storedIds(ctx, p.store)
    val want = golden.getOrElse(firstDigest)
    val digest = Ingest.outputDigest(ctx, p)
    val errs = lastOut.toSeq.flatMap(o => Ingest.oracleErrors(ctx, corpus, p, o.chunks))
    if (ids != corpus.survivors)
      System.err.println(s"pass $op: store lacks ${(corpus.survivors -- ids).size} " +
        s"survivors and holds ${(ids -- corpus.survivors).size} others")
    errs.foreach(e => System.err.println(s"pass $op: $e"))
    if (digest != want)
      System.err.println(s"pass $op: outputs $digest, expected $want")
    ids == corpus.survivors && lastOut.nonEmpty && errs.isEmpty && digest == want
  }

  /** The warm-up pass's output digest (what a golden file records). */
  def warmupDigest: String = firstDigest

  /** Per-operation counts of a traced pass, read from the frames its
    * spans forced: candidate pairs, the share of them that are planted
    * near-duplicates, planted pairs found, chunks.
    */
  def traceCounts(): Map[String, Double] = lastOut.map { out =>
    val spark = ctx.spark
    import spark.implicits._
    val cands = out.candidates.select(col("id_a").cast("long"),
      col("id_b").cast("long")).as[(Long, Long)].collect().toSet
    val cluster = corpus.articles.map(a => a.id -> a.dupOf.getOrElse(a.id)).toMap
    val confirmed = cands.count { case (a, b) => cluster(a) == cluster(b) }
    val planted = corpus.plantedPairs
    val found = planted.count { case (a, b) => cands((math.min(a, b), math.max(a, b))) }
    val res = Map(
      "operators.dedup.candidate_pairs" -> cands.size.toDouble,
      "operators.dedup.confirm_ratio" ->
        (if (cands.isEmpty) 0.0 else confirmed.toDouble / cands.size),
      "operators.dedup.dup_recall" ->
        (if (planted.isEmpty) 1.0 else found.toDouble / planted.size),
      "operators.chunker.chunks" -> out.chunks.count().toDouble)
    lastOut = None
    res
  }.getOrElse(Map.empty)

  def storeBytesPerInputByte: Double =
    p.outputs.map(d => Ctx.du(new File(d))).sum.toDouble / corpus.inputBytes
}

object IngestWorkload {
  /** One hourly crawl at the reference's recorded ceiling: 89 feeds × 2
    * entries (newsbench/README.md, "Input properties"), over a fixed budget of
    * ~250 words a page with 10% planted copies.
    */
  val Docs = 178
  val Words = 44500
  val DupShare = 0.10
}
