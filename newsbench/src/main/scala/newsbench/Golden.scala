package newsbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Golden digests: for each workload and seed, the all-column digest of
  * the warm-up's outputs as the engine computed them when the file was
  * written — for `ingest_batch` the outputs of one pass, for
  * `stream_refinery` the store after its first three batches (computed as
  * the equivalent one-shot batch run). A run of a seed in the file
  * holds its outputs to that digest, so an engine change that alters
  * any output value fails the run instead of agreeing with itself.
  *
  * The file has one `workload seed digest` line per entry. Writing it:
  * `newsbench.Golden --work <dir> --seeds 1,2,... --out <file>`
  * (run.py's `--make-golden` does this with its own classpath).
  */
object Golden {

  def read(f: File): Map[(String, Long), String] =
    if (!f.isFile) Map.empty
    else Files.readAllLines(f.toPath, UTF_8).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(w, s, d) = l.split("\\s+")
        (w, s.toLong) -> d
      }.toMap

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(a("work"))
    work.mkdirs()
    val seeds = a("seeds").split(",").toSeq.map(_.trim.toLong)
    val spark = Ctx.session(work, Runtime.getRuntime.availableProcessors())
    val ctx = new Ctx(spark, work, new Tracer(spark.sparkContext))
    val lines = seeds.flatMap { seed =>
      val ingest = new IngestWorkload(ctx, seed, None)
      ingest.prepare(0)
      ingest.warmup()
      val stream = new StreamWorkload(ctx, seed, None)
      stream.prepare(0)
      val d = stream.oneShotDigest(StreamWorkload.PrefixBatches, ctx.path("stream0/oneshot"))
      Seq("ingest0", "stream0").foreach(n => Ctx.delete(new File(work, n)))
      System.err.println(s"seed $seed done")
      Seq(("ingest_batch", seed, ingest.warmupDigest), ("stream_refinery", seed, d))
    }
    spark.stop()
    Files.write(new File(a("out")).toPath, lines.sortBy(l => (l._1, l._2))
      .map { case (w, s, d) => s"$w $s $d" }.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
