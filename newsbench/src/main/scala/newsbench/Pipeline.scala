package newsbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

import graft.operators.Materialize

/** Session, scratch space and tracing shared by every workload. */
final class Ctx(val spark: SparkSession, val work: File,
                val tracer: Tracer) {
  /** Absolute path of `name` under the run's scratch directory. */
  def path(name: String): String = new File(work, name).getAbsolutePath

  private val held = mutable.ArrayBuffer.empty[DataFrame]

  /** A layer's output, made once for its several consumers: forced
    * inside the layer's span in a traced run (so its lazy work lands in
    * that span), a lazy `Materialize` otherwise — what a caller of the
    * library would write.
    */
  def layer(name: String)(df: => DataFrame): DataFrame =
    if (tracer.on) tracer.span(name)(keep(df.localCheckpoint(eager = true)))
    else keep(Materialize(df))

  /** A layer's output with a single consumer: forced inside its span in
    * a traced run, left lazy otherwise.
    */
  def step(name: String)(df: => DataFrame): DataFrame =
    if (tracer.on) tracer.span(name)(keep(df.localCheckpoint(eager = true)))
    else df

  private def keep(df: DataFrame): DataFrame = synchronized { held += df; df }

  /** Drop the blocks of every frame made by [[layer]]/[[step]]. */
  def release(): Unit = synchronized {
    held.foreach(df => try Materialize.release(df) catch { case _: Throwable => () })
    held.clear()
  }
}

object Ctx {
  /** The session `graft.Bench` uses — GraftExtensions, UTC, nanosAsLong,
    * shuffle partitions = cores — on `local[cores]`, its warehouse inside
    * `work` (run.py points SPARK_LOCAL_DIRS and the JVM's temp directory
    * there too).
    */
  def session(work: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("newsbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  /** Bytes of every regular file under `f`. */
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else if (f.isFile) f.length()
    else 0L
}

/** Order-independent digest over every column of a frame: row count and
  * two 32-bit halves of the summed per-row xxhash64. Consuming all
  * columns is the point — a `count()` would let column pruning skip the
  * work the digest is meant to check.
  */
object Digest {
  /** Decimal places doubles are rounded to: sums whose order follows
    * shuffle arrival may differ in the last bits from run to run.
    */
  val Places = 6

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast("double"), Places)
    case ArrayType(e @ (DoubleType | FloatType), _) =>
      transform(c, x => norm(x, e))
    case _ => c
  }

  def of(df: DataFrame): String = {
    val h = xxhash64(df.schema.fields.toIndexedSeq.map(f =>
      norm(col(s"`${f.name}`"), f.dataType)): _*)
    val r = df.agg(count(lit(1)),
      coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).head()
    f"${r.getLong(0)}%d:${r.getLong(1)}%x:${r.getLong(2)}%x"
  }
}
