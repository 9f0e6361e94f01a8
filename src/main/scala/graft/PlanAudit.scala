package graft
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Suite-wide interpreted-expression inventory (optimization-guide §4 /
  * task rule 4): run every declared query and, via a
  * QueryExecutionListener, walk the executed physical plan of EVERY
  * action the entry triggers — including the checkpoint/write-hidden
  * intermediate plans a final-frame explain cannot see (signature
  * materializations, index builds, micro-batch sinks) — and report
  * every expression that mixes in `CodegenFallback`, i.e. runs
  * interpreted per row inside otherwise-codegen stages. Output: one
  * line per query (`name: expr[,expr…]` or `-`), committable as the
  * round's codegen evidence. The set is read after
  * [[Harness.runEntry]] has drained the listener bus, so every line
  * holds exactly its own entry's plans.
  *
  * Cost: about one Verify pass (every entry executes).
  *
  * Usage: `sbt "runMain graft.PlanAudit"` (env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY as in Bench).
  */
object PlanAudit {
  /** Collects the pretty names of the `CodegenFallback` expressions in
    * every plan the session executes, until [[take]].
    */
  final class Fallbacks extends QueryExecutionListener {
    private val falls =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    /** The names collected so far, sorted; clears the set. */
    def take(): Seq[String] = {
      val fs = falls.toArray(Array.empty[String]).toSeq.sorted
      fs.foreach(falls.remove)
      fs
    }

    private def walk(qe: QueryExecution): Unit =
      try qe.executedPlan.foreach { node =>
        node.expressions.foreach(_.foreach {
          case e: CodegenFallback => falls.add(e.prettyName)
          case _ => ()
        })
      } catch { case e: Throwable =>
        System.err.println(s"[audit] plan walk failed: $e")
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      walk(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = walk(qe)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val spark = Harness.session()
    val fallbacks = new Fallbacks
    spark.listenerManager.register(fallbacks)
    Harness.entries(SparkEntry.queries.toSeq ++ SparkEntry.benchOnly.toSeq)
      .foreach { case (name, fn) =>
        val out = Harness.runEntry(spark, sfDir, name, fn)(_.count())
        val fs = fallbacks.take()
        println(s"[audit] $name: " + out.fold(err => s"ERROR $err",
          _ => if (fs.isEmpty) "-" else fs.mkString(",")))
      }
    spark.stop()
  }
}
