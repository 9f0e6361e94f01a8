package graft
import java.nio.file.{Files, Paths}
import Harness.jsonEscape
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Usage: `runMain graft.Verify <sfDir> <outDir>` (env: SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_ONLY as in Bench).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    Harness.entries(SparkEntry.queries).foreach { case (name, fn) =>
      Harness.runEntry(spark, sfDir, name, fn)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        .fold(e => System.err.println(s"[verify] $name failed: $e"), _ => ())
    }
    def q(s: String): String = "\"" + jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
