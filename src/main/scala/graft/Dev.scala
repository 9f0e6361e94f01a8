package graft

/** Dev harness: print the formatted physical plan of the named entries
  * (matched as name prefixes). Timing is Bench's job and output dumps
  * are Verify's; both take SPARK_GRAFT_ONLY for the same selection.
  * Usage: runMain graft.Dev q25_minhash_lsh q26_simhash
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS.
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session()
    val registry = SparkEntry.queries.toSeq ++ SparkEntry.benchOnly.toSeq
    Harness.entries(registry, Some(args.toSeq))
      .foreach { case (name, fn) =>
        println(s"[dev] $name")
        Harness.runEntry(spark, sfDir, name, fn)(_.explain("formatted"))
          .fold(err => println(s"[dev] $name: $err"), _ => ())
      }
    spark.stop()
  }
}
