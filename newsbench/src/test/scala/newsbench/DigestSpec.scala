package newsbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def frame(n: Int) = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, s"t$i", Seq(i * 0.1, i / 3.0)))
      .toDF("id", "text", "vec")
  }

  test("the digest ignores row order and partitioning") {
    val df = frame(50)
    val d = Digest.of(df)
    assert(Digest.of(df.orderBy(col("id").desc)) == d)
    assert(Digest.of(df.repartition(7)) == d)
    assert(d.startsWith("50:"))
  }

  test("the digest reads every column") {
    val df = frame(50)
    val d = Digest.of(df)
    assert(Digest.of(df.withColumn("text",
      when(col("id") === 7, lit("changed")).otherwise(col("text")))) != d)
    assert(Digest.of(df.withColumn("vec",
      when(col("id") === 7, array(lit(9.0))).otherwise(col("vec")))) != d)
    assert(Digest.of(df.drop("text")) != d)
  }

  test("doubles are compared at six decimals, so summation order does not show") {
    val s = spark
    import s.implicits._
    val a = Seq((1L, 0.1 + 0.2 + 0.3)).toDF("id", "x")
    val b = Seq((1L, 0.3 + 0.2 + 0.1)).toDF("id", "x")
    assert(a.head().getDouble(1) != b.head().getDouble(1))
    assert(Digest.of(a) == Digest.of(b))
    assert(Digest.of(Seq((1L, 0.600001)).toDF("id", "x")) != Digest.of(a))
  }

  test("an empty frame has a digest") {
    assert(Digest.of(frame(0)) == "0:0:0")
  }

  test("a golden file maps workload and seed to a digest; a missing file maps nothing") {
    val f = java.io.File.createTempFile("golden", ".tsv")
    f.deleteOnExit()
    java.nio.file.Files.writeString(f.toPath,
      "# comment\ningest_batch 3 1:a:b|2:c:d\n\nstream_refinery 3 5:e:f\n")
    assert(Golden.read(f) == Map(("ingest_batch", 3L) -> "1:a:b|2:c:d",
      ("stream_refinery", 3L) -> "5:e:f"))
    assert(Golden.read(new java.io.File(f.getPath + ".none")).isEmpty)
  }
}
