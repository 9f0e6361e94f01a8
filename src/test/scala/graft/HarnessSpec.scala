package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Materialize

/** [[Harness.runEntry]]'s contract: failures are markers, cleanup runs
  * on every path, and the listener bus is drained before it returns —
  * so probe records and query-execution callbacks belong to the entry
  * that caused them, deterministically, with no sleep.
  */
class HarnessSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SharedSpark.spark
    Harness.recordBatches(s)
    s
  }

  test("a throwing entry returns the err marker, and its temp dir and " +
    "iterCut frames are released anyway") {
    var dir: String = null
    val broken: Harness.Entry = (s, _) => {
      dir = TempDirs.create("graft-harness-spec")
      Materialize.iterCut(s.range(10).toDF("x")): Unit
      throw new IllegalStateException("boom\nsecond line")
    }
    val out = Harness.runEntry(spark, "", "broken", broken)(_.count())
    assert(out == Left("err: IllegalStateException: boom"))
    assert(dir != null && !new java.io.File(dir).exists())
    assert(Materialize.trackedCount == 0)
  }

  test("every micro-batch's batchN probe is present when runEntry " +
    "returns, on every repeat") {
    val stream: Harness.Entry = (s, _) => {
      val tmp = TempDirs.create("graft-harness-stream")
      (0 until 3).foreach { i =>
        s.range(i * 10L, i * 10L + 10).coalesce(1)
          .write.mode("append").parquet(s"$tmp/in")
      }
      val schema = s.read.parquet(s"$tmp/in").schema
      s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/in")
        .writeStream.format("parquet").option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/cp")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      s.read.parquet(s"$tmp/out")
    }
    (0 until 4).foreach { rep =>
      val out = Harness.runEntry(spark, "", "stream", stream)(_.count())
      assert(out.map(_.value) == Right(30L))
      assert(out.map(_.probes.map(_._1).toSet) ==
        Right(Set("batch0", "batch1", "batch2")), s"repeat $rep")
    }
  }

  test("back-to-back entries: a CodegenFallback expression is credited " +
    "to its own entry, never to the next") {
    val fallbacks = new PlanAudit.Fallbacks
    spark.listenerManager.register(fallbacks)
    try {
      val interpreted: Harness.Entry = (s, _) =>
        s.range(100).select(transform(array(col("id"), col("id")),
          x => x + 1).as("t"))
      val plain: Harness.Entry = (s, _) =>
        s.range(100).select((col("id") + 1).as("t"))
      (0 until 5).foreach { rep =>
        fallbacks.take(): Unit
        assert(Harness.runEntry(spark, "", "a", interpreted)(_.collect())
          .isRight)
        assert(fallbacks.take().contains("transform"), s"repeat $rep")
        assert(Harness.runEntry(spark, "", "b", plain)(_.collect()).isRight)
        assert(fallbacks.take().isEmpty, s"repeat $rep")
      }
    } finally spark.listenerManager.unregister(fallbacks)
  }

  test("jsonEscape: quote, backslash, \\n, \\r, \\t and control chars") {
    assert(Harness.jsonEscape("a\"b\\c\nd\re\tf\u0001g\u001fh") ==
      "a\\\"b\\\\c\\nd\\re\\tf\\u0001g\\u001fh")
    assert(Harness.jsonEscape("Ấm Áp q01") == "Ấm Áp q01")
  }

  test("entries: name order, prefix filter") {
    val df: Harness.Entry = (s, _) => s.range(1).toDF()
    val reg = Seq("q10_b" -> df, "q02_a" -> df, "q100_c" -> df)
    assert(Harness.entries(reg, None).map(_._1) ==
      Seq("q02_a", "q100_c", "q10_b"))
    assert(Harness.entries(reg, Some(Seq("q10", "zz"))).map(_._1) ==
      Seq("q100_c", "q10_b"))
  }
}
