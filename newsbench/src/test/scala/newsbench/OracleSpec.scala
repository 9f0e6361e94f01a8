package newsbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Text
import graft.operators.Similarity

class OracleSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("uuid is the md5 of the link in 8-4-4-4-12 groups") {
    assert(Oracle.uuid("abc") == "90015098-3cd2-4fb0-d696-3f7d28e17f72")
  }

  test("summary keeps the first four two-word groups; score follows the statement rules") {
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    assert(Oracle.summary(text) == "w1 w2\nw3 w4\nw5 w6\nw7 w8")
    assert(Oracle.score("a b c") == 1.0)                   // one statement
    assert(Oracle.score(text) == 3.0)                      // nothing confirmed: floor
    val live = (Seq.fill(5)("livestream a b c d e")).mkString(" ")
    assert(Oracle.score(live) == 10.0)                     // every statement confirmed
  }

  test("a chunking must cover the text in order, within size and overlap") {
    val text = "abcdefghijklmnopqrstuvwxyz" * 4
    assert(Oracle.chunkError(text, Seq(text.take(60), text.slice(50, 104)), 60, 10).isEmpty)
    assert(Oracle.chunkError(text, Seq(text.take(60), text.slice(70, 104)), 60, 10).nonEmpty) // gap
    assert(Oracle.chunkError(text, Seq(text.take(60), text.slice(30, 90)), 60, 10).nonEmpty)  // overlap 30
    assert(Oracle.chunkError(text, Seq(text.take(60)), 60, 10).nonEmpty)                      // short
    assert(Oracle.chunkError(text, Seq(text), 60, 10).nonEmpty)                               // too long
  }

  test("a generated page's text, uuid and embedding agree with the engine's operators") {
    val s = spark
    import s.implicits._
    val arts = Gen.corpus(11, 12, 3000, 0.0).articles
    val rows = arts.map(a => (a.id, a.url, a.html)).toDF("id", "link", "html")
      .select(col("id"), Text.md5Uuid(col("link")).as("uuid"),
        Text.cleanText(Text.htmlMainText(col("html"))).as("text"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    rows.zip(arts).foreach { case ((id, uuid, text), a) =>
      assert(id == a.id && uuid == Oracle.uuid(a.url) && text == a.text)
    }
    val chunks = arts.flatMap(a => Seq(a.text.take(400), a.text.slice(350, 750))
      .zipWithIndex.map { case (c, i) => (a.id, a.id * 10 + i, c) })
    val engine = Similarity.hashEmbedMeanByKey(chunks.toDF("doc", "cid", "chunk"),
        "doc", "cid", "chunk", 64)
      .as[(Long, Int, Double)].collect().groupBy(_._1)
    arts.foreach { a =>
      val v = engine(a.id).sortBy(_._2).map(_._3).toSeq
      val want = Oracle.embedding(Seq(a.text.take(400), a.text.slice(350, 750)), 64)
      assert(Oracle.close(v, want), s"doc ${a.id}")
    }
  }
}
