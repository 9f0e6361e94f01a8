package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.report]]'s output contract. The driver keeps only the last
  * 2000 characters of Bench's output, so the compact `metric` line
  * must fit its budget, list error markers before the slowest entries,
  * and stop at the first entry that does not fit.
  */
class BenchReportSpec extends AnyFunSuite {
  // ~230 entries of varying name lengths; every 40th one failed
  private val results: Seq[Bench.Result] = (0 until 231).map { i =>
    val name = f"q$i%03d_" + "abcdefghijklmnopqrstuvwxyz".take(3 + i * 7 % 24)
    if (i % 40 == 7) (name, Left(s"err: Boom: \"bad\" $i\tpath"), Nil)
    else {
      val sec = 0.05 + (i * 37 % 229) / 10.0
      (name, Right((sec, s"""{"w":$i,"r":$i,"sp":0}""")),
        if (i % 50 == 3) Seq((sec, Seq("batch0" -> 1.0, "batch0" -> 2.0)))
        else Seq((sec, Nil)))
    }
  }
  private val (lines, full) = Bench.report("/sf", Some(Seq("q")), results)
  private val compact = lines.last

  private def keyOrder(line: String, keys: Seq[String]): Unit = {
    val at = keys.map(k => line.indexOf(s"\"$k\":"))
    assert(!at.contains(-1) && at == at.sorted, s"$keys in $line")
  }
  private def shownEntries: Seq[String] = {
    val body = compact.substring(compact.indexOf("\"queries\":{") + 11,
      compact.indexOf("},\"value\":"))
    "\"(q\\d{3}_[a-z]+)\":".r.findAllMatchIn(body).map(_.group(1)).toSeq
  }

  test("three detail lines, then the metric line; keys in today's order") {
    assert(lines.size == 4)
    keyOrder(lines(0), Seq("detail", "sf", "shuffle_bytes"))
    keyOrder(lines(1), Seq("detail", "sf", "probe"))
    keyOrder(lines(2), Seq("detail", "sf", "queries"))
    assert(lines(0).startsWith("{\"detail\":\"shuffle_bytes\""))
    assert(lines(1).startsWith("{\"detail\":\"probe_times\""))
    assert(lines(2).startsWith("{\"detail\":\"wall_times_full\""))
    keyOrder(compact, Seq("metric", "unit", "err_count", "n_queries",
      "n_shown", "streaming_floor_sec", "nonstreaming_sec", "sf",
      "queries", "value"))
    keyOrder(full, Seq("metric", "unit", "err_count", "n_queries", "only",
      "sf", "streaming_floor_sec", "nonstreaming_sec", "queries",
      "shuffle_bytes", "probe", "value"))
    assert(compact.contains("\"err_count\":6,\"n_queries\":231,"))
    // repeated probe labels get a #n suffix
    assert(lines(1).contains("\"batch0\":1.000,\"batch0#1\":2.000"))
  }

  test("the metric line fits its budget and the driver's 2000-char tail") {
    assert(compact.length <= Bench.CompactBudget)
    assert(lines.mkString("\n").takeRight(2000).contains(compact))
    // the full line would not have fit: the budget is doing the work
    assert(full.length > 2000)
  }

  test("error markers come first, then the slowest entries, stopping at " +
    "the first entry that does not fit") {
    val errs = results.collect {
      case (k, Left(e), _) => k -> s"\"$k\":\"${Harness.jsonEscape(e)}\""
    }
    val slow = results.collect { case (k, Right((s, _)), _) => (k, s) }
      .sortBy(-_._2).map { case (k, s) =>
        k -> s"\"$k\":${"%.3f".formatLocal(java.util.Locale.ROOT, s)}"
      }
    val order = errs ++ slow
    val shown = shownEntries
    assert(shown.size > errs.size && shown.size < order.size)
    assert(compact.contains(s"\"n_shown\":${shown.size},"))
    assert(shown == order.take(shown.size).map(_._1))
    assert(compact.contains("\"err: Boom: \\\"bad\\\" 7\\tpath\""))
    // the next entry (plus its comma) busts the budget, while some
    // later, shorter one would still have fit
    val room = Bench.CompactBudget - compact.length
    assert(1 + order(shown.size)._2.length > room)
    assert(order.drop(shown.size + 1).exists(_._2.length + 2 <= room))
  }
}
