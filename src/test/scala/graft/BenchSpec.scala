package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s final stdout line: the record that must survive a
  * capture that keeps only the last ~2 KB of output. */
class BenchSpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keys.toSeq.sorted

  /** Every query with a seeded median between 0.01 and 20 s, the
    * `failed` ones at -1. */
  private def results(failed: Set[String]): Seq[(String, Double)] = {
    val r = new scala.util.Random(7)
    names.map(n => n -> (if (failed(n)) -1.0 else math.exp(r.nextDouble() * 7.6 - 4.6)))
  }

  private def queries(line: String): Map[String, String] =
    """"([^"]+)":(-?[0-9.]+)""".r.findAllMatchIn(line.substring(line.indexOf("\"queries\"")))
      .map(m => m.group(1) -> m.group(2)).toMap

  test("the final line fits its budget for every query and itemizes each failure") {
    assert(names.size == 134)
    val failed = Set(names(3), names(40), names(77), names(120))
    val res = results(failed)
    val line = Bench.compactLine(res, "sf0.1")
    assert(line.length <= 1850, s"${line.length} chars: $line")
    val q = queries(line)
    failed.foreach(f => assert(q.get(f).contains("-1"), s"$f not itemized as failed: $line"))
    res.filter(_._2 >= 0).sortBy(-_._2).take(10).foreach { case (k, v) =>
      assert(q.get(k).contains(Bench.fmt(v)), s"slow $k not itemized: $line")
    }
    // what is not itemized is rolled up in its family's sum
    val rolled = res.filterNot { case (k, _) => q.contains(k) }
    assert(rolled.nonEmpty)
    rolled.groupBy { case (k, _) => Bench.family(k) }.foreach { case (fam, es) =>
      val key = (if (fam == "relational") "q" else fam) + "_fast_sum"
      assert(q.get(key).contains(Bench.fmt(es.map(_._2).sum)), s"$key: $line")
    }
    assert(line.contains(s""""value":${Bench.fmt(res.map(_._2).filter(_ >= 0).sum)},"""), line)
  }

  test("a line that fits as it is itemizes every query") {
    val res = Seq("q1_agg" -> 0.2, "ann_pq_topk" -> 0.1, "dedup_semantic" -> -1.0)
    assert(queries(Bench.compactLine(res, "sf0.1")) ==
      Map("q1_agg" -> "0.200", "ann_pq_topk" -> "0.100", "dedup_semantic" -> "-1"))
  }
}
