package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Seeded 250-doc batches in the shape of the curate_stream benchmark
  * workload: prose with stopwords mixed in (so the quality floor passes
  * it), 10% symbol junk, 5% exact copies of earlier docs of the batch
  * and 10% near copies (two words replaced) of earlier batches' docs.
  * Batch `b` numbers its docs `250 b + 1` to `250 (b + 1)`. */
object CurateBatches {
  val Size = 250

  def apply(batches: Int, seed: Long): Seq[Seq[(Long, String)]] = {
    val r = new scala.util.Random(seed)
    val vocab = IndexedSeq.fill(2000)(
      Seq.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString)
    val stop = IndexedSeq("the", "of", "and", "to", "in", "is", "that", "it",
      "was", "for", "on", "are", "with", "as", "at", "be", "by", "this", "from", "or")
    def prose() = Seq.fill(40 + r.nextInt(120)) {
      val u = r.nextDouble()
      if (r.nextInt(4) == 0) stop(r.nextInt(stop.size)) else vocab((u * u * vocab.size).toInt)
    }.mkString(" ")
    def junk() = Seq.fill(6 + r.nextInt(6))(
      "#$%&*@!?"(r.nextInt(8)).toString * (1 + r.nextInt(4))).mkString(" ")
    def near(t: String) = {
      val ws = t.split(" ")
      for (_ <- 0 until 2) ws(r.nextInt(ws.length)) = vocab(r.nextInt(vocab.size))
      ws.mkString(" ")
    }
    val earlier = ArrayBuffer[String]()
    (0 until batches).map { b =>
      val texts = ArrayBuffer[String]()
      (0 until Size).foreach { _ =>
        val u = r.nextDouble()
        texts += (
          if (u < 0.1) junk()
          else if (u < 0.15 && texts.nonEmpty) texts(r.nextInt(texts.size))
          else if (u < 0.25 && earlier.nonEmpty) near(earlier(r.nextInt(earlier.size)))
          else prose())
      }
      earlier ++= texts.take(Size / 4)
      texts.zipWithIndex.map { case (t, i) => (b.toLong * Size + i + 1, t) }.toSeq
    }
  }

  /** A batch as a (doc_id, text) frame. */
  def frame(spark: SparkSession, batch: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(batch.map { case (k, t) => Row(k, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
}

/** The docs the incremental recipe (`minQuality = 0.5`, `nearThreshold =
  * 0.2`) drops from `CurateBatches(2, seed = 7)`, as the recipe dropped
  * them before it carried hash sets between stages: batch 0 bootstraps
  * the corpus index, batch 1 is deduped against it. */
object CurateGolden {
  val dropped0: Set[Long] = Set(12, 19, 38, 49, 53, 69, 70, 94, 95, 99, 100, 109, 110,
    132, 140, 155, 159, 171, 174, 197, 204, 208, 210, 223, 225, 234, 250)
  val dropped1: Set[Long] = Set(258, 262, 263, 271, 275, 276, 277, 286, 287, 289, 305,
    313, 316, 321, 332, 335, 337, 338, 344, 345, 355, 356, 363, 366, 377, 381, 384, 388,
    399, 405, 407, 420, 421, 432, 434, 443, 448, 456, 459, 469, 471, 488, 494)
}
