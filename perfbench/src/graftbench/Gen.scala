package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generator. Every input the benchmark hands to graft
  * comes from here, as plain Scala rows, so the same `--seed` gives
  * the same inputs and [[Gen.digest]] can fingerprint them without a
  * Spark session.
  *
  * Each named stream draws from its own generator, derived from the
  * seed and the stream name, so adding a stream never shifts another.
  */
final class Gen(val seed: Long) {

  def stream(name: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ name.hashCode.toLong * 0xBF58476D1CE4E5B9L)

  // ------------------------------------------------------------ tpc-h-like

  /** (n_nationkey, n_name): the 25 TPC-H nations in a seeded order. */
  lazy val nations: IndexedSeq[(Int, String)] = {
    val r = stream("nation")
    val names = mutable.ArrayBuffer(Gen.NationNames: _*)
    for (i <- names.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = names(i); names(i) = names(j); names(j) = t
    }
    names.zipWithIndex.map { case (n, i) => (i, n) }.toIndexedSeq
  }

  /** (c_custkey, c_name, c_nationkey): names are unique, so the dotted
    * FK field `cust.c_name` resolves to exactly one key. */
  lazy val customers: IndexedSeq[(Long, String, Int)] = {
    val r = stream("customer")
    (1 to Gen.Customers).map { k =>
      (k.toLong, f"Customer#$k%09d-${r.nextInt(1 << 20)}%05x", r.nextInt(25))
    }
  }

  /** Lineitem rows keyed (l_orderkey, l_linenumber): orders of 1 to 7
    * lines until `n` rows. Prices are whole cents, so sums are exact. */
  def lineitem(n: Int): IndexedSeq[Gen.Line] = {
    val r = stream("lineitem")
    val out = new mutable.ArrayBuffer[Gen.Line](n)
    var order = 0L
    while (out.size < n) {
      order += 1 + r.nextInt(3)
      val lines = 1 + r.nextInt(7)
      var ln = 1
      while (ln <= lines && out.size < n) {
        val qty = 1 + r.nextInt(50)
        val cents = (90000 + r.nextInt(110000)).toLong * qty
        out += Gen.Line(order, ln, 1L + r.nextInt(20000), qty.toDouble,
          cents / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Gen.Flags(r.nextInt(3)), if (r.nextBoolean()) "O" else "F")
        ln += 1
      }
    }
    out.toIndexedSeq
  }

  // ------------------------------------------------------------- documents

  private lazy val vocab: IndexedSeq[String] = {
    val r = stream("vocab")
    (0 until 4000).map { _ =>
      val len = 3 + r.nextInt(7)
      (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
  }

  /** One prose document: sentences of seeded words with English
    * stopwords mixed in, so the quality filter passes it. */
  def prose(r: SplittableRandom): String = {
    val words = 40 + r.nextInt(120)
    val sb = new StringBuilder
    var i = 0
    while (i < words) {
      if (i > 0) sb += ' '
      // Zipf-ish: squaring the uniform draw skews towards low ranks
      val u = r.nextDouble()
      sb ++= (if (r.nextInt(4) == 0) Gen.Stop(r.nextInt(Gen.Stop.size))
              else vocab((u * u * vocab.size).toInt))
      if (r.nextInt(12) == 0) sb += '.'
      i += 1
    }
    sb.result()
  }

  /** Low-quality text: mostly symbols and a few short tokens. */
  def junk(r: SplittableRandom): String =
    (0 until 6 + r.nextInt(6)).map(_ => "#$%&*@!?"(r.nextInt(8)).toString * (1 + r.nextInt(4)))
      .mkString(" ")

  /** A near-copy of `text`: a few words replaced. */
  def nearCopy(text: String, r: SplittableRandom): String = {
    val ws = text.split(" ")
    for (_ <- 0 until 2) ws(r.nextInt(ws.length)) = vocab(r.nextInt(vocab.size))
    ws.mkString(" ")
  }
}

object Gen {
  val Customers = 2000

  final case class Line(orderkey: Long, linenumber: Int, partkey: Long,
      quantity: Double, extendedprice: Double, discount: Double, tax: Double,
      returnflag: String, linestatus: String)

  val Flags = IndexedSeq("A", "N", "R")
  val Stop = IndexedSeq("the", "a", "and", "of", "to", "in", "is", "that",
    "for", "with", "on", "as")
  val NationNames = IndexedSeq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA",
    "EGYPT", "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN",
    "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU",
    "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES")

  /** Hex SHA-256 over the canonical text of a sequence of rows. */
  def sha(rows: Iterator[Any]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((String.valueOf(r) + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Fingerprint of a workload's generated inputs: its base data and
    * the inputs of its first measured cycles, as the workload draws
    * them. */
  def digest(workload: String, seed: Long): String = {
    val g = new Gen(seed)
    sha(Workloads.inputs(workload, g))
  }
}
