package graft.store

import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

/** Value encoding + ordering for BRIN-style zone maps.
  *
  * The reference's `use-index: brin` puts a postgres BRIN index on the
  * table key (tanker/context.py:657-676): cheap block-range min/max
  * stats that prune heap ranges on key-range scans, exploiting the
  * physical key-order correlation of append-mostly tables. The Spark
  * equivalent ([[Warehouse]] zoned snapshots) range-CLUSTERS a brin
  * table's snapshot by its leading key column into `__z=<k>` zone
  * directories and records per-zone min/max in the manifest; reads
  * with key bounds then select only overlapping zone dirs driver-side
  * — at 100 TB a time-range query opens a handful of directories
  * instead of listing the whole table.
  *
  * Zone stats and query bounds are both mapped into one totally
  * ordered encoding so the overlap test is a plain comparison:
  *
  *  - integral / boolean        → Long
  *  - fractional                → Double
  *  - date                      → Long (epoch day)
  *  - timestamp (tz and ntz)    → Long (epoch micros; ntz pinned UTC,
  *                                matching the engine's session TZ)
  *  - string                    → String, compared as UTF-8 bytes
  *                                (Spark's binary string order, NOT
  *                                Java's UTF-16 order — they differ on
  *                                supplementary characters)
  *
  * Encoding is driver-side on native min/max values, so no column
  * cast can break monotonicity. Within one column both sides encode
  * to the same family; [[cmp]] never sees mixed Long/Double except
  * through explicit widening by the caller.
  */
object Brin {

  /** Encode one non-null JVM value (a collected aggregate or a
    * [[graft.view.Coerce]]d filter literal) to its zone-map form. */
  def encode(v: Any): Any = v match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case b: Boolean => if (b) 1L else 0L
    case d: Double => d
    case f: Float => f.toDouble
    case d: LocalDate => d.toEpochDay
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case t: LocalDateTime => micros(t.toInstant(ZoneOffset.UTC))
    case t: java.sql.Timestamp => micros(t.toInstant)
    case i: Instant => micros(i)
    case d: java.math.BigDecimal => d.doubleValue()
    case d: BigDecimal => d.toDouble
    case s: String => s
    case other => throw new IllegalArgumentException(
      s"Unsupported zone-map key value: $other (${other.getClass.getName})")
  }

  private def micros(i: Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  /** Total order over encoded values of ONE column (same family on
    * both sides; Long vs Double appears only if a fractional literal
    * met an integral column, where the caller already truncated). */
  def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: Long, y: Double) => java.lang.Double.compare(x.toDouble, y)
    case (x: Double, y: Long) => java.lang.Double.compare(x, y.toDouble)
    case (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(
        x.getBytes(StandardCharsets.UTF_8), y.getBytes(StandardCharsets.UTF_8))
    case _ => throw new IllegalArgumentException(
      s"Incomparable zone bounds: $a vs $b")
  }

  /** Conservative closed query bounds on the zone key: `None` end =
    * unbounded. A zone `[zlo, zhi]` survives pruning iff it overlaps.
    *
    * `points`, when defined, is the EXACT value set the column may
    * take (from `=` / `in` / equality-map conjuncts) — RAW coerced
    * values in the column's Spark type (encoded on demand), kept
    * sorted in [[cmp]] order and deduplicated, with `lo`/`hi` always
    * their envelope. Point knowledge prunes strictly harder than the
    * envelope: an IN-list of far-apart keys keeps only zones
    * CONTAINING a point (not the whole min-max span), an empty
    * surviving set is provably empty, and a bucketed read can hash
    * the exact key tuples to their bucket ids driver-side
    * ([[Warehouse.read]]). Range-only conjuncts leave `points`
    * `None` — same conservative envelope behavior as before. */
  final case class Bounds(lo: Option[Any], hi: Option[Any],
      points: Option[Seq[Any]] = None) {
    def overlaps(zlo: Option[Any], zhi: Option[Any]): Boolean = {
      // a zone with null stats (all-null keys) is never prunable
      if (zlo.isEmpty || zhi.isEmpty) true
      else points match {
        case Some(ps) => ps.exists { p =>
          val e = encode(p)
          cmp(e, zlo.get) >= 0 && cmp(e, zhi.get) <= 0
        }
        case None => lo.forall(l => cmp(zhi.get, l) >= 0) &&
          hi.forall(h => cmp(zlo.get, h) <= 0)
      }
    }
    def isEmpty: Boolean = points.exists(_.isEmpty) ||
      (lo.isDefined && hi.isDefined && cmp(lo.get, hi.get) > 0)
    /** Intersect with another closed interval; surviving points are
      * re-filtered so the exact set never outlives its range. */
    def tighten(nlo: Option[Any], nhi: Option[Any]): Bounds = {
      val rl = (lo, nlo) match {
        case (Some(a), Some(b)) => Some(if (cmp(a, b) >= 0) a else b)
        case (a, b) => a.orElse(b)
      }
      val rh = (hi, nhi) match {
        case (Some(a), Some(b)) => Some(if (cmp(a, b) <= 0) a else b)
        case (a, b) => a.orElse(b)
      }
      Bounds(rl, rh, points.map(_.filter { p =>
        val e = encode(p)
        rl.forall(cmp(e, _) >= 0) && rh.forall(cmp(e, _) <= 0)
      }))
    }
    /** Intersect with an exact value set (an `=` or `in` conjunct):
      * keep values inside the current range AND — when a point set
      * already exists — present in it; the envelope follows the
      * survivors. An empty survivor set is provably empty. */
    def tightenPoints(ps: Seq[Any]): Bounds = {
      val within = ps.filter { p =>
        val e = encode(p)
        lo.forall(cmp(e, _) >= 0) && hi.forall(cmp(e, _) <= 0)
      }
      val merged0 = points match {
        case Some(old) => within.filter(p =>
          old.exists(q => cmp(encode(p), encode(q)) == 0))
        case None => within
      }
      // canonical order + dedup by encoded equality
      val merged = merged0.sortWith((a, b) => cmp(encode(a), encode(b)) < 0)
        .foldLeft(Vector.empty[Any]) { (acc, p) =>
          if (acc.nonEmpty && cmp(encode(acc.last), encode(p)) == 0) acc
          else acc :+ p
        }
      if (merged.isEmpty) Bounds(lo, hi, Some(Nil))
      else Bounds(Some(encode(merged.head)), Some(encode(merged.last)),
        Some(merged))
    }
  }
  object Bounds { val all: Bounds = Bounds(None, None) }
}
