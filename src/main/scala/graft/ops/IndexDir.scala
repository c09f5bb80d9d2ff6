package graft.ops

import java.io.IOException
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.Try

/** A persisted index directory: the on-disk format every index family
  * shares and the one protocol that replaces a directory whole. Index
  * builds, appends, retrains, probes, the curation recipes, backup and
  * fsck all read, write, journal, swap and discover index directories
  * through here.
  *
  * Layout of an index at `path`:
  *  - the family's parquet rows (`__bp=` / `__c=` partitions, or the
  *    minhash index's flat `bands/` and `docs/` file sets);
  *  - `_graft_index_meta.json`, the typed [[Meta]]: build parameters
  *    and, for the centroid families, centroids, codebooks and drift
  *    tallies, so no probe or append ever runs with parameters the
  *    stored rows were not built with. The rows' schema is not in the
  *    meta: the parquet footers record it, and a minhash probe reads
  *    its `docs/` and `bands/` with the schema of one `docs/` footer
  *    (the id type is the index's own), read on the driver;
  *  - `_graft_tally_journal_<uuid>.json`, append tallies whose fold into
  *    the meta is not confirmed yet.
  * Underscore names are invisible to parquet readers. Two siblings exist
  * only while a replacement is installed ([[install]]): `path__retrain`,
  * the scratch a replacement is built or copied into, and `path__old`,
  * the live directory moved aside.
  *
  * Crash guarantees:
  *  - Meta last. A build writes the meta after its rows, and a backup
  *    copies it after the rest of the directory ([[isMetaFile]]), so a
  *    torn directory is never probed as an index.
  *  - Journal before append ([[appendTallied]]). A crash between an
  *    append's parquet commit and its meta update would drop the batch's
  *    mass from `appendedCounts` and fire the drift retrain late. So the
  *    batch's per-cell delta is journaled BEFORE the rows are appended,
  *    and journals are removed only AFTER the folded counts are durable
  *    in the meta: surviving journals are exactly the unconfirmed
  *    deltas, and the next append folds them in. Re-folding can only
  *    overcount (a crash before the row append, or a caller retrying a
  *    whole append, whose duplicate members dedup tolerates as extra
  *    candidates), which at worst retrains early: always safe, since a
  *    retrain rebuilds exact state from the stored vectors. Journals
  *    live inside the directory and vanish with it on a swap, whose
  *    rebuild resets the tallies anyway.
  *  - Heal on open. [[install]] renames live to aside, scratch to live,
  *    then deletes the aside, so at every instant a complete index
  *    exists at `path` or at `path__old`. A missing `path` next to its
  *    aside is unambiguous (a healthy index always exists at `path`), so
  *    every open ([[read]], [[exists]]) rolls the rename back first
  *    ([[heal]]). A crash mid-rebuild leaves the live index untouched;
  *    the scratch is emptied on the next attempt. */
object IndexDir {
  private val MetaName = "_graft_index_meta.json"
  private val JournalPrefix = "_graft_tally_journal_"
  private val ScratchSuffix = "__retrain"
  private val AsideSuffix = "__old"

  /** Typed index metadata, one case per family. */
  sealed trait Meta {
    def kind: String
    /** The JSON fields, in write order. */
    def fields: Seq[(String, Any)]
  }

  /** `legacyBuckets` is set only when the meta was read from an index
    * built before flat bands, whose `bands/` is Hive-partitioned into
    * that many `__bp=` directories (the meta's `buckets` key). No build
    * writes that layout; the first append rewrites it flat. */
  final case class MinhashMeta(numHashes: Int, numBands: Int,
      shingleSize: Int, legacyBuckets: Option[Int] = None) extends Meta {
    def kind = "minhash"
    def fields = Seq("kind" -> kind, "numHashes" -> numHashes,
      "numBands" -> numBands, "shingleSize" -> shingleSize) ++
      legacyBuckets.map("buckets" -> _)
  }

  final case class LshMeta(dims: Int, numPlanes: Int, bandBits: Int,
      buckets: Int, seed: Long) extends Meta {
    def kind = "lsh"
    def fields = Seq("kind" -> kind, "dims" -> dims, "numPlanes" -> numPlanes,
      "bandBits" -> bandBits, "buckets" -> buckets, "seed" -> seed)
  }

  /** A centroid index (IVF, IVF-PQ, semantic): each row lives in the
    * `__c=` cell of its nearest centroid. `trainedCount` is the mass the
    * centroids were trained on and `appendedCounts` the per-cell mass
    * appended since: the drift baseline of the retrain trigger. */
  sealed trait CentroidMeta extends Meta {
    def dims: Int
    def centroids: Seq[Array[Double]]
    def trainedCount: Long
    def appendedCounts: Seq[Long]
    def withAppended(counts: Seq[Long]): CentroidMeta
    protected def tallies: Seq[(String, Any)] = Seq(
      "trainedCount" -> trainedCount, "appendedCounts" -> appendedCounts,
      "centroids" -> centroids)
  }

  final case class IvfMeta(dims: Int, nlist: Int, seed: Long,
      quantized: Boolean, centroids: Seq[Array[Double]], trainedCount: Long,
      appendedCounts: Seq[Long]) extends CentroidMeta {
    def kind = "ivf"
    def withAppended(counts: Seq[Long]) = copy(appendedCounts = counts)
    def fields = Seq("kind" -> kind, "dims" -> dims, "nlist" -> nlist,
      "seed" -> seed, "quantized" -> quantized) ++ tallies
  }

  final case class IvfPqMeta(dims: Int, nlist: Int, m: Int, codeK: Int,
      seed: Long, trainFraction: Double, centroids: Seq[Array[Double]],
      codebooks: Seq[Seq[Array[Double]]], trainedCount: Long,
      appendedCounts: Seq[Long]) extends CentroidMeta {
    def kind = "ivfpq"
    def withAppended(counts: Seq[Long]) = copy(appendedCounts = counts)
    def fields = Seq("kind" -> kind, "dims" -> dims, "nlist" -> nlist,
      "m" -> m, "codeK" -> codeK, "seed" -> seed,
      "trainFraction" -> trainFraction) ++ tallies :+
      ("codebooks" -> codebooks)
  }

  final case class SemanticMeta(dims: Int, k: Int, seed: Long,
      centroids: Seq[Array[Double]], trainedCount: Long,
      appendedCounts: Seq[Long]) extends CentroidMeta {
    def kind = "semantic"
    def withAppended(counts: Seq[Long]) = copy(appendedCounts = counts)
    def fields = Seq("kind" -> kind, "dims" -> dims, "k" -> k,
      "seed" -> seed) ++ tallies
  }

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readText(fs: FileSystem, f: Path): String = {
    val in = fs.open(f)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
  }

  private def writeText(fs: FileSystem, f: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fs.create(f, overwrite)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def yamlMap(text: String): Map[String, Any] =
    Option(new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Object]](text))
      .map(_.asScala.toMap).getOrElse(Map.empty)

  /** The meta in `text`, or every problem that keeps it from being one:
    * the one check [[read]] applies and fsck reports. A meta without
    * `kind` is the pre-kind LSH layout. */
  private def parse(text: String): Either[Seq[String], Meta] =
    try {
      val raw = yamlMap(text)
      if (raw.isEmpty) Left(Seq("index metadata is empty"))
      else new Fields(raw).meta
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(Seq(s"index metadata unreadable: ${e.getMessage}"))
    }

  /** Typed field access over a parsed meta map, collecting problems. A
    * failed field yields a placeholder; the meta is discarded whenever
    * any problem was found. Every value goes through `toString`:
    * snakeyaml's YAML-1.1 float resolver types "1.23E7" (no signed
    * exponent) as a String. */
  private final class Fields(m: Map[String, Any]) {
    private val bad = scala.collection.mutable.ArrayBuffer.empty[String]

    private def field[T](k: String, conv: String => T, dflt: Option[T],
        ok: T => Boolean = (_: T) => true): T =
      m.get(k) match {
        case None if dflt.isDefined => dflt.get
        case v => v.flatMap(x => Try(conv(x.toString)).toOption.filter(ok))
          .getOrElse {
            bad += (if (v.isEmpty) s"'$k' missing"
                    else s"'$k' invalid: ${v.get}")
            null.asInstanceOf[T]
          }
      }
    private def pos(k: String): Int = field(k, _.toInt, None, (_: Int) > 0)
    private def long(k: String, dflt: Option[Long] = None): Long =
      field(k, _.toLong, dflt)

    private def list(v: Any): Seq[Any] = v.asInstanceOf[java.util.List[Any]]
      .asScala.toSeq
    private def vectors(v: Any): Seq[Array[Double]] =
      list(v).map(list(_).map(_.toString.toDouble).toArray)
    private def nested[T](k: String, conv: Any => T): Option[T] =
      m.get(k).flatMap(v => Try(conv(v)).toOption).orElse {
        bad += s"$k missing or not a list"; None
      }

    /** Centroids, checked against their count key and `dims`. */
    private def cells(nKey: String, n: Int, dims: Int): Seq[Array[Double]] = {
      val cs = nested("centroids", vectors).getOrElse(Nil)
      if (cs.nonEmpty && n > 0 && cs.size != n)
        bad += s"centroid count ${cs.size} != $nKey $n"
      if (dims > 0 && cs.exists(_.length != dims))
        bad += s"a centroid's width differs from dims $dims"
      cs
    }
    /** Per-cell append tallies, zero-filled for fresh or pre-tally
      * indexes. */
    private def appended(n: Int): Seq[Long] =
      m.get("appendedCounts").flatMap(v =>
          Try(list(v).map(_.toString.toLong)).toOption)
        .filter(_.size == n).getOrElse(Seq.fill(n)(0L))

    def meta: Either[Seq[String], Meta] = {
      val built: Option[Meta] = m.get("kind").fold("lsh")(_.toString) match {
        case "minhash" => Some(MinhashMeta(pos("numHashes"), pos("numBands"),
          pos("shingleSize"), m.get("buckets").map(_ => pos("buckets"))))
        case "lsh" => Some(LshMeta(pos("dims"), pos("numPlanes"),
          pos("bandBits"), pos("buckets"), long("seed")))
        case "ivf" =>
          val (dims, nlist) = (pos("dims"), pos("nlist"))
          Some(IvfMeta(dims, nlist, long("seed"),
            field("quantized", _.toBoolean, Some(false)),
            cells("nlist", nlist, dims), long("trainedCount", Some(0L)),
            appended(nlist)))
        case "ivfpq" =>
          val (dims, nlist, sub) = (pos("dims"), pos("nlist"), pos("m"))
          val books = nested("codebooks", list(_).map(vectors)).getOrElse(Nil)
          if (books.nonEmpty && sub > 0 && books.size != sub)
            bad += s"codebook count ${books.size} != m $sub"
          if (dims > 0 && sub > 0 && dims % sub != 0)
            bad += s"dims $dims not divisible by m $sub"
          Some(IvfPqMeta(dims, nlist, sub, pos("codeK"), long("seed"),
            field("trainFraction", _.toDouble, Some(1.0)),
            cells("nlist", nlist, dims), books,
            long("trainedCount", Some(0L)), appended(nlist)))
        case "semantic" =>
          val (dims, k) = (pos("dims"), pos("k"))
          Some(SemanticMeta(dims, k, long("seed"), cells("k", k, dims),
            long("trainedCount", Some(0L)), appended(k)))
        case other =>
          bad += s"unknown index kind '$other' (minhash/lsh/ivf/ivfpq/semantic)"
          None
      }
      if (bad.isEmpty) Right(built.get) else Left(bad.toSeq)
    }
  }

  /** The index's meta, after healing a half-done swap. Fails loudly
    * when there is no index at `path` or its meta does not [[parse]]. */
  def read(spark: SparkSession, path: String): Meta = {
    val fs = fsOf(spark, path)
    heal(fs, new Path(path))
    val f = new Path(path, MetaName)
    require(fs.exists(f), s"No index metadata at $f — was this directory " +
      "written by one of the build*Index functions?")
    parse(readText(fs, f)).fold(
      ps => throw new IllegalArgumentException(s"$f: ${ps.mkString("; ")}"),
      identity)
  }

  /** [[read]], refusing an index of another family; `what` names the
    * expected family in the error. */
  def readAs[M <: Meta](spark: SparkSession, path: String, what: String)(
      implicit ct: scala.reflect.ClassTag[M]): M =
    read(spark, path) match {
      case m: M => m
      case m => throw new IllegalArgumentException(
        s"$path is a ${m.kind} index, not $what")
    }

  /** Whether an index exists at `path`, after healing a half-done swap
    * (so an index that sits aside is found, never rebuilt over). */
  def exists(spark: SparkSession, path: String): Boolean = {
    val fs = fsOf(spark, path)
    heal(fs, new Path(path))
    fs.exists(new Path(path, MetaName))
  }

  def write(spark: SparkSession, path: String, meta: Meta): Unit =
    writeText(fsOf(spark, path), new Path(path, MetaName),
      graft.view.Json.write(scala.collection.immutable.ListMap(
        meta.fields: _*)), overwrite = true)

  /** Problems with the meta of the index directory `dir` (empty when it
    * parses and holds its family's invariants): what fsck reports. */
  def problems(fs: FileSystem, dir: Path): Seq[String] =
    try parse(readText(fs, new Path(dir, MetaName))).left.getOrElse(Nil)
    catch {
      case scala.util.control.NonFatal(e) =>
        Seq(s"index metadata unreadable: ${e.getMessage}")
    }

  /** A centroid index's journaled append: fold in the deltas of earlier
    * unconfirmed appends, journal this batch's per-cell delta, run
    * `append` (the row write), then persist the folded tallies and clear
    * the journals. Returns the meta as written. */
  def appendTallied(spark: SparkSession, path: String, meta: CentroidMeta,
      batch: Map[Int, Long])(append: => Unit): CentroidMeta = {
    val fs = fsOf(spark, path)
    val journals = Option(fs.globStatus(new Path(path, s"$JournalPrefix*.json")))
      .getOrElse(Array.empty[FileStatus]).toSeq.map(_.getPath)
    val pending = journals.flatMap(f => yamlMap(readText(fs, f)))
      .groupMapReduce(_._1.toInt)(_._2.toString.toLong)(_ + _)
    val mine = new Path(path, s"$JournalPrefix${java.util.UUID.randomUUID}.json")
    writeText(fs, mine, graft.view.Json.write(
      batch.map { case (c, n) => c.toString -> n }), overwrite = false)
    append
    val next = meta.withAppended(meta.appendedCounts.zipWithIndex.map {
      case (n, c) => n + batch.getOrElse(c, 0L) + pending.getOrElse(c, 0L) })
    write(spark, path, next)
    (journals :+ mine).foreach(fs.delete(_, false))
    next
  }

  /** The existing `name=value` partition directories of the index at
    * `path`: a probe's driver-side path selection. */
  def partitions(spark: SparkSession, path: String, name: String,
      values: Seq[Any]): Seq[String] = {
    val fs = fsOf(spark, path)
    values.map(v => new Path(path, s"$name=$v")).filter(fs.exists(_))
      .map(_.toString)
  }

  // ------------------------------------------------------------ swap

  private def sibling(live: Path, suffix: String): Path =
    new Path(live.getParent, live.getName + suffix)

  /** Roll back a swap that crashed between its two renames: `live`
    * missing, the complete index aside. */
  def heal(fs: FileSystem, live: Path): Unit = {
    val aside = sibling(live, AsideSuffix)
    if (!fs.exists(live) && fs.exists(aside) && !fs.rename(aside, live))
      throw new IOException(s"Failed to restore $aside to $live")
  }

  /** The scratch directory a replacement of `live` is built or copied
    * into, emptied of any earlier crashed attempt. */
  def scratch(fs: FileSystem, live: Path): Path = {
    val s = sibling(live, ScratchSuffix)
    fs.delete(s, true)
    s
  }

  /** Install the complete replacement in `live`'s [[scratch]]: live →
    * aside, scratch → live, delete the aside. A reader sees the old
    * index or the new one, never a torn mix. */
  def install(fs: FileSystem, live: Path): Unit = {
    heal(fs, live)
    val aside = sibling(live, AsideSuffix)
    // leftover of a crash after a completed swap: live is healthy, the
    // aside is garbage
    if (fs.exists(aside)) fs.delete(aside, true)
    val moved = fs.exists(live)
    if (moved && !fs.rename(live, aside))
      throw new IOException(s"Failed to move $live aside")
    if (!fs.rename(sibling(live, ScratchSuffix), live)) {
      // restore rather than leave the index headless
      if (moved) fs.rename(aside, live)
      throw new IOException(s"Failed to install the rebuilt index at $live")
    }
    fs.delete(aside, true)
  }

  /** Replace the index at `path`: `build` writes a complete index into
    * the scratch path it is given, which is then [[install]]ed. */
  def rebuild(spark: SparkSession, path: String)(build: String => Unit): Unit = {
    val (fs, live) = (fsOf(spark, path), new Path(path))
    build(scratch(fs, live).toString)
    install(fs, live)
  }

  // ------------------------------------------------------ discovery

  /** Whether a directory listing is an index directory's. */
  def isIndex(listing: Seq[FileStatus]): Boolean =
    listing.exists(s => s.isFile && s.getPath.getName == MetaName)

  /** Whether `file` is an index meta: copied last by a backup. */
  def isMetaFile(file: Path): Boolean = file.getName == MetaName

  /** The live directory `dir` is a swap sibling of (its scratch or its
    * aside), if it is one. The name alone is not proof, since a table
    * may end in a sibling suffix: one of the three directories must
    * hold an index meta. */
  def swapLive(fs: FileSystem, dir: Path): Option[Path] =
    Seq(ScratchSuffix, AsideSuffix).find(dir.getName.endsWith).map(sfx =>
        new Path(dir.getParent, dir.getName.stripSuffix(sfx)))
      .filter(live => Seq(live, sibling(live, ScratchSuffix),
        sibling(live, AsideSuffix)).exists(d => fs.exists(new Path(d, MetaName))))

  /** Whether `dir` is an aside (the live index moved away mid-swap). */
  def isAside(dir: Path): Boolean = dir.getName.endsWith(AsideSuffix)
}
