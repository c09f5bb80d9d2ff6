package graft.store

import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.{col, expr, hash, lit, pmod}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{StringType, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.ops.IndexDir
import graft.schema.{ColType, ColumnDef, Registry, TableDef}
import graft.view.Json
import Warehouse.{Manifest, Zone}

/** Parquet-snapshot storage: one dataset per table under a warehouse
  * root, with atomic snapshot swap on write.
  *
  * Replaces the reference's RDBMS backends (tanker/context.py:158-236).
  * Layout per managed table:
  *
  * {{{
  *   <root>/_ROOT                       root catalog: table -> manifest
  *   <root>/<table>/snap-<n>/           parquet (immutable once current)
  *   <root>/<table>/snap-<n>/__b=<k>/   key-hash bucket dirs (bucketed)
  *   <root>/<table>/snap-<n>/__z=<k>/   range-cluster zone dirs (brin)
  * }}}
  *
  * `_ROOT` is the only pointer file. It maps each table to a JSON
  * manifest: `{"snap": ..., "maxId": ..., "buckets": {"3": "snap-7/__b=3",
  * ...}}`, plus `zones` for brin tables. A bucketed table's manifest
  * points each bucket at the snapshot that last rewrote it, so a merge
  * touching 2 of 1024 buckets writes 2 directories and reuses the
  * other 1022 by reference. That is the 100-TB merge path: write cost
  * scales with the batch's key footprint, not the table size.
  *
  * Writers build the next `snap-<n+1>` in full, then install its
  * manifest into `_ROOT` — a single-file replace, so readers see either
  * the old or the new state, never a mix (object-store friendly: no
  * directory rename). Matches the reference's per-write transaction
  * boundary, and [[transaction]] gives the cross-write
  * commit/rollback analogue (tanker/context.py:238-248): buffered
  * manifests applied as ONE root replace behind a roll-forward journal
  * — atomic multi-table visibility.
  *
  * Tables declared `external` read a driver-provided parquet path
  * directly and are never written.
  *
  * Reads resolve each file relation once per snapshot: a committed
  * snapshot directory is immutable, so the relation (file listing and
  * schema) a read set resolved to is memoized by path and reused with
  * fresh attribute ids; an external path is memoized against its file
  * listing and re-resolved when that changes. Pointers buffered in a
  * transaction are never memoized, and gc drops the entries of the
  * snapshots it deletes (see `relations`).
  */
final class Warehouse(val spark: SparkSession, val root: String, val registry: Registry) {

  type Manifest = Warehouse.Manifest

  private val hadoopConf = spark.sparkContext.hadoopConfiguration

  private def fs(p: Path): FileSystem = p.getFileSystem(hadoopConf)
  private def tableDir(t: String) = new Path(root, t)

  /** Root catalog: ONE file mapping table -> manifest, replaced
    * atomically on every commit — so a multi-table transaction becomes
    * visible in a single replace and a concurrent reader can never
    * observe a partial commit. It is the only pointer store: every
    * reader resolves a table through it ([[currentManifest]]). Root
    * read-modify-write is serialized by a JVM-wide per-root lock —
    * correct for any single-driver deployment (all Warehouse writes
    * are driver-coordinated). A SECOND driver process attempting to
    * write the same root is refused loudly by the `_LEASE` writer
    * lease ([[ensureLease]]) instead of losing updates; read-only
    * processes are unaffected. */
  private def rootFile = new Path(root, "_ROOT")
  private def rootLock: Object = Warehouse.lockFor(root)

  /** Parsed root catalog memo, keyed by the `_ROOT` file's
    * (modification time, length) and SHARED per root across every
    * Warehouse instance in this JVM ([[Warehouse.memoFor]]) — a
    * per-instance memo would treat a sibling instance's commit as a
    * foreign swap and could cache stale state. Every table read
    * resolves through [[readRoot]], so at thousands of tables × reads
    * per plan the open + read + YAML parse is pure driver overhead;
    * the memo turns the steady-state cost into ONE getFileStatus
    * call. Same-process commits refresh it under the root lock
    * (marked `exact` — never stale while this process holds the
    * writer lease); a swap by a different process is caught by the
    * status check, and the same-mtime-tick/same-length blind spot is
    * closed by re-reading any non-exact memo held locally for less
    * than [[Warehouse.RootFreshnessMs]] (a colliding foreign swap can
    * only land within one mtime tick of the swap we read; an idle
    * catalog stays memoized). */
  private def rootMemo = Warehouse.memoFor(root)

  /** table -> manifest from the root catalog, each manifest parsed
    * once per catalog read; empty only when no `_ROOT` exists yet. A
    * catalog that does not parse raises, naming the file: read as
    * empty, it would make every table look unwritten. */
  private def readRoot(): Map[String, Manifest] = {
    val f = rootFile
    val fsys = fs(f)
    val status =
      try Some(fsys.getFileStatus(f))
      catch { case _: java.io.FileNotFoundException => None }
    status match {
      case None => Map()
      case Some(st) =>
        rootMemo.get() match {
          // freshness keys on the LOCAL time this entry was installed
          // (seen), never the storage-assigned mtime: a foreign swap
          // sharing the memoized mtime tick can only land within one
          // tick granularity of the swap we read, so re-reading until
          // the entry has been held locally for RootFreshnessMs covers
          // it regardless of storage/driver clock skew
          case Some((mt, len, m, exact, seen))
              if mt == st.getModificationTime && len == st.getLen &&
                (exact || System.currentTimeMillis - seen >
                  Warehouse.RootFreshnessMs) => m
          case _ =>
            val parsed = Warehouse.parseCatalog(fsys, f)
            // a re-read that finds the SAME (mtime, length) keeps the
            // original install time, so the entry ages into
            // servability even under sustained sub-freshness-interval
            // reads (resetting `seen` would re-parse forever)
            val seen0 = rootMemo.get() match {
              case Some((mt0, len0, _, _, s0))
                  if mt0 == st.getModificationTime &&
                    len0 == st.getLen => s0
              case _ => System.currentTimeMillis
            }
            rootMemo.set(Some((st.getModificationTime, st.getLen, parsed,
              false, seen0)))
            parsed
        }
    }
  }

  /** Install `entries` into the root catalog as ONE atomic replace —
    * the commit point, and the only pointer file a commit writes. */
  private def commitPointers(entries: collection.Seq[(String, Manifest)]): Unit =
    rootLock.synchronized {
      val f = rootFile
      val fsys = fs(f)
      ensureLease(fsys)
      val merged = readRoot() ++ entries
      replaceFile(fsys, f, Warehouse.catalogBytes(merged))
      // refresh the memo under the lock: same-process readers see the
      // new catalog without re-parsing (and never a stale one)
      try {
        val st = fsys.getFileStatus(f)
        rootMemo.set(Some((st.getModificationTime, st.getLen, merged, true,
          System.currentTimeMillis)))
      } catch { case scala.util.control.NonFatal(_) => rootMemo.set(None) }
    }

  /** Writer lease: `_LEASE` under the root names the ONE process
    * allowed to commit (hostname:pid, heartbeat = the file's mtime).
    * Checked and refreshed at every commit — NOT at construction, so
    * read-only Envs from other processes (`tk read` against a running
    * server) stay legal. A second process attempting a write refuses
    * loudly while the holder's heartbeat is fresh, and may steal a
    * lease older than [[Warehouse.LeaseTtlMs]] (a crashed or exited
    * holder); a merely-idle holder whose lease was stolen refuses at
    * its own next commit instead of silently losing updates. This
    * turns the formerly documented multi-driver `_ROOT`
    * read-modify-write hazard into a loud error. Heartbeat writes are
    * skipped while the lease is younger than TTL/2, so a busy writer
    * adds roughly one tiny write per TTL/2, not per commit. */
  private def ensureLease(fsys: FileSystem): Unit = {
    val f = new Path(root, "_LEASE")
    val me = Warehouse.processId
    def readHolder(): Option[(String, Long)] =
      try {
        val st = fsys.getFileStatus(f)
        val h = Warehouse.readText(fsys, f).trim
        Some((h, System.currentTimeMillis - st.getModificationTime))
      } catch { case _: java.io.FileNotFoundException => None }
    def refuse(h: String, age: Long): Nothing = throw new IllegalStateException(
      s"warehouse $root is write-leased by process '$h' " +
        s"(heartbeat $age ms ago): a second writer would lose updates. " +
        "Stop the holder, or wait for its lease to expire " +
        s"(ttl ${Warehouse.LeaseTtlMs} ms).")
    // take/steal uses create(overwrite = false) — atomic on local/HDFS
    // semantics — so two processes racing for an absent lease cannot
    // both believe they won: the loser's create throws, it re-reads,
    // and refuses unless the winner was itself
    def take(): Unit = {
      val out =
        try fsys.create(f, false)
        catch {
          case _: java.io.IOException =>
            readHolder() match {
              case Some((h, age)) if h != me => refuse(h, age)
              case _ => fsys.create(f, true) // ours (or vanished): refresh
            }
        }
      try out.write(me.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }
    readHolder() match {
      case Some((h, age)) if h != me && age <= Warehouse.LeaseTtlMs =>
        refuse(h, age)
      case Some((h, age)) if h == me && age <= Warehouse.LeaseTtlMs / 2 =>
        () // ours and fresh — skip the heartbeat write
      case Some((h, _)) if h != me => // stale foreign: steal
        // steal by RENAMING the stale file out of the way: rename is
        // atomic, so of two stealers exactly one succeeds — a plain
        // delete-then-create pair lets B delete A's freshly created
        // lease in the window between A's delete and A's create
        val tomb = new Path(f.getParent,
          s"_LEASE.stale-${System.nanoTime()}-${Thread.currentThread.getId}")
        if (fsys.rename(f, tomb)) { fsys.delete(tomb, false); take() }
        else readHolder() match { // lost the steal race
          case Some((h2, age2)) if h2 != me => refuse(h2, age2)
          case Some(_) => () // we already hold it
          case None => take() // winner vanished between rename and create
        }
      case Some(_) => // ours but aging: heartbeat (we own it — plain write)
        val out = fsys.create(f, true)
        try out.write(me.getBytes(StandardCharsets.UTF_8)) finally out.close()
      case None => take()
    }
  }

  /** A table's live manifest: the one buffered in this thread's
    * [[transaction]] (read-your-writes), else the root catalog's. A
    * table the catalog lacks is unwritten — unless it still has a
    * pre-catalog pointer, which [[createTables]] must migrate first. */
  def currentManifest(t: String): Option[Manifest] = {
    val txn = txnLocal.get()
    if ((txn ne null) && txn.contains(t)) return Some(txn(t))
    val m = readRoot().get(t)
    if (m.isEmpty) Warehouse.refuseLegacy(fs(tableDir(t)), tableDir(t))
    m
  }

  def exists(t: String): Boolean =
    registry(t).external.isDefined || currentManifest(t).isDefined

  /** Key-hash bucket id expression for a bucketed table. */
  private[graft] def bucketExpr(td: TableDef): Column = bucketOf(td, td.key.map(k => col("`" + k + "`")))

  private def bucketOf(td: TableDef, keys: Seq[Column]): Column =
    pmod(hash(keys: _*), lit(td.buckets))

  // ------------------------------------------------- relation memo

  /** Resolved file relations, one per read set: the parquet paths a
    * read names plus the schema it reads them with (None = inferred,
    * for external tables). Resolving a relation lists its files and,
    * without a schema, infers one with a Spark job; a memoized
    * relation is reused through [[Bridge.frame]] with fresh attribute
    * ids, so later reads of the same set cost neither.
    *
    * The keys are exact:
    *  - a committed snapshot directory never changes (writers build
    *    the next `snap-<n+1>` and swap the pointer), so its read set
    *    is keyed by path alone;
    *  - an external path can change under us, so its entry carries the
    *    fingerprint (name, length, mtime of every file) it was resolved
    *    at; each read lists the path once, no Spark job, and a changed
    *    fingerprint replaces the entry;
    *  - a pointer buffered inside [[transaction]] is never memoized: a
    *    rolled-back `snap-<n>` name is reused by the next write.
    *
    * An entry leaves when [[gc]] deletes a snapshot it reads or when
    * its fingerprint changes; there is no size bound beyond that. */
  private final case class Resolved(fingerprint: Seq[(String, Long, Long)], rel: BaseRelation)
  private val relations = mutable.HashMap[(Seq[String], Option[StructType]), Resolved]()

  /** Read sets the memo holds (for tests). */
  private[graft] def memoizedReadSets: Seq[Seq[String]] =
    relations.synchronized(relations.keys.map(_._1).toSeq)

  /** Every file under `paths` (globs expanded, as the parquet reader
    * does) with its length and mtime: one recursive listing. */
  private def fingerprint(paths: Seq[String]): Seq[(String, Long, Long)] =
    paths.flatMap { p =>
      val path = new Path(p)
      val fsys = fs(path)
      val out = mutable.Buffer[(String, Long, Long)]()
      Option(fsys.globStatus(path)).toSeq.flatten.foreach { root =>
        val it = fsys.listFiles(root.getPath, true)
        while (it.hasNext) {
          val st = it.next()
          out += ((st.getPath.toString, st.getLen, st.getModificationTime))
        }
      }
      out.sorted
    }

  /** A frame over `paths` read with `schema` (None = infer), through
    * the memo unless `memo` is false. The fingerprint is taken before
    * the relation is resolved, so a change racing the resolve makes
    * the next read re-resolve, never reuse a stale listing. */
  private def scan(paths: Seq[String], schema: Option[StructType], memo: Boolean): DataFrame = {
    def resolve(): DataFrame = schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
    if (!memo) return resolve()
    val key = (paths, schema)
    val fp = if (schema.isEmpty) fingerprint(paths) else Nil
    relations.synchronized(relations.get(key)) match {
      case Some(r) if r.fingerprint == fp => Bridge.frame(spark, r.rel)
      case _ =>
        val df = resolve()
        Bridge.fileRelation(df).foreach(rel =>
          relations.synchronized(relations(key) = Resolved(fp, rel)))
        df
    }
  }

  /** A frame over snapshot directories of `t` (relative to its table
    * dir), memoized unless `t`'s pointer is buffered in this thread's
    * transaction. */
  private def scanSnapshot(t: String, dirs: Seq[String]): DataFrame = {
    val txn = txnLocal.get()
    scan(dirs.map(d => qualified(new Path(tableDir(t), d))),
      Some(registry(t).sparkSchema), memo = (txn eq null) || !txn.contains(t))
  }

  private def qualified(p: Path): String = fs(p).makeQualified(p).toString

  /** Drop memo entries that read anything under a deleted directory. */
  private def forgetUnder(dir: Path): Unit = {
    val prefix = qualified(dir)
    relations.synchronized(relations.filterInPlace { case ((paths, _), _) =>
      !paths.exists(p => p == prefix || p.startsWith(prefix + "/"))
    })
  }

  // ------------------------------------------------- layouts
  //
  // A managed table is stored in one of three layouts, and only this
  // class knows which:
  //  - plain: one snapshot directory;
  //  - bucketed (`buckets: n`): `__b=<k>` key-hash bucket directories;
  //  - zoned (`use-index: brin`): `__z=<k>` range-cluster zone
  //    directories, with per-zone key stats in the manifest.
  // The directories holding live rows are the table's leaves. A read
  // opens the leaves its key bounds can match ([[read]]); a write
  // replaces the leaves its batch keys can touch ([[slice]],
  // [[replace]]) and carries the others over by reference.

  private def bucketed(td: TableDef): Boolean = td.buckets > 0
  private def zoned(td: TableDef): Boolean =
    !bucketed(td) && td.useIndex.equalsIgnoreCase("brin")

  /** Leaf directories (relative to the table dir) holding `m`'s rows. */
  private def leaves(td: TableDef, m: Manifest): Seq[String] =
    if (bucketed(td)) m.buckets.values.toSeq.sorted
    else if (m.zones.nonEmpty) m.zones.map(_.dir)
    else Seq(m.snap)

  /** A frame over leaf directories of `t` (schema-correct empty frame
    * when there are none). */
  private def scanLeaves(t: String, dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) empty(registry(t)) else scanSnapshot(t, dirs)

  /** Read the live state of a table (schema-correct empty frame if the
    * table has never been written), opening only the leaves `bounds`
    * can match: the buckets its point sets hash into, or the zones
    * overlapping every bound. `bounds` ([[graft.view.ZonePrune]]'s
    * per-column key bounds) is evaluated only for a bucketed or zoned
    * table. The caller's filter still applies in full: pruning only
    * elides IO. */
  def read(t: String, bounds: => Map[String, Brin.Bounds] = Map.empty): DataFrame = {
    val td = registry(t)
    td.external match {
      case Some(path) =>
        alignExternal(td, scan(Seq(qualified(new Path(path))), None, memo = true))
      case None => currentManifest(t) match {
        case None => empty(td)
        case Some(m) if !bucketed(td) && m.zones.isEmpty => scanLeaves(t, leaves(td, m))
        case Some(m) =>
          val b = bounds
          scanLeaves(t,
            if (b.exists(_._2.isEmpty)) Nil // provably empty
            else if (bucketed(td)) pointBuckets(td, b).fold(leaves(td, m))(ids =>
              m.buckets.view.filterKeys(ids).values.toSeq.sorted)
            else m.zones.filter(z => zoneOverlaps(z, td.key.head, b)).map(_.dir))
      }
    }
  }

  /** Bucket ids of the key tuples `b` pins EVERY key column of a
    * bucketed table to, when there are at most 64 of them; None = read
    * every bucket. A point read on a 1024-bucket table opens one
    * bucket directory. A point that its column's literal type cannot
    * hash widens the read instead of failing it. */
  private def pointBuckets(td: TableDef, b: Map[String, Brin.Bounds]): Option[Set[Int]] = {
    val pts = td.key.map(k => b.get(k).flatMap(_.points))
    if (pts.exists(_.isEmpty) || pts.map(_.get.size.toLong).product > 64L) None
    else try Some(bucketIds(td.name, pts.map(_.get)))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Bucket ids of every combination of the given per-key-column
    * point sets (ordered like `td.key`), evaluated on the driver over
    * typed literals through the SAME bucket expression the writer
    * clusters with ([[bucketExpr]]: Murmur3 `hash` modulo the bucket
    * count), so the ids can never drift from the executor hash and no
    * Spark job runs. */
  private[graft] def bucketIds(t: String, keyPoints: Seq[Seq[Any]]): Set[Int] = {
    val td = registry(t)
    require(bucketed(td), s"Table '$t' is not bucketed")
    require(keyPoints.size == td.key.size,
      s"need one point set per key column (${td.key.size}), got ${keyPoints.size}")
    val combos = keyPoints.foldLeft(Seq(Seq.empty[Any]))((acc, ps) =>
      acc.flatMap(c => ps.map(c :+ _)))
    if (combos.isEmpty || keyPoints.exists(_.isEmpty)) Set.empty
    else {
      val types = td.key.map(k => td.columnMap(k).ctype.spark.getOrElse(StringType))
      Bridge.evalConstants(spark, combos.map(combo => bucketOf(td,
        combo.zip(types).map { case (v, dt) => Bridge.column(Literal.create(v, dt)) })))
        .map(_.asInstanceOf[Int]).toSet
    }
  }

  /** The part of `t`'s live state a write keyed on `keys` can change:
    * the buckets `keys` hash into, the zones their key range overlaps,
    * or the whole table. `keys` holds the table key columns of a
    * batch; a write that may change rows outside its keys (purge,
    * swap, a merge not keyed on the table key) passes None. A stored
    * row outside the slice cannot share a key with the batch, so a
    * merge or delete against the slice's frame is exact. A plain
    * table's slice, and any whole slice, runs no job; a pruned slice
    * runs one. */
  def slice(t: String, keys: Option[DataFrame]): Warehouse.Slice = {
    val td = registry(t)
    require(td.external.isEmpty, s"Table '$t' is external (read-only)")
    val base = currentManifest(t)
    val part = for {
      k <- keys
      m <- base if m.buckets.nonEmpty || m.zones.nonEmpty
    } yield
      if (bucketed(td)) {
        val ids = k.select(bucketExpr(td)).distinct().collect().map(_.getInt(0)).toSet
        m.buckets.view.filterKeys(ids).values.toSeq.sorted
      } else batchKeyBounds(k, td.key) match {
        case Some(b) => m.zones.filter(z => zoneOverlaps(z, td.key.head, b)).map(_.dir)
        case None => Nil // an empty batch touches no zone
      }
    val dirs = part.getOrElse(base.map(leaves(td, _)).getOrElse(Nil))
    new Warehouse.Slice(t, base, dirs, whole = part.isEmpty, scanLeaves(t, dirs),
      Warehouse.footerRows(hadoopConf, dirs.map(new Path(tableDir(t), _))))
  }

  /** Encoded [min, max] of every key column of `keys`, or None for an
    * empty batch. A stored key can only collide with a batch key when
    * EVERY key column falls inside the batch's range for that column,
    * so each bound prunes independently. */
  private def batchKeyBounds(keys: DataFrame, key: Seq[String])
      : Option[Map[String, Brin.Bounds]] = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    val aggs = key.flatMap(k => Seq(fmin(col("`" + k + "`")), fmax(col("`" + k + "`"))))
    val r = keys.agg(aggs.head, aggs.tail: _*).head()
    if (r.isNullAt(0)) None
    else Some(key.zipWithIndex.map { case (k, i) =>
      k -> Brin.Bounds(Some(Brin.encode(r.get(2 * i))), Some(Brin.encode(r.get(2 * i + 1))))
    }.toMap)
  }

  /** Surrogate-id high-water mark, tracked by the manifest (no scan). */
  def maxId(t: String): Long = currentManifest(t).map(_.maxId).getOrElse(0L)

  /** External files keep their own schema, with one repair: columns a
    * registry declares as timestamps but the file stores as INT64
    * nanos (read via nanosAsLong) are converted — `div 1000` keeps
    * exact micros, no double rounding. */
  private def alignExternal(td: TableDef, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val needsFix = df.schema.fields.exists(f => f.dataType == LongType &&
      td.columnMap.get(f.name).exists(c =>
        c.ctype.spark.exists(t => t == TimestampNTZType || t == TimestampType)))
    if (!needsFix) df
    else df.select(df.schema.fields.map { f =>
      val declared = td.columnMap.get(f.name).flatMap(_.ctype.spark)
      (f.dataType, declared) match {
        case (LongType, Some(t @ (TimestampNTZType | TimestampType))) =>
          expr(s"timestamp_micros(`${f.name}` div 1000)").cast(t).as(f.name)
        case _ => col(s"`${f.name}`")
      }
    }.toSeq: _*)
  }

  def empty(td: TableDef): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], td.sparkSchema)

  private def nextSnapName(t: String): String =
    "snap-" + (currentManifest(t) match {
      case Some(m) => m.snap.stripPrefix("snap-").toLong + 1
      case None => 0L
    })

  private def aligned(td: TableDef, df: DataFrame): DataFrame =
    df.select(td.sparkSchema.fields.map(f =>
      col("`" + f.name + "`").cast(f.dataType)).toSeq: _*)

  /** DataFrameWriter for a table's snapshot files, carrying the
    * table's STORAGE properties: `compression:` picks the parquet
    * codec (zstd buys ~25-35% over snappy on text corpora — at 100 TB
    * that is disk AND network), `bloom: true` writes parquet bloom
    * filters on the key columns so point reads skip row groups INSIDE
    * the files that bucket/zone dir pruning already selected. Both
    * ride the standard parquet write options — no custom writer. */
  private def snapWriter(td: TableDef, df: DataFrame)
      : org.apache.spark.sql.DataFrameWriter[Row] = {
    var w = df.write.mode("overwrite")
    td.compression.foreach(c => w = w.option("compression", c))
    if (td.bloom) td.key.foreach(k =>
      w = w.option(s"parquet.bloom.filter.enabled#$k", "true"))
    w
  }

  /** Atomically commit `df` as the new content of slice `s` of its
    * table ([[slice]]); leaves outside the slice carry over by
    * reference. Returns the rows written, from the new files' parquet
    * footers, so a delete's count is the slice's [[Warehouse.Slice.rows]]
    * minus this.
    *
    * The id high-water mark is `knownMaxId` when the caller knows it
    * (the merge path: old mark + inserts), else the written files'
    * max(id) from their footers. A partial slice never lowers it (rows
    * outside the slice keep their ids); a whole slice sets it, so
    * delete-all restarts ids at 1 on every layout. */
  def replace(s: Warehouse.Slice, df: DataFrame, knownMaxId: Option[Long] = None): Long =
    commit(s, df, knownMaxId)

  /** [[replace]], plus the zoned layout's compaction controls:
    * `cluster` overrides the leading-key order (the z-order path);
    * `setZOrder` = Some(cols) records cols as the table's z-order
    * property (empty = clear), None inherits the previous manifest's —
    * the property survives every write and steers [[compact]]. */
  private def commit(s: Warehouse.Slice, df: DataFrame, knownMaxId: Option[Long],
      cluster: Option[Column] = None, setZOrder: Option[Seq[String]] = None): Long = {
    val t = s.table
    val td = registry(t)
    val next = nextSnapName(t)
    val dir = new Path(tableDir(t), next)
    val out = aligned(td, df)
    // the base manifest's leaves the slice does not cover carry over
    val carried = s.base.filterNot(_ => s.whole)
    val (m, newLeaves) =
      if (bucketed(td)) {
        snapWriter(td, out.withColumn("__b", bucketExpr(td)))
          .partitionBy("__b").parquet(dir.toString)
        val fsys = fs(dir)
        val ws = if (!fsys.exists(dir)) Nil
          else fsys.listStatus(dir).map(_.getPath.getName)
            .filter(_.startsWith("__b=")).sorted.map(n => s"$next/$n").toSeq
        val kept = carried.map(_.buckets.filterNot(b => s.leaves.contains(b._2)))
          .getOrElse(Map())
        (Manifest(next, 0L, kept ++ ws.map(d => d.split("=").last.toInt -> d)), ws)
      } else if (zoned(td)) {
        val zs = writeZoned(td, out, dir,
          if (s.whole) fullZones(df) else math.max(1, s.leaves.size), cluster)
        val kept = carried.map(_.zones.filterNot(z => s.leaves.contains(z.dir)))
          .getOrElse(Nil)
        (Manifest(next, 0L, Map(), kept ++ zs,
          setZOrder.getOrElse(s.base.map(_.zorder).getOrElse(Nil))), zs.map(_.dir))
      } else {
        snapWriter(td, out).parquet(dir.toString)
        (Manifest(next, 0L, Map()), Seq(next))
      }
    val dirs = newLeaves.map(new Path(tableDir(t), _))
    val (rows, writtenMax) = rowsAndMaxId(td, dirs)
    val mark = knownMaxId.getOrElse(writtenMax)
    install(t, m.copy(maxId =
      if (s.whole) mark else mark.max(s.base.map(_.maxId).getOrElse(0L))))
    // auto-compaction: every narrow zoned merge adds ~1 zone (and pins
    // its snap dir against gc), so once the zone list exceeds
    // [[Warehouse.CompactFactor]] x the configured zone count, the
    // live state is reclustered into one fresh snapshot (a whole
    // rewrite, so it never triggers itself)
    if (zoned(td) && !s.whole && m.zones.size > Warehouse.CompactFactor * confZones.getOrElse(32))
      compact(t)
    rows
  }

  /** The configured zone count of a whole zoned write, if any. */
  private def confZones: Option[Int] =
    spark.conf.getOption("spark.graft.brin.zones").map(_.toInt)

  /** Zone count of a whole zoned write: `spark.graft.brin.zones` when
    * set, else sized by data volume — ~[[Warehouse.ZoneTargetBytes]]
    * per zone, since a zone is the unit of scan parallelism, of merge
    * rewrite and of footer stats. A 2 MB table is one zone; a 100-TB
    * table gets proportionally many. Optimizer size estimates can
    * overshoot after joins, so the estimate is capped at 1024 zones. */
  private def fullZones(df: DataFrame): Int =
    confZones.getOrElse {
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      (est / Warehouse.ZoneTargetBytes).max(BigInt(1)).min(BigInt(1024)).toInt
    }

  /** Write a zoned (`use-index: brin`) snapshot: the Spark-native BRIN
    * ([[Brin]]). Rows are range-clustered on the leading key column
    * (`repartitionByRange` + in-partition sort, or on `cluster` then
    * the leading key) into `nZones` ranges, each landing in one
    * `__z=<k>` directory, so parquet row-group stats are tight AND the
    * manifest's per-zone min/max lets [[read]] prune whole directories
    * driver-side — BRIN is a read-side structure, exactly like the
    * reference's (tanker/context.py:657-676). A partial rewrite
    * reclusters its slice into as many zones as it replaces (min 1),
    * so a narrow merge does not splinter; a pure append adds one zone.
    * Returns the written zones with their stats. */
  private def writeZoned(td: TableDef, out: DataFrame, dir: Path, nZones: Int,
      cluster: Option[Column]): Seq[Zone] = {
    val zc = col("`" + td.key.head + "`")
    // z-order cluster key first, leading key second: within one
    // z-value run the leading-key stats stay as tight as possible
    val ck: Seq[Column] = cluster.map(c => Seq(c, zc)).getOrElse(Seq(zc))
    snapWriter(td, out.repartitionByRange(nZones, ck: _*).sortWithinPartitions(ck: _*)
      .withColumn("__z", expr("spark_partition_id()")))
      .partitionBy("__z").parquet(dir.toString)
    // zone stats from the WRITTEN files' footers: exact, no Spark job
    // and no data read. Stat types whose footer statistics are not
    // trustworthy (float/double keys, INT96 timestamps, oversized
    // strings) fall back to a column-pruned scan of the new files.
    val fsys = fs(dir)
    val next = dir.getName
    val zoneDirs =
      if (!fsys.exists(dir)) Seq.empty[Path]
      else fsys.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("__z=")).toSeq
    if (zoneDirs.isEmpty) return Nil
    val statCols = zoneStatCols(td)
    val per = zoneDirs.map(zd => Warehouse.footerStats(hadoopConf,
      Warehouse.partFiles(fsys, zd), statCols)._2.map(zd.getName -> _))
    if (!per.contains(None))
      per.flatten.map { case (zn, m) =>
        val (lo, hi) = m(statCols.head)
        Zone(s"$next/$zn", lo, hi, statCols.tail.map(c => c -> m(c)).toMap)
      }.sortBy(_.dir)
    else {
      import org.apache.spark.sql.functions.{max => fmax, min => fmin}
      val aggs = statCols.flatMap(c => Seq(
        fmin(col("`" + c + "`")).as(s"__lo_$c"),
        fmax(col("`" + c + "`")).as(s"__hi_$c")))
      val rows = spark.read.parquet(dir.toString)
        .groupBy(col("__z")).agg(aggs.head, aggs.tail: _*).collect()
      def enc(r: Row, i: Int): Option[Any] = Option(r.get(i)).map(Brin.encode)
      rows.map { r =>
        val extra = statCols.tail.zipWithIndex.map { case (c, j) =>
          c -> (enc(r, 3 + 2 * j), enc(r, 4 + 2 * j))
        }.toMap
        Zone(s"$next/__z=${r.get(0)}", enc(r, 1), enc(r, 2), extra)
      }.toSeq.sortBy(_.dir)
    }
  }

  /** Columns a brin table's zone map tracks: the FULL key (postgres
    * BRIN indexes every key column) plus the surrogate `id` (which
    * correlates with insertion order, hence with the leading key of an
    * append-mostly table). The first entry is the clustering column. */
  private def zoneStatCols(td: TableDef): Seq[String] =
    td.key ++ (if (td.columnMap.contains("id") && !td.key.contains("id"))
      Seq("id") else Nil)

  /** Rows and max(id) of just-written leaf directories, from one pass
    * over their parquet footers; max(id) falls back to an exact
    * column-pruned scan when footer stats are unusable, and is 0 for a
    * table without `id`. */
  private def rowsAndMaxId(td: TableDef, dirs: Seq[Path]): (Long, Long) = {
    val files = dirs.flatMap(d => Warehouse.partFiles(fs(d), d))
    val idCol = if (td.columnMap.contains("id")) Seq("id") else Nil
    val (rows, stats) = Warehouse.footerStats(hadoopConf, files, idCol)
    val maxId = stats match {
      case _ if idCol.isEmpty => 0L
      case Some(st) => st("id")._2.map(_.asInstanceOf[Long]).getOrElse(0L)
      case None =>
        Option(spark.read.schema(td.sparkSchema).parquet(dirs.map(_.toString): _*)
          .agg(org.apache.spark.sql.functions.max(col("id"))).head().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
    }
    (rows, maxId)
  }

  /** Multi-column zone overlap: a zone survives pruning iff EVERY
    * bounded column's zone range overlaps its bound. Columns the zone
    * has no stats for (older manifests, non-tracked columns) are
    * unprunable — conservative. */
  private def zoneOverlaps(z: Zone, zkey: String,
      bounds: Map[String, Brin.Bounds]): Boolean =
    bounds.forall { case (c, b) =>
      if (c == zkey) b.overlaps(z.lo, z.hi)
      else z.extra.get(c) match {
        case Some((lo, hi)) => b.overlaps(lo, hi)
        case None => true
      }
    }

  // ------------------------------------------------- cross-write txn

  /** Thread-local buffer of pending commits: table -> manifest.
    * Non-null only inside [[transaction]]. */
  private val txnLocal = new ThreadLocal[mutable.LinkedHashMap[String, Manifest]]()

  /** Is the CURRENT thread inside [[transaction]]? Sinks that commit
    * on other threads (streaming foreachBatch) guard on this: a write
    * buffered into a transaction that thread never closes would swap
    * no pointers and silently commit nothing. */
  def inTransaction: Boolean = txnLocal.get() != null

  /** Cross-write transaction: every write/delete inside `body` builds
    * its snapshot normally but BUFFERS its pointer swap; on success
    * all pointers apply together as ONE root-catalog swap behind a
    * crash-safe journal, on exception none apply (built snapshot dirs
    * are orphaned and reclaimed by later gc). This is the Spark-native
    * analogue of the reference's connection commit/rollback
    * (tanker/context.py:238-248): DURABILITY is all-or-nothing (a
    * crash between journal write and the root swap rolls FORWARD on
    * the next [[recoverTransactions]]) and VISIBILITY is atomic —
    * the `_ROOT` catalog swap is a single file replace, so a
    * concurrent reader sees either every table pre-txn or every table
    * post-txn, never a mix. In-txn reads see the buffered state
    * (read-your-writes), other threads see the pre-txn state until
    * commit. Nested transactions raise. */
  def transaction[A](body: => A): A = {
    require(txnLocal.get() == null, "Nested transactions are not supported")
    val buf = mutable.LinkedHashMap[String, Manifest]()
    txnLocal.set(buf)
    val res =
      try body
      catch { case e: Throwable => txnLocal.remove(); throw e }
    txnLocal.remove() // before applying: the swaps below must be real
    if (buf.nonEmpty) {
      val j = new Path(root, s"_TXN-${System.nanoTime()}")
      val fsys = fs(j)
      val out = fsys.create(j, true)
      try out.write(Warehouse.catalogBytes(buf)) finally out.close()
      commitPointers(buf.toSeq) // ONE atomic root swap for all tables
      fsys.delete(j, false)
      buf.keys.foreach(gcCurrent)
    }
    res
  }

  /** Roll forward transactions that journaled but crashed before the
    * root replace applied. Idempotent (re-applying a
    * commit writes the same content); called from [[createTables]] so
    * any session that opens the warehouse heals it, and callable
    * directly. A torn or empty journal — a crash DURING the journal
    * write itself — provably corresponds to an uncommitted
    * transaction (the journal is fully written and closed before any
    * pointer applies), so it is discarded, not an error. */
  def recoverTransactions(): Unit = {
    val rootPath = new Path(root)
    val fsys = fs(rootPath)
    if (!fsys.exists(rootPath)) return
    fsys.listStatus(rootPath).map(_.getPath)
      .filter(_.getName.startsWith("_TXN-"))
      .sortBy(_.getName).foreach { j =>
        val parsed =
          try Some(Warehouse.parseEntries(Warehouse.readText(fsys, j)))
          catch { case scala.util.control.NonFatal(_) => None }
        parsed match {
          case None => // torn/empty journal = uncommitted txn: discard
            fsys.delete(j, false)
          case Some(entries) =>
            commitPointers(entries.toSeq)
            fsys.delete(j, false)
            entries.keys.foreach(gcCurrent)
        }
      }
  }

  /** gc a table against its CURRENT manifest's references (used after
    * a transactional commit, where per-write gc was suppressed). */
  private def gcCurrent(t: String): Unit =
    currentManifest(t).foreach(m => gc(t, m.snapDirs))

  /** Commit `m` as `t`'s manifest (buffered inside a [[transaction]]),
    * then gc the snapshots it no longer references. */
  private def install(t: String, m: Manifest): Unit = {
    val txn = txnLocal.get()
    if (txn ne null) txn(t) = m else commitPointers(Seq(t -> m))
    gc(t, m.snapDirs)
  }

  /** Drop snapshots that are neither referenced by the manifest nor
    * among the 2 most recent (in-flight reader grace). Suppressed
    * inside a transaction: the VISIBLE manifest still references the
    * old snapshots, and deleting them would break rollback; the commit
    * path gc's every touched table afterwards ([[gcCurrent]]). */
  private def gc(t: String, keep: Set[String]): Unit = {
    if (txnLocal.get() ne null) return
    val dir = tableDir(t)
    val fsys = fs(dir)
    if (fsys.exists(dir)) {
      val snaps = fsys.listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("snap-"))
        .sortBy(_.getName.stripPrefix("snap-").toLong)
      val doomed = snaps.dropRight(2).filterNot(p => keep(p.getName))
      doomed.foreach { p => forgetUnder(p); fsys.delete(p, true) }
    }
  }

  /** Compaction: rewrite the live state as ONE fresh snapshot and
    * swap. For bucketed tables this collapses the manifest's
    * many-snapshot bucket pointers (each partial merge leaves its
    * touched buckets in a new snap dir, pinning every referenced old
    * snap against gc) back to a single directory tree, with rows
    * clustered so each bucket dir gets one file per owning task —
    * the small-file compaction a long-lived 100-TB table needs after
    * many incremental merges. Readers are never blocked: the new snap
    * is built in full before the single-file pointer swap, and gc
    * reclaims the old snaps afterwards. Content and the id high-water
    * mark are unchanged. */
  def compact(t: String): Unit = {
    val td = registry(t)
    val s = slice(t, None)
    val keepMax = Some(maxId(t))
    if (bucketed(td))
      // cluster by bucket id before the partitioned write: one file
      // per bucket dir instead of (tasks × buckets) small files
      commit(s, s.frame.repartition(td.buckets, bucketExpr(td)), keepMax)
    else s.base.map(_.zorder).filter(_.size >= 2) match {
      // the table carries a z-order property ([[compactZOrder]]):
      // re-cluster on the interleaved key, not the leading key, so
      // auto-compaction keeps multi-column pruning tight
      case Some(zcols) if zoned(td) =>
        commit(s, s.frame, keepMax, cluster = zValueColumn(s.frame, zcols))
      case _ => commit(s, s.frame, keepMax)
    }
  }

  /** Z-ORDER compaction of a brin table: rewrite the live state with
    * zones clustered on the bit-interleaved bucket ranks of `cols`
    * (the Morton / Z-curve order of the lakehouse OPTIMIZE ZORDER
    * command) instead of the leading key alone — every listed
    * column's per-zone min/max tightens to ~a √-fraction of its
    * domain, so [[read]] prunes on ANY of them, not just the
    * leading key. `cols` must be zone-tracked (the full table key
    * plus `id` — stats machinery and [[graft.view.ZonePrune]] are
    * unchanged; only the physical clustering moves). The choice is
    * recorded in the manifest as a table PROPERTY: later partial
    * merges write their slices leading-key-clustered (locally fuzzy,
    * still exact — zone pruning is IO elision under per-zone stats
    * that hold regardless of order), and the next [[compact]] —
    * manual or the auto-compaction threshold — re-clusters the whole
    * table on the recorded z-order. `Nil` clears the property and
    * restores plain leading-key compaction.
    *
    * Scale shape: one footer count + one ~20k-row sampled scan decide
    * per-column bucket boundaries driver-side (same sampling idea as
    * `repartitionByRange`); the rewrite itself is the one full
    * range-exchange any compaction pays. The z-value is pure integer
    * arithmetic over an order-preserving bucket id (a ≤63-literal
    * array HOF per column), fully codegen'd. */
  def compactZOrder(t: String, cols: Seq[String]): Unit = {
    val td = registry(t)
    require(td.external.isEmpty, s"Table '$t' is external (read-only)")
    require(zoned(td),
      s"Table '$t' has use-index '${td.useIndex}'; z-order needs brin")
    require(cols.size != 1,
      "z-order needs at least two columns (Nil clears the property; " +
      "one column is plain compact())")
    require(cols.distinct.size == cols.size,
      s"duplicate z-order columns: ${cols.mkString(", ")}")
    val tracked = zoneStatCols(td)
    cols.foreach(c => require(tracked.contains(c),
      s"Column '$c' carries no zone stats (tracked: ${tracked.mkString(", ")})"))
    val s = slice(t, None)
    commit(s, s.frame, Some(maxId(t)),
      cluster = if (cols.size >= 2) zValueColumn(s.frame, cols) else None,
      setZOrder = Some(cols))
  }

  /** Bit-interleaved z-value over `cols` as a Column, or None when the
    * frame is empty. Per column: sample ~20k rows once (all columns in
    * one job), sort driver-side in zone-map order ([[Brin.cmp]] over
    * [[Brin.encode]] — matches Spark's binary string comparison), take
    * `2^ZOrderBits − 1` evenly-spaced cut points, and bucket each row
    * by counting cuts at or below its value (array HOF over the
    * literal cut list — order-preserving for any orderable type,
    * codegen'd, no per-row driver call). Nulls bucket to 0 (zone-map
    * order puts them nowhere; stats over them stay conservative).
    * Buckets then interleave bit-by-bit, column i contributing bit b
    * at position `b × nCols + i` — the Morton code. Bit budget:
    * [[Warehouse.ZOrderBits]] × nCols ≤ 62 (signed-long safe). */
  private def zValueColumn(df: DataFrame, cols: Seq[String]): Option[Column] = {
    import org.apache.spark.sql.functions.{array, filter, shiftleft, shiftright, size}
    val nBits = Warehouse.ZOrderBits
    require(nBits >= 1 && nBits * cols.size <= 62,
      s"zorderBits $nBits × ${cols.size} columns exceeds the 62-bit budget")
    val n = df.count()
    if (n == 0) return None
    val frac = math.min(1.0, 20000.0 / n)
    val proj = df.select(cols.map(c => col("`" + c + "`")): _*)
    val sampled = (if (frac >= 1.0) proj else proj.sample(frac, 42)).collect()
    if (sampled.isEmpty) return None
    val nB = 1 << nBits
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      val sorted = sampled.iterator.map(_.get(i)).filter(_ != null).toArray
        .sortWith((a, b) => Brin.cmp(Brin.encode(a), Brin.encode(b)) < 0)
      val cuts =
        if (sorted.isEmpty) Seq.empty[Any] // all-null column: constant 0
        else (1 until nB).map(k =>
          sorted(math.min(((k.toLong * sorted.length) / nB).toInt,
            sorted.length - 1))).distinct
      if (cuts.isEmpty) lit(0L)
      else size(filter(array(cuts.map(v => lit(v)): _*),
        b => col("`" + c + "`") >= b)).cast("long")
    }
    Some(buckets.zipWithIndex.map { case (bkt, i) =>
      (0 until nBits).map { b =>
        shiftleft(shiftright(bkt, b).bitwiseAND(lit(1L)), b * cols.size + i)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _))
  }

  /** Consistent whole-warehouse BACKUP: pin the root catalog with one
    * atomic read, copy every snapshot directory it references (plus
    * the `_SCHEMA.yaml` sidecar) under `destRoot`, and write the
    * destination's root catalog LAST — so the backup directory is
    * itself a fully functional warehouse root (restore = point an Env
    * at it, or copy it back; there is no separate archive format),
    * and a reader of a half-written backup sees no catalog yet rather
    * than a partial one. Because every commit — including multi-table
    * transactions — swaps the single `_ROOT` file atomically and
    * snapshot dirs are immutable once referenced, the pinned catalog
    * is a transactionally consistent cross-table cut by construction;
    * no writer quiescence is needed for CONSISTENCY. Durability of
    * the copy itself still races gc: a concurrent writer may reclaim
    * a superseded snapshot mid-copy, which surfaces as a loud
    * missing-path error (re-run the backup), never a silent hole.
    * Backups also prune by construction: only LIVE state copies —
    * superseded snapshots and scratch spills stay behind.
    *
    * The COPY itself is the distcp shape: the driver only enumerates
    * the pinned file list; the bytes move on EXECUTORS via one
    * `parallelize(files).foreachPartition` job, so wall-clock scales
    * with cluster width, not file count — a sequential driver loop
    * over a 100-TB warehouse would run for days.
    *
    * Persisted ANN/text index directories ([[graft.ops.IndexDir]]) are
    * not part of the catalog's transactional state; with
    * `includeIndexes = true` every index dir found under the warehouse
    * root is copied too (meta sidecar written LAST so a torn index copy
    * is never silently probed).
    * Returns the index directories LEFT BEHIND — callers print them
    * loudly so a later restore's full-corpus re-bootstrap is never a
    * surprise. Indexes living outside the root cannot be discovered
    * and are always the caller's to copy.
    *
    * `incremental = true` REFRESHES an existing backup in place (a
    * standby warehouse): snapshot dirs are immutable once written and
    * snap numbers never reuse (the name counter only grows), so any
    * destination file already present under the same relative path
    * with the same length IS the same bytes and is skipped — a
    * nightly refresh copies only the snapshots the day added. The
    * destination `_ROOT` is written to a tmp name and RENAMED over the
    * target ([[replaceFile]]), so a standby reader resolving the
    * catalog mid-refresh sees the old consistent cut or the new one,
    * never a truncated or missing file. Snapshots the refresh
    * strands (no longer referenced) are exactly what
    * `fsck(reclaim = true)` on the standby deletes.
    *
    * Index dirs are NOT immutable (a drift retrain rename-swaps the
    * whole directory; tally appends rewrite the meta sidecar in
    * place), so neither the same-length skip nor the divergence guard
    * applies to them: an incremental refresh always recopies each
    * index dir in full, staged into its swap scratch and installed
    * with the index swap ([[graft.ops.IndexDir.install]]) — a standby
    * prober mid-refresh sees the old index or the new one, never a
    * torn mix of the two. Like a journaled commit, an index swap a
    * crash left half done is rolled back before the copy. */
  def backup(destRoot: String, includeIndexes: Boolean = false,
      incremental: Boolean = false): Seq[String] = {
    recoverTransactions() // fold any journaled commit before pinning
    indexWalk()._2.foreach { case (_, live) => IndexDir.heal(fs(live), live) }
    val destP = new Path(destRoot)
    val dfs = fs(destP)
    require(incremental || !dfs.exists(new Path(destP, "_ROOT")),
      s"'$destRoot' already holds a warehouse root " +
        "(incremental refresh is opt-in)")
    dfs.mkdirs(destP)
    val pinned = readRoot()
    registry.names.filterNot(pinned.contains)
      .foreach(t => Warehouse.refuseLegacy(fs(tableDir(t)), tableDir(t)))
    val snapDirs: Seq[(Path, Path)] = pinned.toSeq.flatMap { case (t, m) =>
      m.snapDirs.toSeq.sorted
        .map(s => (new Path(tableDir(t), s), new Path(new Path(destP, t), s)))
    }
    val idxDirs = discoverIndexDirs()
    val idxCopied = if (includeIndexes) idxDirs else Nil
    val idxPairs: Seq[(Path, Path)] = idxCopied.map { d =>
      val rel = relativize(new Path(root), d)
      (d, new Path(destP, rel))
    }
    // enumerate every file driver-side (cheap: metadata only), then
    // one executor-parallel job moves all the bytes.
    //
    // SNAPSHOT dirs first: a pinned snapshot that cannot be listed has
    // been reclaimed by a concurrent writer's gc mid-backup — fail
    // LOUD (re-run the backup) rather than write an empty snapshot
    // dir and report success while holding a hole.
    val snapFilePairs = snapDirs.flatMap { case (src, dst) =>
      if (!fs(src).exists(src)) throw new java.io.IOException(
        s"backup copy failed: pinned snapshot '$src' vanished " +
          "mid-backup (concurrent gc from another writer?) — re-run")
      val already: Map[String, Long] =
        if (!incremental) Map.empty
        else listFilesUnder(dst)
          .map { case (f, len) => relativize(dst, f) -> len }.toMap
      val srcFiles = listFilesUnder(src, strict = true).map {
        case (f, len) => (relativize(src, f), f, len) }
      // DIVERGENCE guard (snapshot dirs ONLY — index dirs mutate): a
      // referenced snapshot dir is immutable in ONE timeline, so the
      // destination holding files the source lacks under it means src
      // and dst created the same snap name independently (e.g. both
      // kept writing after a restore). Copying alongside would UNION
      // two different snapshots into one directory — silent duplicate
      // rows. Refuse loudly; the remedy is a fresh full backup.
      if (incremental) {
        val srcRels = srcFiles.iterator.map(_._1).toSet
        val foreign = already.keysIterator.filterNot(srcRels).toSeq
        if (foreign.nonEmpty) throw new IllegalStateException(
          s"incremental backup: destination '$dst' holds files the " +
            s"source snapshot does not (${foreign.take(3).mkString(", ")}" +
            s"${if (foreign.size > 3) ", …" else ""}) — the two roots " +
            "have diverged; take a full backup into an empty destination")
      }
      srcFiles.flatMap { case (rel, f, len) =>
        if (already.get(rel).contains(len)) None
        else Some((f.toString, new Path(dst, rel).toString))
      }
    }
    // INDEX dirs: never skipped, never divergence-checked (retrains
    // and tally appends mutate them legitimately). A first copy goes in
    // place (meta LAST, split out below); a refresh over an existing
    // copy stages the full recopy in the swap scratch and installs it,
    // so the standby's old index serves until the new one lands whole.
    val idxSwaps = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
    val idxFilePairs = idxPairs.flatMap { case (src, dst) =>
      val srcFiles = listFilesUnder(src)
      if (srcFiles.isEmpty) throw new java.io.IOException(
        s"backup copy failed: index dir '$src' vanished mid-backup " +
          "(concurrent retrain swap?) — re-run")
      IndexDir.heal(dfs, dst)
      val stageTo =
        if (!incremental || !dfs.exists(dst)) dst
        else {
          val tmp = IndexDir.scratch(dfs, dst)
          idxSwaps += ((tmp, dst))
          tmp
        }
      srcFiles.map { case (f, _) =>
        (f.toString, new Path(stageTo, relativize(src, f)).toString) }
    }
    // meta-last applies only to in-place index copies; files staged
    // into a swap scratch are invisible until the install, so they
    // ride the bulk job whole
    val (metaFiles, bulkFiles) = (snapFilePairs ++ idxFilePairs)
      .partition(p => IndexDir.isMetaFile(new Path(p._1)) &&
        !idxSwaps.exists { case (tmp, _) => p._2.startsWith(s"$tmp/") })
    parallelCopy(bulkFiles)
    snapDirs.foreach { case (_, dst) => dfs.mkdirs(dst) } // zero-file snaps
    metaFiles.foreach { case (s, d) => // meta LAST: torn index ≠ probeable
      val sp = new Path(s); val dp = new Path(d)
      if (!org.apache.hadoop.fs.FileUtil.copy(fs(sp), sp, fs(dp), dp,
          false, hadoopConf))
        throw new java.io.IOException(s"backup copy failed: $s")
    }
    idxSwaps.foreach { case (_, dst) => IndexDir.install(dfs, dst) }
    val sf = new Path(root, "_SCHEMA.yaml")
    if (fs(sf).exists(sf))
      org.apache.hadoop.fs.FileUtil.copy(fs(sf), sf, dfs,
        new Path(destP, "_SCHEMA.yaml"), false, hadoopConf)
    replaceFile(dfs, new Path(destP, "_ROOT"), Warehouse.catalogBytes(pinned))
    (idxDirs diff idxCopied).map(_.toString)
  }

  /** Every regular file under `dir` with its length, recursively;
    * empty when the directory is missing (the caller decides whether
    * that's a race or a zero-file table), unless `strict` — then a
    * path vanishing DURING the walk (a pinned snapshot reclaimed by a
    * concurrent writer's gc) throws instead of silently shortening
    * the list. A manual listStatus walk,
    * NOT `listFiles(recursive)`: the located-status iterator resolves
    * block locations per FILE (~ms each on a checksummed local fs —
    * profiled at 4.5 ms/file, which made enumeration dominate the
    * whole backup), while listStatus is one round trip per DIRECTORY
    * and carries the lengths already. */
  private def listFilesUnder(dir: Path, strict: Boolean = false)
      : Seq[(Path, Long)] = {
    val fsys = fs(dir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Path, Long)]
    def walk(d: Path): Unit =
      (try fsys.listStatus(d)
       catch {
         case e: java.io.FileNotFoundException =>
           if (strict) throw new java.io.IOException(
             s"backup copy failed: '$d' vanished mid-enumeration " +
               "(concurrent gc from another writer?) — re-run", e)
           Array.empty[org.apache.hadoop.fs.FileStatus]
       })
        .foreach { st =>
          if (st.isDirectory) walk(st.getPath)
          else buf += ((st.getPath, st.getLen))
        }
    walk(dir)
    buf.toSeq
  }

  /** Replace `f` with `bytes` by ONE rename of a tmp sibling onto the
    * live file: a concurrent reader of `f` sees the previous content
    * or the new one, never a torn file and never no file. On a
    * checksummed file system (the local one) the bytes go through the
    * raw file system, whose rename is rename(2) and replaces the
    * target; the checksummed rename refuses an existing target. The
    * target's checksum sidecar is not part of the swap: it is dropped
    * before the rename, so a reader never verifies the new bytes
    * against the old sum. */
  private def replaceFile(fsys: FileSystem, f: Path, bytes: Array[Byte]): Unit = {
    val raw = fsys match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem =>
        c.getRawFileSystem.delete(c.getChecksumFile(f), false)
        c.getRawFileSystem
      case other => other
    }
    val tmp = new Path(f.getParent, f.getName + s".tmp-${System.nanoTime()}")
    val out = raw.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (!raw.rename(tmp, f))
      throw new java.io.IOException(s"Failed to replace $f")
  }

  /** `child`'s path relative to `base` (both resolved through their
    * FileSystem so scheme/authority differences don't break prefix
    * matching). */
  private def relativize(base: Path, child: Path): String = {
    val b = fs(base).makeQualified(base).toString.stripSuffix("/") + "/"
    val c = fs(child).makeQualified(child).toString
    require(c.startsWith(b), s"$child is not under $base")
    c.stripPrefix(b)
  }

  /** Move a list of (src, dst) file URIs on EXECUTORS — the distcp
    * shape. The Hadoop conf travels as a plain key/value Vector (the
    * Configuration object itself is not serializable); each partition
    * rebuilds it once. A file deleted mid-copy (concurrent gc)
    * surfaces as a loud task failure, never a silent hole. */
  private def parallelCopy(pairs: Seq[(String, String)]): Unit = {
    if (pairs.isEmpty) return
    val confKv: Vector[(String, String)] =
      hadoopConf.asScala.map(e => e.getKey -> e.getValue).toVector
    val slices = math.max(1, math.min(pairs.size,
      spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext.parallelize(pairs, slices).foreachPartition {
      (it: Iterator[(String, String)]) =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confKv.foreach { case (k, v) => conf.set(k, v) }
        it.foreach { case (s, d) =>
          val sp = new Path(s); val dp = new Path(d)
          if (!org.apache.hadoop.fs.FileUtil.copy(
              sp.getFileSystem(conf), sp, dp.getFileSystem(conf), dp,
              false, conf))
            throw new java.io.IOException(s"backup copy failed: $s")
        }
    }
  }

  /** Persisted index directories under the warehouse root
    * ([[graft.ops.IndexDir.isIndex]]: MinHash corpus, LSH/IVF/IVF-PQ/
    * semantic). Swap siblings are mid-swap state, not live indexes. */
  def discoverIndexDirs(): Seq[Path] = indexWalk()._1

  /** Index directories under the root, and the swap siblings of index
    * directories with their live paths. Bounded walk: three levels,
    * skipping snapshot dirs and `_`-prefixed internals. */
  private def indexWalk(): (Seq[Path], Seq[(Path, Path)]) = {
    val rootP = new Path(root)
    val fsys = fs(rootP)
    val dirs = mutable.ArrayBuffer.empty[Path]
    val siblings = mutable.ArrayBuffer.empty[(Path, Path)]
    def scan(dir: Path, depth: Int): Unit = {
      val st =
        try fsys.listStatus(dir).toSeq
        catch { case _: java.io.FileNotFoundException => return }
      if (IndexDir.isIndex(st)) dirs += dir
      else if (depth < 3) st.foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory && !n.startsWith("snap-") && !n.startsWith("_"))
          IndexDir.swapLive(fsys, s.getPath) match {
            case Some(live) => siblings += (s.getPath -> live)
            case None => scan(s.getPath, depth + 1)
          }
      }
    }
    if (fsys.exists(rootP)) scan(rootP, 0)
    (dirs.toSeq, siblings.toSeq)
  }

  /** Retained snapshot names for a managed table, oldest first. GC
    * keeps the manifest-referenced snapshots plus the two most recent,
    * so this is a bounded time-travel window over immutable
    * directories. */
  def snapshots(t: String): Seq[String] = {
    val dir = tableDir(t)
    val fsys = fs(dir)
    if (!fsys.exists(dir)) Nil
    else fsys.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("snap-")).toSeq
      .sortBy(_.stripPrefix("snap-").toLong)
  }

  /** One [[fsck]] finding. `kind`: `missing-snapshot` / `missing-bucket`
    * / `missing-zone` / `unparseable-pointer` (broken references —
    * reads WILL fail; an unparseable `_ROOT` is reported with table
    * ""), `orphan-snapshot` / `stale-tmp` (reclaimable
    * garbage, `bytes` = its size), `unapplied-journal` (a crash before
    * the root swap; the next open rolls it forward), `foreign-lease`
    * (another live writer), `index-meta` (an index meta that does not
    * parse or breaks its family's invariants), `interrupted-swap` (an
    * index waiting aside for its missing live dir; the next open heals
    * it). */
  final case class FsckIssue(table: String, kind: String, path: String,
      detail: String, bytes: Long)

  /** Integrity + space audit — the operator's fsck for a long-lived
    * warehouse. Verifies every pointer in the live catalog resolves to
    * an existing snapshot / bucket / zone directory, reports snapshot
    * dirs NOTHING references (crashed writes, or gc a crash
    * suppressed) with their reclaimable bytes, and surfaces torn
    * `_ROOT.tmp-*` catalog replaces, lease-steal tombstones, unapplied
    * `_TXN-*` journals and a live foreign `_LEASE` holder. Read-only
    * by default — it REPORTS unapplied journals rather than folding
    * them, so auditing never mutates a warehouse it may not own.
    * Metadata-only: listStatus walks + one content summary per orphan,
    * no data bytes read — cost scales with snapshot/file counts
    * (bounded by retention), never data size, so it runs in seconds
    * against 100 TB.
    *
    * `reclaim = true` deletes what is provably garbage — orphan
    * snapshots (same never-the-2-newest grace as gc) and stale tmp
    * files — heals interrupted index swaps, and never touches journals,
    * leases, or referenced state.
    * Returns the findings; empty = clean. */
  def fsck(reclaim: Boolean = false): Seq[FsckIssue] = {
    val issues = scala.collection.mutable.ArrayBuffer.empty[FsckIssue]
    val rootP = new Path(root)
    val rfs = fs(rootP)
    if (!rfs.exists(rootP)) return Nil
    rfs.listStatus(rootP).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_TXN-"))
        issues += FsckIssue("", "unapplied-journal", st.getPath.toString,
          "journaled commit not rolled forward yet (the next open heals it)",
          0L)
      else if (n.startsWith("_LEASE.stale-")) {
        issues += FsckIssue("", "stale-tmp", st.getPath.toString,
          "lease-steal tombstone", st.getLen)
        if (reclaim) rfs.delete(st.getPath, false)
      }
      else if (n.startsWith("_ROOT.tmp-")) {
        issues += FsckIssue("", "stale-tmp", st.getPath.toString,
          "torn root swap leftover", st.getLen)
        if (reclaim) rfs.delete(st.getPath, false)
      }
    }
    // index swap leftovers (a crashed retrain or incremental-backup
    // refresh): an aside whose live dir is missing is the only complete
    // copy, so it is healed, never deleted; anything else is garbage
    val (indexDirs, siblings) = indexWalk()
    siblings.foreach { case (sib, live) =>
      if (IndexDir.isAside(sib) && !rfs.exists(live)) {
        issues += FsckIssue("", "interrupted-swap", sib.toString,
          "index swap crashed between its renames; the complete index " +
            s"waits here for $live (the next open or --reclaim restores it)",
          0L)
        if (reclaim) IndexDir.heal(rfs, live)
      } else {
        issues += FsckIssue("", "stale-tmp", sib.toString,
          "crashed index swap leftover (retrain or backup index-refresh)",
          rfs.getContentSummary(sib).getLength)
        if (reclaim) rfs.delete(sib, true)
      }
    }
    val leaseF = new Path(rootP, "_LEASE")
    try {
      val st = rfs.getFileStatus(leaseF)
      val h = Warehouse.readText(rfs, leaseF).trim
      val age = System.currentTimeMillis - st.getModificationTime
      if (h != Warehouse.processId && age <= Warehouse.LeaseTtlMs)
        issues += FsckIssue("", "foreign-lease", leaseF.toString,
          s"write-leased by process '$h' (heartbeat $age ms ago)", 0L)
    } catch { case _: java.io.FileNotFoundException => }
    // without a catalog nothing is provably unreferenced: report it
    // and skip the per-table walk, which would call live data orphaned
    val cat =
      try readRoot()
      catch {
        case scala.util.control.NonFatal(e) =>
          issues += FsckIssue("", "unparseable-pointer", rootFile.toString,
            e.getMessage, 0L)
          Map.empty[String, Manifest]
      }
    cat.toSeq.sortBy(_._1).foreach { case (t, m) =>
      val td = tableDir(t)
      val tfs = fs(td)
      def need(rel: String, kind: String): Unit =
        if (!tfs.exists(new Path(td, rel)))
          issues += FsckIssue(t, kind, new Path(td, rel).toString,
            "referenced by the live catalog but missing on storage", 0L)
      need(m.snap, "missing-snapshot")
      m.buckets.values.foreach(need(_, "missing-bucket"))
      m.zones.foreach(z => need(z.dir, "missing-zone"))
      val keep = m.snapDirs
      if (tfs.exists(td)) {
        val snaps = tfs.listStatus(td).map(_.getPath)
          .filter(_.getName.startsWith("snap-"))
          .sortBy(_.getName.stripPrefix("snap-").toLong)
        val newest = snaps.takeRight(2).map(_.getName).toSet
        snaps.foreach { p =>
          if (!keep(p.getName) && !newest(p.getName)) {
            issues += FsckIssue(t, "orphan-snapshot", p.toString,
              "referenced by nothing (crashed write or suppressed gc)",
              tfs.getContentSummary(p).getLength)
            if (reclaim) { forgetUnder(p); tfs.delete(p, true) }
          }
        }
      }
    }
    // persisted index dirs: the meta must parse AND satisfy its
    // family's structural invariants (IndexDir.parse, the check every
    // open applies) — a half-written or hand-edited meta is caught at
    // audit time, not at first probe
    indexDirs.foreach { d =>
      IndexDir.problems(fs(d), d).foreach(p =>
        issues += FsckIssue("", "index-meta", d.toString, p, 0L))
    }
    issues.toSeq
  }

  /** Time travel: read one retained snapshot of a table, as the full
    * table state it committed. Every snapshot of a plain table is one.
    * A bucketed or zoned write carries the leaves it did not rewrite by
    * reference, so its snapshot directory holds only a per-bucket or
    * per-zone delta; such a snapshot is a full state only while it is
    * the live one and every live leaf lies under it (a whole write, or
    * a merge into an empty table). Any other snapshot refuses: the
    * manifests that would rebuild its state are not retained.
    * Snapshot dirs are immutable once written, but NOT immortal: gc on
    * a concurrent write may delete all but the two newest, so
    * materialize (or act on) the returned frame promptly. */
  def readSnapshot(t: String, snap: String): DataFrame = {
    val td = registry(t)
    require(td.external.isEmpty, s"Table '$t' is external (no snapshots)")
    require(snapshots(t).contains(snap), s"No retained snapshot '$snap' for '$t'")
    if (!bucketed(td) && !zoned(td)) scanLeaves(t, Seq(snap))
    else {
      val live = currentManifest(t).filter(_.snap == snap).map(leaves(td, _))
        .filter(_.forall(d => d == snap || d.startsWith(snap + "/")))
      val (kind, leaf) = if (bucketed(td)) ("bucketed", "bucket") else ("brin", "zone")
      require(live.isDefined, s"Table '$t' is $kind: snapshot '$snap' holds a " +
        s"per-$leaf delta (the ${leaf}s its write rewrote), not a full state")
      scanLeaves(t, live.get)
    }
  }

  /** Create empty snapshots for every managed table that doesn't exist
    * yet — idempotent like the reference's create_tables
    * (tanker/context.py:688-710). Seed `values` are written by
    * [[graft.Env.createTables]] (they may use dotted FK fields). */
  def createTables(): Unit = {
    recoverTransactions() // heal a crash mid-commit before any reads
    migrateLegacy()
    val cat = readRoot()
    registry.names.foreach { t =>
      if (registry(t).external.isEmpty && !cat.contains(t))
        replace(slice(t, None), empty(registry(t)))
    }
    persistRegistry()
  }

  /** Migrate a pre-catalog layout, once, under the writer lease: each
    * managed table absent from `_ROOT` adopts its per-table `_CURRENT`
    * pointer (a plain snapshot name becomes a manifest whose id
    * high-water mark is read from the snapshot's footers), all in one
    * catalog commit; then every `_CURRENT` file and its tmp and
    * checksum siblings is deleted. A crash in between is finished by
    * the next call. On a migrated root this costs one listing per
    * table directory. */
  private def migrateLegacy(): Unit = rootLock.synchronized {
    val legacy = registry.names.filter(registry(_).external.isEmpty).flatMap { t =>
      val dir = tableDir(t)
      try fs(dir).listStatus(dir).map(_.getPath)
        .filter(_.getName.startsWith("_CURRENT")).map(t -> _).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    }
    if (legacy.isEmpty) return
    // a JSON pointer is a manifest; a plain one names the snapshot
    def adopt(t: String, text: String): Manifest =
      if (text.startsWith("{")) Warehouse.parseManifest(text)
      else Manifest(text, rowsAndMaxId(registry(t), Seq(new Path(tableDir(t), text)))._2, Map())
    val cat = readRoot()
    val adopted = legacy.collect {
      case (t, f) if f.getName == "_CURRENT" && !cat.contains(t) =>
        t -> adopt(t, Warehouse.readText(fs(f), f).trim)
    }
    if (adopted.nonEmpty) commitPointers(adopted) else ensureLease(fs(rootFile))
    legacy.foreach { case (_, f) => fs(f).delete(f, false) }
  }

  /** Persist the registry as `<root>/_SCHEMA.yaml` (reference schema
    * format) so a warehouse is self-describing — the introspection
    * path (tanker/context.py:388-569) reads it back without a
    * database catalog. */
  def persistRegistry(): Unit = {
    val f = new Path(root, "_SCHEMA.yaml")
    val fsys = fs(f)
    val out = fsys.create(f, true)
    try out.write(Registry.toYaml(registry).getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}

object Warehouse {
  /** One range-cluster of a brin table's snapshot: directory (relative
    * to the table dir) + encoded min/max of the leading key column
    * ([[Brin.encode]]; None = the zone holds only null keys), plus
    * `extra` — min/max of the remaining key columns and the surrogate
    * `id` (postgres BRIN indexes the whole key; in an append-mostly
    * table id correlates with the leading key, so id-bounded reads
    * prune too). */
  final case class Zone(dir: String, lo: Option[Any], hi: Option[Any],
      extra: Map[String, (Option[Any], Option[Any])] = Map())

  /** A table's catalog entry: its newest snapshot, the id high-water
    * mark (so surrogate-id assignment never scans the full table), and
    * for a bucketed table the per-bucket pointers; brin tables instead
    * carry `zones` — the range-cluster zone map. */
  final case class Manifest(snap: String, maxId: Long, buckets: Map[Int, String],
      zones: Seq[Zone] = Nil, zorder: Seq[String] = Nil) {
    /** The snapshot directories this manifest references. */
    def snapDirs: Set[String] =
      Set(snap) ++ (buckets.values ++ zones.map(_.dir)).map(_.split("/")(0))
  }

  /** A part of a table's live state that a write replaces
    * ([[Warehouse.slice]], [[Warehouse.replace]]). `frame` reads its
    * rows; `leaves` are the leaf directories it covers, relative to the
    * table dir; `whole` = it is the whole table; `base` = the manifest
    * it was cut from. `frame` resolves its files on first use, so a
    * delete-all never does; `rows` sums the leaves' parquet footers on
    * first use. */
  final class Slice private[store] (val table: String,
      private[store] val base: Option[Manifest], private[store] val leaves: Seq[String],
      private[store] val whole: Boolean, frameOf: => DataFrame, footRows: => Long) {
    lazy val frame: DataFrame = frameOf
    lazy val rows: Long = footRows
  }

  /** Bytes of data a whole zoned write puts in one zone. */
  private val ZoneTargetBytes = 64L << 20

  /** A partial zoned write compacts the table once its zone count
    * exceeds this many times the configured full-write zone count. */
  private val CompactFactor = 2

  /** Bits per column of a z-order compaction's bucket rank (64 buckets
    * per column). */
  private val ZOrderBits = 6

  /** Data part files directly under `dir` (no recursion). */
  private[graft] def partFiles(fsys: FileSystem, dir: Path): Seq[Path] =
    fsys.listStatus(dir).map(_.getPath).filter { p =>
      val n = p.getName
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.toSeq

  /** Rows in the parquet part files directly under `dirs`, summed from
    * their footers: no Spark job and no data read. */
  private[graft] def footerRows(conf: Configuration, dirs: Seq[Path]): Long =
    footerStats(conf, dirs.flatMap(d => partFiles(d.getFileSystem(conf), d)), Nil)._1

  /** Rows of a plain parquet read ([[Bridge.plainReadFiles]]), summed
    * from its files' footers: no Spark job. None for any other frame. */
  private[graft] def fileReadRows(df: DataFrame): Option[Long] =
    Bridge.plainReadFiles(df).map(files => footerStats(
      df.sparkSession.sparkContext.hadoopConfiguration, files.map(new Path(_)), Nil)._1)

  /** The Spark schema that Spark's parquet writer recorded in the footer
    * of a part file directly under `dir`: one footer read on the
    * driver, where `spark.read.parquet(dir)` would infer it in a job.
    * None when `dir` holds no part file. */
  private[graft] def footerSchema(conf: Configuration, dir: Path): Option[StructType] =
    partFiles(dir.getFileSystem(conf), dir).headOption.flatMap { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf),
        org.apache.parquet.ParquetReadOptions.builder().build())
      try Option(rd.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(org.apache.spark.sql.types.DataType.fromJson(_).asInstanceOf[StructType])
      finally rd.close()
    }

  /** Row count of `files`, and their combined per-column (lo, hi) —
    * already [[Brin.encode]]d — from parquet FOOTER statistics only:
    * the writer already recorded exact column min/max in each footer,
    * so zone stats and id high-water marks need no re-scan of the
    * files just written.
    *
    * Exactness guard: the stats are None — callers fall back to a scan
    * — unless every stat is of a type whose parquet statistics are
    * trustworthy and map 1:1 onto the [[Brin.encode]] domain: INT32 /
    * INT64 (plain, date, timestamp MILLIS/MICROS) and UTF8 binary
    * (unsigned byte order, matching [[Brin.cmp]]; parquet drops
    * oversized binary stats, which lands in the fallback). Float /
    * double (NaN-unsafe stats), INT96 timestamps and anything exotic
    * fall back. All-null chunks contribute nothing, so an all-null
    * column yields (None, None) exactly like the scan's null min/max. */
  private def footerStats(conf: Configuration, files: Seq[Path], cols: Seq[String])
      : (Long, Option[Map[String, (Option[Any], Option[Any])]]) = {
    import org.apache.parquet.hadoop.metadata.BlockMetaData
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation.{StringLogicalTypeAnnotation,
      TimeUnit, TimestampLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    // (lo, hi) of one column chunk: None = unusable stats, Some(None) =
    // all nulls
    def chunk(b: BlockMetaData, c: String): Option[Option[(Any, Any)]] =
      b.getColumns.asScala.find(_.getPath.toDotString == c).flatMap { cc =>
        val st = cc.getStatistics
        if (st == null) None
        else if (st.getNumNulls == b.getRowCount) Some(None)
        else if (!st.hasNonNullValue) None // dropped/oversized stats
        else {
          def long(v: Any) = v.asInstanceOf[java.lang.Long].longValue
          def str(v: Any) = new String(v.asInstanceOf[Binary].getBytes, StandardCharsets.UTF_8)
          val pt = cc.getPrimitiveType
          val bounds: Option[(Any, Any)] = pt.getPrimitiveTypeName match {
            case INT64 => pt.getLogicalTypeAnnotation match {
              case ts: TimestampLogicalTypeAnnotation => ts.getUnit match {
                case TimeUnit.MICROS => Some((long(st.genericGetMin), long(st.genericGetMax)))
                case TimeUnit.MILLIS =>
                  Some((long(st.genericGetMin) * 1000L, long(st.genericGetMax) * 1000L))
                case _ => None // nanos: not the Brin micros domain
              }
              case _ => Some((long(st.genericGetMin), long(st.genericGetMax)))
            }
            case INT32 => // plain ints and DATE (epoch days) both
              // encode as Long, exactly Brin.encode's Int/LocalDate
              Some((st.genericGetMin.asInstanceOf[java.lang.Integer].toLong,
                st.genericGetMax.asInstanceOf[java.lang.Integer].toLong))
            case BINARY if pt.getLogicalTypeAnnotation.isInstanceOf[StringLogicalTypeAnnotation] =>
              Some((str(st.genericGetMin), str(st.genericGetMax)))
            case _ => None // float/double (NaN), INT96, others: scan
          }
          bounds.map(Some(_))
        }
      }
    val acc = mutable.Map[String, (Any, Any)]()
    var exact = true
    var rows = 0L
    // plain read options: building them from the Hadoop conf copies
    // every property, which cost more than the footer read itself
    val opts = org.apache.parquet.ParquetReadOptions.builder().build()
    for (f <- files) {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf), opts)
      try {
        rows += rd.getRecordCount
        for (b <- rd.getFooter.getBlocks.asScala; c <- cols if exact) chunk(b, c) match {
          case None => exact = false
          case Some(None) => ()
          case Some(Some((lo, hi))) => acc(c) = acc.get(c) match {
            case None => (lo, hi)
            case Some((alo, ahi)) =>
              (if (Brin.cmp(lo, alo) < 0) lo else alo, if (Brin.cmp(hi, ahi) > 0) hi else ahi)
          }
        }
      } finally rd.close()
    }
    (rows, if (!exact) None else Some(cols.map(c =>
      c -> acc.get(c).map { case (l, h) => (Some(l), Some(h)) }
        .getOrElse((None, None))).toMap))
  }


  private[store] def parseManifest(text: String): Manifest = {
    val y = new org.yaml.snakeyaml.Yaml()
    val m = y.load[java.util.Map[String, Object]](text).asScala
    val buckets = m.get("buckets").map(
      _.asInstanceOf[java.util.Map[String, Object]].asScala.map {
        case (k, v) => k.toInt -> v.toString
      }.toMap).getOrElse(Map[Int, String]())
    // yaml numbers load as Integer/Long/Double; normalize to the
    // Brin encoding families (Long | Double | String)
    def bound(v: Object): Option[Any] = Option(v).map {
      case i: java.lang.Integer => i.longValue()
      case l: java.lang.Long => l.longValue()
      case d: java.lang.Double => d.doubleValue()
      case other => other.toString
    }
    val zones = m.get("zones").map(
      _.asInstanceOf[java.util.List[java.util.Map[String, Object]]].asScala
        .map { z =>
          val extra = Option(z.get("cols")).map(
            _.asInstanceOf[java.util.Map[String, java.util.List[Object]]]
              .asScala.map { case (c, lh) =>
                c -> (bound(lh.get(0)), bound(lh.get(1)))
              }.toMap).getOrElse(Map[String, (Option[Any], Option[Any])]())
          Zone(z.get("dir").toString, bound(z.get("lo")), bound(z.get("hi")),
            extra)
        }.toSeq).getOrElse(Nil)
    val zorder = m.get("zorder").map(
      _.asInstanceOf[java.util.List[Object]].asScala.map(_.toString).toSeq)
      .getOrElse(Nil)
    Manifest(m("snap").toString, m("maxId").toString.toLong, buckets, zones,
      zorder)
  }

  private def manifestJson(m: Manifest): String =
    Json.write(Map("snap" -> m.snap, "maxId" -> m.maxId,
      "buckets" -> m.buckets.map { case (k, v) => k.toString -> v }) ++
      (if (m.zones.isEmpty) Map() else Map("zones" -> m.zones.map(z =>
        Map("dir" -> z.dir, "lo" -> z.lo.orNull, "hi" -> z.hi.orNull) ++
          (if (z.extra.isEmpty) Map() else Map("cols" -> z.extra.map {
            case (c, (lo, hi)) => c -> Seq(lo.orNull, hi.orNull)
          }))))) ++
      (if (m.zorder.isEmpty) Map() else Map("zorder" -> m.zorder)))

  /** The file form of the root catalog and of a transaction journal:
    * one JSON object, table -> manifest JSON text. */
  private[store] def catalogBytes(entries: collection.Map[String, Manifest]): Array[Byte] =
    Json.write(entries.map { case (t, m) => t -> manifestJson(m) }.toMap)
      .getBytes(StandardCharsets.UTF_8)

  /** Inverse of [[catalogBytes]]; throws on any malformed entry. */
  private[store] def parseEntries(text: String): Map[String, Manifest] =
    new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](text)
      .asScala.map { case (t, v) => t -> parseManifest(v.toString) }.toMap

  /** The root catalog at `f`, parsed; raises, naming `f`, when it does
    * not parse. */
  private[store] def parseCatalog(fsys: FileSystem, f: Path): Map[String, Manifest] = {
    val text = readText(fsys, f)
    try parseEntries(text)
    catch {
      case scala.util.control.NonFatal(e) => throw new IllegalStateException(
        s"root catalog $f does not parse: ${e.getMessage}", e)
    }
  }

  private[store] def readText(fsys: FileSystem, f: Path): String = {
    val in = fsys.open(f)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      StandardCharsets.UTF_8) finally in.close()
  }

  /** Refuse a table that still has a pre-catalog `_CURRENT` pointer:
    * read through the catalog alone, it would look empty. */
  private[store] def refuseLegacy(fsys: FileSystem, tableDir: Path): Unit = {
    val f = new Path(tableDir, "_CURRENT")
    if (fsys.exists(f)) throw new IllegalStateException(
      s"$f is a pointer of the pre-catalog layout, which this warehouse " +
        "no longer reads: run `tk init` (Env.createTables) once with write " +
        "access to migrate it into _ROOT")
  }

  /** Per-root lock serializing root-catalog read-modify-write within
    * this JVM — the single-driver commit coordinator. Keyed by the
    * root string (all Warehouse instances over one root share it). */
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[store] def lockFor(root: String): Object =
    rootLocks.computeIfAbsent(root, _ => new Object)

  /** Parsed-root memo shared by every Warehouse instance over one root
    * in this JVM, keyed like [[lockFor]]: (mtime, length, entries,
    * exact), where `exact` marks content installed by this JVM's own
    * commit under the root lock. A per-instance memo would treat a
    * sibling instance's commit as a foreign swap. */
  private val rootMemos = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicReference[
      Option[(Long, Long, Map[String, Manifest], Boolean, Long)]]]()
  private[store] def memoFor(root: String): java.util.concurrent.atomic
      .AtomicReference[Option[(Long, Long, Map[String, Manifest], Boolean, Long)]] =
    rootMemos.computeIfAbsent(root,
      _ => new java.util.concurrent.atomic.AtomicReference(None))

  /** A non-exact memo entry held locally for less than this re-reads
    * the catalog: closes the same-mtime-tick/same-length foreign-swap
    * blind spot of the (mtime, length) key at the cost of re-parsing
    * only entries installed in the last two seconds — keyed on the
    * local install time, so storage/driver clock skew cannot reopen
    * the hole. */
  private[store] val RootFreshnessMs: Long = 2000L

  /** Writer-lease heartbeat TTL (see `ensureLease`): a lease whose
    * mtime is older than this is stealable by another process. */
  private[store] val LeaseTtlMs: Long = 10 * 60 * 1000L

  /** This process's writer identity for the `_LEASE` guard; hostname
    * resolution is done once (it can block on DNS). */
  private[store] lazy val processId: String = {
    val host = try java.net.InetAddress.getLocalHost.getHostName
      catch { case scala.util.control.NonFatal(_) => "localhost" }
    s"$host:${ProcessHandle.current().pid()}"
  }

  /** Rebuild a Registry from a warehouse directory: the persisted
    * `_SCHEMA.yaml` when present (full fidelity), else best-effort
    * from parquet footers (types only; key falls back to `id` —
    * mirrors the reference's unique-index-less fallback,
    * tanker/context.py:309-310). */
  def introspect(spark: SparkSession, root: String): Registry = {
    import org.apache.spark.sql.types._
    val rootPath = new Path(root)
    val fsys = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schemaFile = new Path(rootPath, "_SCHEMA.yaml")
    if (fsys.exists(schemaFile)) Registry.fromYaml(readText(fsys, schemaFile))
    else {
      def colType(dt: DataType): ColType = dt match {
        case LongType => ColType.BigIntT
        case IntegerType => ColType.IntegerT
        case DoubleType | FloatType => ColType.FloatT
        case BooleanType => ColType.BoolT
        case DateType => ColType.DateT
        case TimestampNTZType => ColType.TimestampT
        case TimestampType => ColType.TimestampTzT
        case BinaryType => ColType.ByteaT
        case ArrayType(e, _) => ColType.Arr(colType(e), 1)
        case _ => ColType.VarcharT
      }
      val rootFile = new Path(rootPath, "_ROOT")
      val cat = if (fsys.exists(rootFile)) parseCatalog(fsys, rootFile) else Map()
      val defs = cat.toSeq.sortBy(_._1).map { case (name, m) =>
        // one referenced leaf dir carries the data schema; the bucket
        // and zone partition columns are storage, not table columns
        val leaf = (m.buckets.values ++ m.zones.map(_.dir)).headOption.getOrElse(m.snap)
        val schema = spark.read.parquet(new Path(new Path(rootPath, name), leaf).toString).schema
        val cols = schema.fields.filterNot(f => f.name == "__b" || f.name == "__z")
          .map(f => ColumnDef(f.name, colType(f.dataType)))
        TableDef(name, cols.toSeq, key = Seq("id"))
      }
      new Registry(defs.toSeq)
    }
  }
}
