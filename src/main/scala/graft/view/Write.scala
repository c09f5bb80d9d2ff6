package graft.view

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.Env
import graft.expr.{Args, QueryBuilder}
import graft.ops.Scope
import graft.schema.{ColType, ColumnDef}
import graft.store.Warehouse
import org.apache.spark.sql.graft.Bridge

/** The write path: normalization → coercion → FK resolution → merge
  * (insert/update toggles, write filters with new-vs-old semantics,
  * purge) → atomic snapshot swap, plus delete by data/filter.
  *
  * Re-expresses the reference's temp-table + ON CONFLICT machinery
  * (tanker/view.py:227-711) as DataFrame joins over Parquet snapshots:
  *
  *  - FK resolution (view.py:642-711): one join per dotted FK group
  *    against the remote view, replacing the LRU/pagination machinery —
  *    the join IS the batch lookup. Unknown non-null values raise, an
  *    all-null tuple yields a NULL fk (view.py:700-711).
  *  - Upsert (view.py:469-552): update = current LEFT JOIN batch on key
  *    with mapped non-key columns taken from the batch when matched
  *    (partial-column preservation: unmapped columns keep their stored
  *    values, tests/write_test.py:85-112); insert = batch anti-join
  *    current, surrogate ids assigned as max(id)+row_number, column
  *    `defaults` applied (table.py:56-57).
  *  - Write filters (view.py:356-365, 554-631): the 'new' pass drops
  *    batch rows whose filter over INCOMING values is strictly false
  *    (mapped columns resolve to the batch, others to the stored row);
  *    the 'old' pass drops batch rows whose key exists and whose filter
  *    over the STORED values is strictly false (the
  *    tests/acl_test.py:97-107 semantics).
  *  - Purge (view.py:554-631): stored rows absent from the batch (and
  *    matching the filters, when given) are deleted, counted.
  *
  * Every write and delete merges against one slice of the table
  * ([[graft.store.Warehouse.slice]]) and commits it with one replace:
  * the store alone decides, from the batch keys and the table's
  * layout, whether the slice is some buckets, some zones or the whole
  * table (SURVEY §4).
  */
object Write {

  /** One physical column targeted by a write, with the view fields that
    * feed it (tanker field_map, view.py:88-102). */
  private final case class Group(col: ColumnDef, items: Seq[(ViewField, Int)]) {
    def m2o: Option[ColType.M2O] = col.ctype match {
      case m: ColType.M2O => Some(m)
      case _ => None
    }
    /** A single field naming the M2O column itself, or its dotted
      * path to the FK target column (`cust.c_custkey` for an M2O on
      * `c_custkey`), writes the fk by id (tanker view.py:233-236). */
    def byId: Boolean = items.size == 1 && m2o.exists { m =>
      val d = items.head._1.desc
      !d.contains(".") || d.split("\\.", 2)(1) == m.col
    }
  }

  private def c(name: String): Column = col("`" + name + "`")

  private def strictTrue(cond: Column): Column = cond <=> lit(true)
  private def strictFalse(cond: Column): Column = cond <=> lit(false)

  // ------------------------------------------------------------ grouping

  private def groupFields(v: View): Seq[Group] = {
    val grouped = mutable.LinkedHashMap[String, mutable.Buffer[(ViewField, Int)]]()
    v.fields.zipWithIndex.foreach { case (f, i) =>
      val cd = f.localCol.getOrElse(throw new IllegalArgumentException(
        s"Field '${f.desc}' of view on '${v.table.name}' cannot be written"))
      if (cd.ctype.isInstanceOf[ColType.O2M]) throw new IllegalArgumentException(
        s"Cannot write to one-to-many column '${cd.name}'")
      grouped.getOrElseUpdate(cd.name, mutable.Buffer()) += ((f, i))
    }
    grouped.map { case (cn, items) => Group(v.table.column(cn), items.toSeq) }.toSeq
  }

  /** All key columns (or id) must be mapped (tanker view.py:451-467). */
  private def validateKey(v: View, mapped: Set[String]): Unit =
    if (!mapped.contains("id")) {
      val missing = v.table.key.filterNot(mapped)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        "You must reference all the columns composing the table key when " +
        s"""you want to write, delete or reference rows (or pass the id column). Table is "${v.table.name}", missing columns are: ${missing.mkString(",")}""")
    }

  // ------------------------------------------------------------- staging

  /** Spark type a dotted tail resolves to in the remote table. */
  private def tailType(env: Env, table: String, path: String): DataType = {
    val td = env.registry(table)
    if (td.has(path)) td.column(path).ctype.spark.getOrElse(
      throw new IllegalArgumentException(s"Cannot write via virtual column '$path'"))
    else {
      if (!path.contains(".")) throw new NoSuchElementException(
        s"Column '$path' not found in table '$table'")
      val Array(h, rest) = path.split("\\.", 2)
      tailType(env, env.registry.hop(table, h).toTable, rest)
    }
  }

  private def stagingType(env: Env, f: ViewField): DataType = f.kind match {
    case ViewField.Col(cd) => cd.ctype.spark.getOrElse(
      throw new IllegalArgumentException(s"Cannot write to '${cd.name}'"))
    case ViewField.Path(head) =>
      val m2o = head.ctype.asInstanceOf[ColType.M2O]
      tailType(env, m2o.table, f.desc.split("\\.", 2)(1))
    case _ => throw new IllegalArgumentException(
      s"Field '${f.desc}' cannot be written")
  }

  /** Normalize input (rows / maps / single map / tuples / DataFrame,
    * tanker view.py:398-416) into a staged frame with one coerced
    * column `__f<i>` per view field plus a `__seq` input-order column. */
  private def stage(env: Env, v: View, data: Any): DataFrame = {
    val fields = v.fields
    val types = fields.map(stagingType(env, _))
    val schema = StructType(
      types.zipWithIndex.map { case (t, i) => StructField(s"__f$i", t, nullable = true) } :+
      StructField("__seq", LongType, nullable = false))

    def fromRows(rows: Seq[Seq[Any]]): DataFrame = {
      val coerced = rows.zipWithIndex.map { case (r, idx) =>
        require(r.size == fields.size,
          s"Row has ${r.size} values for ${fields.size} fields")
        Row.fromSeq(r.zip(types).map { case (value, t) => Coerce.to(value, t) } :+ idx.toLong)
      }
      // a local batch has a known size: one partition per
      // [[RowsPerTask]] rows, so a small batch resolves and dedupes in
      // one task with no shuffle (a single partition is already
      // clustered on any key)
      env.spark.createDataFrame(coerced.asJava, schema).coalesce(tasksFor(rows.size))
    }

    data match {
      case ds: org.apache.spark.sql.Dataset[_] =>
        // `__seq` decides which occurrence wins when a batch holds
        // duplicate keys ("last wins", view.py:306-318). A DataFrame
        // has no inherent row order, so dup-key priority for DataFrame
        // inputs follows partition order and is UNDEFINED across
        // retries (the reference has the same per-batch ambiguity —
        // dict-driven executemany order). Callers needing a defined
        // winner must pre-dedupe or pass a local collection.
        val cols = fields.zipWithIndex.map { case (f, i) =>
          c(f.name).cast(types(i)).as(s"__f$i")
        }
        // a plain parquet read has a known size too (its footers): it
        // is staged in partitions of [[RowsPerTask]] rows, like a local
        // batch
        val df = ds.toDF()
        Warehouse.fileReadRows(df).fold(df)(n => df.coalesce(tasksFor(n)))
          .select(cols :+ monotonically_increasing_id().as("__seq"): _*)
      case null => fromRows(Nil)
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        fromRows(Seq(fields.map(f => mm.get(f.name).orNull)))
      case s: Iterable[_] =>
        val rows = s.toSeq.map {
          case m: Map[_, _] =>
            val mm = m.asInstanceOf[Map[String, Any]]
            fields.map(f => mm.get(f.name).orNull)
          case r: Seq[_] => r.asInstanceOf[Seq[Any]]
          case a: Array[_] => a.toSeq
          case p: Product => p.productIterator.toSeq
          case other => Seq(other) // single-field views accept bare values
        }
        fromRows(rows)
      case other => throw new IllegalArgumentException(
        s"Unsupported write input: ${other.getClass.getName}")
    }
  }

  // -------------------------------------------------------- FK resolution

  /** Staged frame → batch frame with one column per physical target
    * column; dotted FK groups joined against their remote views
    * (tanker resolve_fk, view.py:642-711). Violation conditions
    * (unknown FK values) are accumulated, not checked here — the
    * caller validates everything in ONE Spark action. */
  private def resolve(env: Env, v: View, groups: Seq[Group], staged: DataFrame)
      : (DataFrame, Seq[(Column, Seq[Column], String)]) = {
    var df = staged
    val out = mutable.Buffer[(String, String)]() // (source col, target name)
    val checks = mutable.Buffer[(Column, Seq[Column], String)]() // (cond, sample, msg)
    groups.zipWithIndex.foreach { case (g, gi) =>
      def anyNonNull = g.items.map { case (_, i) => c(s"__f$i").isNotNull }.reduce(_ || _)
      def sample = g.items.map { case (_, i) => c(s"__f$i").cast("string") }
      g.m2o match {
        case Some(m2o) if !g.byId =>
          val tails = g.items.map { case (f, _) => f.desc.split("\\.", 2)(1) }
          val fkName = s"__fk$gi"
          val kName = (j: Int) => s"__g${gi}_k$j"
          val lookupFields = tails.zipWithIndex.map { case (tl, j) => (kName(j), tl) } :+
            ((fkName, m2o.col))
          val lookup = env.viewNamed(m2o.table, lookupFields).read(disableAcl = true)
          val cond = g.items.zipWithIndex.map { case ((_, i), j) =>
            c(s"__f$i") === c(kName(j))
          }.reduce(_ && _)
          df = df.join(lookup, cond, "left")
          checks += ((anyNonNull && c(fkName).isNull, sample,
            s"""are not known in table "${m2o.table}""""))
          df = df.drop(tails.indices.map(kName): _*)
          out += fkName -> g.col.name
        case Some(m2o) => // fk given by id: emulate the FK constraint
          // an existence (semi) join against the parent's column: no
          // distinct over the parent, and a row never multiplies
          val (_, i) = g.items.head
          val known = c(s"__f$i").isin(env.warehouse.read(m2o.table).select(c(m2o.col)))
          val unknown = s"__unknown$gi"
          df = df.withColumn(unknown, anyNonNull && !(known <=> lit(true)))
          checks += ((c(unknown), sample,
            s"""are not known in table "${m2o.table}""""))
          out += s"__f$i" -> g.col.name
        case None =>
          out += s"__f${g.items.head._2}" -> g.col.name
      }
    }
    // violation flags/samples computed while the staged `__f` columns
    // are still present, carried as two array columns
    val vflags =
      if (checks.isEmpty) array().cast("array<string>")
      else array(checks.toSeq.map(_._1.cast("string")): _*)
    val vsamples =
      if (checks.isEmpty) array().cast("array<string>")
      else array(checks.toSeq.map { case (_, smp, _) => concat_ws(", ", smp: _*) }: _*)
    val withSamples = df.select(
      out.toSeq.map { case (s, o) => c(s).as(o) } :+ c("__seq") :+
        vflags.as("__vflags") :+ vsamples.as("__vsamples"): _*)
    (withSamples, checks.toSeq)
  }

  /** Normalized, coerced, FK-resolved, key-checked, key-deduped batch,
    * cached in the caller's [[graft.ops.Scope]], and its exact row
    * count. Validation and caching are one pass: the job that fills
    * the cache also counts the rows and finds the first violation
    * (unknown FK values, null key columns), so the batch is computed
    * once and checked before any data file is written. That pass is
    * one tracked SQL execution ([[Bridge.cachedPass]]), and the
    * returned frame carries the exact count in its statistics.
    *
    * Validation is PRE-dedupe, as in the reference: a bad row raises
    * even when a later row with the same key would supersede it. The
    * dedupe aggregate therefore carries, per key, the flags of the last
    * bad row (`__bad`, null for a good key) next to the winning
    * payload, and the pass looks for a key with such a sample — one
    * cache instead of a cached pre-dedupe frame plus a cached deduped
    * one. */
  private def prepare(v: View, groups: Seq[Group], data: Any): (DataFrame, Long) = {
    val env = v.env
    val keyCols = v.keyCols
    val (resolved, checks) = resolve(env, v, groups, stage(env, v, data))
    // Violations: unknown FKs (view.py:700-711) + null key values (tmp
    // key columns are NOT NULL, view.py:306-318)
    val nullKey = keyCols.map(k => c(k).isNull).reduce(_ || _)
    val bad = nullKey || (if (checks.isEmpty) lit(false)
      else expr("exists(__vflags, f -> f = 'true')"))
    // Dedupe on key, last occurrence wins (one row per key per batch):
    // max_by on the unique `__seq`, a partial-aggregable hash aggregate.
    val payload = resolved.columns
      .filter(cn => cn != "__vflags" && cn != "__vsamples" && cn != "__seq")
    val deduped = resolved
      .groupBy(keyCols.map(c): _*)
      .agg(max_by(struct(payload.map(c): _*), c("__seq")).as("__r"),
        max_by(struct(c("__vflags"), c("__vsamples")), when(bad, c("__seq")))
          .as("__bad"))
      .select(payload.map(cn => col(s"__r.`$cn`").as(cn)) :+ c("__bad"): _*)
    val pass = Bridge.cachedPass(deduped, "validate", "__bad")(Scope.cache(_))
    pass.marked.headOption.foreach { row =>
      val bad = row.getAs[Row]("__bad")
      val flags = bad.getSeq[String](0)
      val samples = bad.getSeq[String](1)
      val fkHit = flags.indexWhere(_ == "true")
      if (fkHit >= 0) throw new IllegalArgumentException(
        s"Values (${samples(fkHit)}) ${checks(fkHit)._3}")
      throw new IllegalArgumentException(
        s"Null value in key column when writing on table '${v.table.name}'")
    }
    (pass.frame.drop("__bad"), pass.rows)
  }

  // -------------------------------------------------------- write filters

  /** 'new' pass: drop batch rows whose filter over incoming values is
    * strictly false. Mapped columns resolve to the batch, unmapped ones
    * to the stored row (FROM tmp LEFT JOIN main, aliases → tmp;
    * tanker view.py:600-613). */
  private def newPass(v: View, b: DataFrame, cur: DataFrame, mapped: Set[String],
      keyCols: Seq[String], filters: Seq[Filter], argv: Args): DataFrame = {
    val env = v.env
    val frame = () => {
      val cond = keyCols.map(k => col(s"__t.$k") === col(s"__m.$k")).reduce(_ && _)
      b.as("__t").join(cur.as("__m"), cond, "left")
    }
    val qb = new QueryBuilder(env, v.table, frame,
      cn => if (mapped(cn)) "__t" else "__m", None, v.fieldEnv)
    val cond = filters.map(f => v.compileFilter(qb, f, argv)).reduce(_ && _)
    qb.wideFrame().filter(!strictFalse(cond))
      .select(b.columns.map(cn => col(s"__t.`$cn`").as(cn)).toSeq: _*)
  }

  /** 'old' pass: drop batch rows whose key exists in the stored table
    * and whose filter over the STORED values is strictly false
    * (FROM tmp INNER JOIN main, no aliases; tanker view.py:563-567).
    * `cur` may be a bucket-pruned frame — rows outside it can't match
    * the batch keys anyway. */
  private def oldPass(v: View, b: DataFrame, cur: DataFrame, keyCols: Seq[String],
      filters: Seq[Filter], argv: Args): DataFrame = {
    val qb = new QueryBuilder(v.env, v.table, () => cur.as(v.table.name),
      _ => v.table.name, None, v.fieldEnv)
    val cond = filters.map(f => v.compileFilter(qb, f, argv)).reduce(_ && _)
    val failing = qb.wideFrame().filter(strictFalse(cond))
      .select(keyCols.map(k => col(s"${v.table.name}.`$k`").as(k)): _*).distinct()
    b.join(failing, keyCols, "left_anti")
  }

  /** Rows a write hands one task: a local batch is staged in one
    * partition per this many rows, and [[assignIds]] sorts one key
    * range per this many rows. A batch this small is one partition
    * and one range: it needs no dedupe shuffle, and its ids are
    * numbered inside the write query. The minhash corpus index writes
    * one file per this many rows too. */
  private val RowsPerTask = 100000L

  private[graft] def tasksFor(rows: Long): Int = ((rows + RowsPerTask - 1) / RowsPerTask).max(1L).toInt

  /** Deterministic surrogate ids: `maxId` + the row's rank in key
    * order (keys are unique after the batch dedupe, so ids are the
    * same across runs and retries). Returns the frame and the new
    * high-water mark (maxId + inserted rows) when it is known here.
    *
    * The number of key ranges follows the batch's exact size
    * (`batchRows`, an upper bound on `df`'s rows): one range per
    * [[RowsPerTask]] rows, at most the shuffle partition count.
    *
    *  - One range (every tanker-sized write): the rows are numbered
    *    inside the write query itself, `maxId + row_number()` over
    *    the key order. One range is one task anyway, so the window
    *    costs no parallelism, and there is no separate query, job or
    *    RDD round trip. The new high-water mark is left to the store,
    *    which reads it from the written files.
    *  - Several ranges: `Window.orderBy(key)` with no partition would
    *    funnel the whole batch through ONE task. Instead the batch is
    *    range-partitioned on the key and sorted within partitions (now
    *    globally sorted), the per-partition counts are collected (a few
    *    bytes per partition), and each partition assigns
    *    `maxId + partitionOffset + localRank`. A row's id is its global
    *    key rank wherever the range boundaries fall.
    */
  private def assignIds(env: Env, df: DataFrame, keyCols: Seq[String],
      maxId: Long, batchRows: Long): (DataFrame, Option[Long]) = {
    val maxRanges = env.spark.conf.get("spark.sql.shuffle.partitions").toLong
    val ranges = tasksFor(batchRows).toLong.min(maxRanges).toInt
    if (ranges == 1)
      (df.withColumn("id", lit(maxId) + row_number().over(Window.orderBy(keyCols.map(c): _*))),
        None)
    else {
      // cache the sorted RDD: it is consumed twice (count pass +
      // assign pass) and the range-partition shuffle + sort should run
      // once
      val rdd = Scope.cache(df.repartitionByRange(ranges, keyCols.map(c): _*)
        .sortWithinPartitions(keyCols.map(c): _*).rdd)
      val counts = rdd.mapPartitionsWithIndex { case (i, it) =>
        Iterator((i, it.size.toLong))
      }.collect().sortBy(_._1).map(_._2)
      val offsets = counts.scanLeft(0L)(_ + _)
      val withIds = rdd.mapPartitionsWithIndex { case (i, it) =>
        var n = maxId + offsets(i)
        it.map { row => n += 1; Row.fromSeq(row.toSeq :+ n) }
      }
      val schema = StructType(df.schema.fields :+
        StructField("id", LongType, nullable = false))
      (env.spark.createDataFrame(withIds, schema), Some(maxId + offsets.last))
    }
  }

  // --------------------------------------------------------------- write

  /** Upsert `data` into `v`'s table. Every intermediate the write
    * caches lives in one [[graft.ops.Scope]], released when the write
    * returns or throws. */
  def run(v: View, data: Any, purge: Boolean, insert: Boolean, update: Boolean,
      filters: Seq[Filter], args: Seq[Any], kwargs: Map[String, Any],
      disableAcl: Boolean): WriteResult = Scope {
    val env = v.env
    val t = v.table
    require(t.external.isEmpty, s"Table '${t.name}' is external (read-only)")
    val groups = groupFields(v)
    val mapped = groups.map(_.col.name).toSet
    validateKey(v, mapped)
    val keyCols = v.keyCols
    val argv = Args(env, args, kwargs)

    val (prepared, batchRows) = prepare(v, groups, data)
    var b = prepared

    // A merge keyed on the natural key can only touch stored rows
    // with a batch key, so it reads and rewrites just the slice those
    // keys can reach — write cost scales with the batch, not the table
    // (SURVEY §4 100-TB merge path). Purge needs the whole table.
    val slice = env.warehouse.slice(t.name,
      if (!purge && keyCols == t.key) Some(b.select(keyCols.map(c): _*)) else None)
    val cur = slice.frame

    val allFilters: Seq[Filter] = filters ++
      (if (disableAcl) Nil
       else env.aclWrite.getOrElse(t.name, Nil).map(FilterExpr.apply))

    var filtered = 0L
    if (allFilters.nonEmpty) {
      val kept = Scope.cache(oldPass(v,
        newPass(v, b, cur, mapped, keyCols, allFilters, argv),
        cur, keyCols, allFilters, argv))
      filtered = batchRows - kept.count()
      b = kept
    }

    // Purge: stored rows absent from the batch (and matching the
    // filters) are removed before the merge (view.py:554-631).
    var base = cur
    var deleted = 0L
    if (purge) {
      val bKeys = b.select(keyCols.map(c): _*)
      val doomed0 =
        if (allFilters.isEmpty) cur.join(bKeys, keyCols, "left_anti")
        else {
          val qb = QueryBuilder(env, t, v.fieldEnv)
          val cond = allFilters.map(f => v.compileFilter(qb, f, argv)).reduce(_ && _)
          qb.wideFrame().filter(strictTrue(cond))
            .select(keyCols.map(k => col(s"${t.name}.`$k`").as(k)): _*).distinct()
            .join(bKeys, keyCols, "left_anti")
        }
      val doomed = Scope.cache(doomed0)
      deleted = doomed.count()
      base = cur.join(doomed, keyCols, "left_anti")
    }

    // Update step: stored rows keep their identity; mapped non-key
    // columns are overwritten from the batch when matched (and update
    // is on) — unmapped columns always preserved.
    val joinCond = keyCols.map(k => col(s"__m.$k") === col(s"__t.$k")).reduce(_ && _)
    val tb = b.withColumn("__p", lit(true)).as("__t")
    val joined = base.as("__m").join(tb, joinCond, "left")
    val tPresent = col("__t.__p").isNotNull
    val updatedCols = t.physical.map { cd =>
      val mc = col(s"__m.`${cd.name}`")
      if (!update || keyCols.contains(cd.name) || !mapped(cd.name)) mc.as(cd.name)
      else when(tPresent, col(s"__t.`${cd.name}`")).otherwise(mc).as(cd.name)
    }
    val updated = joined.select(updatedCols: _*)

    // Insert step: batch rows with no stored match get surrogate ids
    // (max(id) + rank in key order: deterministic, no
    // monotonically_increasing_id in stored data) and column defaults.
    // The high-water mark comes from Warehouse.maxId — manifest-
    // tracked, so no full scan per batch. When the new one is not
    // known here, the store derives it from the written files.
    var newMaxId: Option[Long] = None
    val result =
      if (!insert) updated
      else {
        val newRows0 = b.join(base.select(keyCols.map(c): _*), keyCols, "left_anti")
        val withId =
          if (mapped("id")) newRows0
          else {
            val maxId = env.warehouse.maxId(t.name)
            val (assigned, hwm) = assignIds(env, newRows0, keyCols, maxId, batchRows)
            newMaxId = hwm
            assigned
          }
        val insCols = t.physical.map { cd =>
          if (mapped(cd.name) || cd.name == "id") c(cd.name).as(cd.name)
          else cd.default match {
            case Some(d) => expr(d).cast(cd.ctype.spark.get).as(cd.name)
            case None => lit(null).cast(cd.ctype.spark.get).as(cd.name)
          }
        }
        updated.unionByName(withId.select(insCols: _*))
      }

    // maxId is exact (old max + inserts) unless purge may have removed
    // the previous max row — then the store re-derives it from the
    // written files' footers
    env.warehouse.replace(slice, result, newMaxId.filter(_ => deleted == 0))
    WriteResult(filtered, deleted)
  }

  // -------------------------------------------------------------- delete

  /** Delete rows of `v`'s table by key batch or by filter; returns the
    * number removed. Its cached intermediates live in one
    * [[graft.ops.Scope]], like [[run]]'s. */
  def delete(v: View, filters: Seq[Filter], data: Any, args: Seq[Any],
      kwargs: Map[String, Any], swap: Boolean): Long =
    Scope(deleteRows(v, filters, data, args, kwargs, swap))

  private def deleteRows(v: View, filters: Seq[Filter], data: Any, args: Seq[Any],
      kwargs: Map[String, Any], swap: Boolean): Long = {
    val env = v.env
    val t = v.table
    require(t.external.isEmpty, s"Table '${t.name}' is external (read-only)")
    if (data != null && filters.nonEmpty)
      throw new IllegalArgumentException(
        "Deletion by both data and filter not supported")
    val keyCols = v.keyCols
    val bKeys =
      if (data == null) null
      else {
        val groups = groupFields(v)
        validateKey(v, groups.map(_.col.name).toSet)
        prepare(v, groups, data)._1.select(keyCols.map(c): _*)
      }
    // a delete by key can only remove rows in the slice its keys reach;
    // swap keeps them and deletes everywhere else. The rows removed are
    // the slice's footer rows minus those written in its place.
    val slice = env.warehouse.slice(t.name,
      if (data != null && !swap && keyCols == t.key) Some(bKeys) else None)
    val remaining =
      if (data == null && filters.isEmpty) env.warehouse.empty(t) // delete all (view.py:257-259)
      else if (data != null)
        slice.frame.join(bKeys, keyCols, if (swap) "left_semi" else "left_anti")
      else {
        val qb = QueryBuilder(env, t, v.fieldEnv)
        val argv = Args(env, args, kwargs)
        val cond = filters.map(f => v.compileFilter(qb, f, argv)).reduce(_ && _)
        val doomedIds = qb.wideFrame().filter(strictTrue(cond))
          .select(col(s"${t.name}.id").as("id")).distinct()
        slice.frame.join(doomedIds, Seq("id"), if (swap) "left_semi" else "left_anti")
      }
    val before = slice.rows // before the replace, whose gc may drop the slice
    before - env.warehouse.replace(slice, remaining)
  }
}
