package graft.view

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Env
import graft.expr.{Args, Ast, Parser, QueryBuilder}
import graft.schema.{ColType, ColumnDef, TableDef}

/** One field of a View: name + descriptor, classified like the
  * reference's ViewField (tanker/view.py:15-55). */
final case class ViewField(name: String, desc: String, table: TableDef) {
  import ViewField._
  val kind: Kind =
    if (desc.startsWith("(")) Expr
    else if (desc.startsWith("{")) AliasRef
    else if (table.has(desc)) Col(table.column(desc))
    else if (desc.contains(".")) Path(table.column(desc.split("\\.")(0)))
    else throw new IllegalArgumentException(s"""Unable to parse column "$name"""")

  /** The local column this field maps to, if any (None for
    * expressions/aliases). */
  def localCol: Option[ColumnDef] = kind match {
    case Col(c) => Some(c)
    case Path(c) => Some(c)
    case _ => None
  }
}

object ViewField {
  sealed trait Kind
  case object Expr extends Kind
  case object AliasRef extends Kind
  final case class Col(col: ColumnDef) extends Kind
  final case class Path(headCol: ColumnDef) extends Kind
}

/** Sort directive: expression (column / dotted path / s-expr) +
  * direction (tanker/view.py:190-209). */
final case class Order(desc: String, dir: String = "") {
  if (dir.nonEmpty && !Set("ASC", "DESC").contains(dir.toUpperCase))
    throw new IllegalArgumentException(
      s"""Unexpected value "$dir" for sort direction""")
  def descending: Boolean = dir.equalsIgnoreCase("DESC")
}
object Order {
  import scala.language.implicitConversions
  implicit def fromString(s: String): Order = Order(s)
  implicit def fromPair(p: (String, String)): Order = Order(p._1, p._2)
}

/** A filter: either an s-expression string or an equality map
  * (tanker/expression.py:286-309). */
sealed trait Filter
final case class FilterExpr(s: String) extends Filter
final case class FilterEq(m: Map[String, Any]) extends Filter
object Filter {
  import scala.language.implicitConversions
  implicit def fromString(s: String): Filter = FilterExpr(s)
  implicit def fromMap(m: Map[String, Any]): Filter = FilterEq(m)
}

/** View = (base table, ordered field list): the engine's read/write
  * unit (tanker/view.py:58-115). Reads compile to a DataFrame plan
  * (joins + filter + groupBy + sort + limit); writes run the merge in
  * [[Write]].
  */
final class View(val env: Env, tableName: String, fieldSpecs: Seq[(String, String)]) {
  val table: TableDef = env.registry(tableName)

  val fields: Seq[ViewField] = {
    val specs =
      if (fieldSpecs == null) table.defaultFields(env.registry).map(f => (f, f))
      else fieldSpecs
    specs.map { case (n, d) => ViewField(n.trim, d, table) }
  }

  // Duplicate non-relation columns are an error (tanker/view.py:88-102)
  locally {
    val dups = fields.flatMap(_.localCol).groupBy(_.name).filter {
      case (_, cs) => cs.size > 1 && !cs.head.ctype.isRelation
    }
    if (dups.nonEmpty) throw new IllegalArgumentException(
      s"Column ${dups.keys.head} is specified several time in view")
  }

  /** Field names usable as aliases inside later expressions — existing
    * column names are not masked (tanker/view.py:120-127). */
  def fieldEnv: Map[String, String] =
    fields.filterNot(f => table.has(f.name)).map(f => f.name -> f.desc).toMap

  /** Key fields (subset of fields covering the natural key). */
  def keyFields: Seq[ViewField] =
    fields.filter(_.localCol.exists(c => table.key.contains(c.name)))

  /** Merge key: `id` if mapped, else the natural key
    * (tanker/view.py:104-115). */
  def keyCols: Seq[String] =
    if (fields.exists(_.localCol.exists(_.name == "id"))) Seq("id") else table.key

  // ----------------------------------------------------------------- read

  def read(
      filters: Seq[Filter] = Nil,
      args: Seq[Any] = Nil,
      kwargs: Map[String, Any] = Map(),
      order: Seq[Order] = Nil,
      groupby: Seq[String] = Nil,
      limit: Option[Long] = None,
      offset: Option[Long] = None,
      distinct: Boolean = false,
      disableAcl: Boolean = false): DataFrame = {

    val aclFilters: Seq[Filter] =
      if (disableAcl) Nil
      else env.aclRead.getOrElse(table.name, Nil).map(FilterExpr.apply)
    // key bounds of the filters (incl. ACL), for the store to prune
    // the base scan by; computed only if the table's layout prunes. A
    // FRESH Args instance resolves params here so the main compile's
    // positional-{} cursor is untouched; bare {} filters resolve
    // because the select fields' pop count is threaded through
    // (ZonePrune.countPops) and filters compile after fields in
    // exactly this order below.
    lazy val bounds = {
      val fieldPops =
        try ZonePrune.countPops(table, fieldEnv, fields.flatMap { f =>
          f.kind match {
            case ViewField.Expr => Seq(Parser.parse(f.desc))
            case ViewField.AliasRef =>
              Seq(Ast.param(f.desc.substring(1, f.desc.length - 1)))
            case _ => Nil
          }
        })
        catch { case _: Exception => None }
      ZonePrune.bounds(table, filters ++ aclFilters, Args(env, args, kwargs), fieldEnv, fieldPops)
    }
    val qb = QueryBuilder(env, table, fieldEnv,
      baseRead = Some(() => env.warehouse.read(table.name, bounds)))
    val argv = Args(env, args, kwargs)

    // 1. compile select fields (before filters: join-alias order mirrors
    //    the reference's SELECT-first chunk assembly, view.py:153-172)
    case class CF(field: ViewField, column: Column, agg: Boolean)
    qb.allowGenerators = true // unnest legal only in select position
    val compiled = fields.map { f =>
      f.kind match {
        case ViewField.Expr =>
          val ast = Parser.parse(f.desc)
          CF(f, qb.one(qb.compile(ast, argv)), qb.isAggregate(ast))
        case ViewField.AliasRef =>
          val p = Ast.param(f.desc.substring(1, f.desc.length - 1))
          CF(f, qb.one(qb.compile(p, argv)), agg = false)
        case _ => CF(f, qb.ref(f.desc), agg = false)
      }
    }
    qb.allowGenerators = false

    // 2. filters (+ACL, view.py:144-146)
    val conds = (filters ++ aclFilters).map(compileFilter(qb, _, argv))

    // 3. group-by list: explicit, or auto when aggregates are present
    //    (tanker auto-groupby, view.py:163-185)
    val anyAgg = compiled.exists(_.agg)
    // groupby items may name a field (by name or desc) or be a fresh
    // expression; normalize to field descs so projection can match.
    val groupDescs: Seq[String] =
      (if (groupby.nonEmpty) groupby
       else if (anyAgg) compiled.filterNot(_.agg).map(_.field.desc)
       else Nil).map { d =>
        compiled.find(cf => !cf.agg && (cf.field.desc == d || cf.field.name == d))
          .map(_.field.desc).getOrElse(d)
      }
    val grouped = groupDescs.nonEmpty || anyAgg

    val groupCols = groupDescs.map { d =>
      compiled.find(c => c.field.desc == d && !c.agg).map(_.column)
        .getOrElse(qb.one(qb.compile(Parser.parse(wrap(d)), argv)))
    }

    // 4. order: resolve each item to an output column, a group column,
    //    or a hidden extra column
    val orderAsts = order.map(o => (o, o.desc))

    // 5. assemble
    var df = qb.wideFrame()
    if (conds.nonEmpty) df = df.filter(conds.reduce(_ && _))

    if (grouped) {
      val gAliased = groupCols.zipWithIndex.map { case (c, i) => c.as(s"__g$i") }
      val aggs = compiled.filter(_.agg).map(c => c.column.as(c.field.name))
      // hidden aggregate order expressions
      val hidden = orderAsts.zipWithIndex.flatMap { case ((o, d), i) =>
        if (resolvesToOutput(d, compiled.map(_.field), groupDescs)) None
        else {
          val ast = Parser.parse(wrap(d))
          if (!qb.isAggregate(ast)) throw new IllegalArgumentException(
            s"Cannot order grouped query by non-grouped expression '$d'")
          Some(qb.one(qb.compile(ast, argv)).as(s"__s$i"))
        }
      }
      val allAggs = aggs ++ hidden
      var out =
        if (allAggs.isEmpty) df.select(gAliased: _*).distinct()
        else if (gAliased.isEmpty) df.agg(allAggs.head, allAggs.tail: _*)
        else df.groupBy(gAliased: _*).agg(allAggs.head, allAggs.tail: _*)
      // sort while __g/__s columns are still visible
      if (orderAsts.nonEmpty) {
        val sortCols = orderAsts.zipWithIndex.map { case ((o, d), i) =>
          val c = outputRef(d, compiled.map(_.field), groupDescs)
            .getOrElse(col(s"__s$i"))
          if (o.descending) c.desc else c.asc
        }
        out = out.orderBy(sortCols: _*)
      }
      // final projection in field order
      val finalCols = compiled.map { c =>
        if (c.agg) col("`" + c.field.name + "`")
        else {
          val gi = groupDescs.indexOf(c.field.desc)
          if (gi < 0) throw new IllegalArgumentException(
            s"Field '${c.field.desc}' is neither aggregated nor grouped")
          col(s"__g$gi").as(c.field.name)
        }
      }
      var res = out.select(finalCols: _*)
      if (distinct) res = res.distinct()
      page(res, limit, offset)
    } else {
      val hidden = orderAsts.zipWithIndex.flatMap { case ((_, d), i) =>
        if (resolvesToOutput(d, compiled.map(_.field), Nil)) None
        else Some(qb.one(qb.compile(Parser.parse(wrap(d)), argv)).as(s"__s$i"))
      }
      if (distinct && hidden.nonEmpty) throw new IllegalArgumentException(
        "Cannot combine distinct with ordering on a non-selected expression")
      var out = df.select(compiled.map(c => c.column.as(c.field.name)) ++ hidden: _*)
      if (distinct) out = out.distinct()
      if (orderAsts.nonEmpty) {
        val sortCols = orderAsts.zipWithIndex.map { case ((o, d), i) =>
          val c = outputRef(d, compiled.map(_.field), Nil).getOrElse(col(s"__s$i"))
          if (o.descending) c.desc else c.asc
        }
        out = out.orderBy(sortCols: _*)
      }
      if (hidden.nonEmpty)
        out = out.select(compiled.map(c => col("`" + c.field.name + "`")): _*)
      page(out, limit, offset)
    }
  }

  /** Does an order/group descriptor match a select field (by name or
    * descriptor) or a group expression? */
  private def resolvesToOutput(d: String, fs: Seq[ViewField], groupDescs: Seq[String]): Boolean =
    fs.exists(f => f.name == d || f.desc == d) || groupDescs.contains(d)

  private def outputRef(d: String, fs: Seq[ViewField], groupDescs: Seq[String]): Option[Column] = {
    val byField = fs.find(f => f.name == d || f.desc == d)
    byField match {
      case Some(f) =>
        val gi = groupDescs.indexOf(f.desc)
        if (gi >= 0) Some(col(s"__g$gi"))
        else Some(col("`" + f.name + "`"))
      case None =>
        val gi = groupDescs.indexOf(d)
        if (gi >= 0) Some(col(s"__g$gi")) else None
    }
  }

  /** Wrap a bare column/path descriptor so the parser accepts it. */
  private def wrap(d: String): String = d

  private def page(df: DataFrame, limit: Option[Long], offset: Option[Long]): DataFrame = {
    // Spark's limit/offset take Int; reject rather than silently
    // truncate a >2^31 page (a driver-side collect that large is a
    // design error anyway)
    def asInt(v: Long, what: String): Int = {
      require(v >= 0 && v <= Int.MaxValue, s"$what $v out of range")
      v.toInt
    }
    var out = df
    offset.foreach(o => out = out.offset(asInt(o, "offset")))
    limit.foreach(l => out = out.limit(asInt(l, "limit")))
    out
  }

  private[graft] def compileFilter(qb: QueryBuilder, f: Filter, argv: Args): Column =
    f match {
      case FilterExpr(s) => qb.one(qb.compile(Parser.parse(s), argv))
      case FilterEq(m) =>
        m.map { case (k, v) =>
          val c = qb.ref(k)
          v match {
            case vs: Iterable[_] => c.isin(vs.toSeq: _*)
            case null => c.isNull
            case other => c === graft.expr.Lit.of(other)
          }
        }.reduce(_ && _)
    }

  /** First row or None (tanker `.one()`, context.py:785-786). */
  def readOne(filters: Seq[Filter] = Nil, args: Seq[Any] = Nil): Option[org.apache.spark.sql.Row] =
    read(filters, args = args).head(1).headOption

  // ---------------------------------------------------------------- write

  def write(
      data: Any,
      purge: Boolean = false,
      insert: Boolean = true,
      update: Boolean = true,
      filters: Seq[Filter] = Nil,
      args: Seq[Any] = Nil,
      kwargs: Map[String, Any] = Map(),
      disableAcl: Boolean = false): WriteResult =
    Write.run(this, data, purge, insert, update, filters, args, kwargs, disableAcl)

  def delete(
      filters: Seq[Filter] = Nil,
      data: Any = null,
      args: Seq[Any] = Nil,
      kwargs: Map[String, Any] = Map(),
      swap: Boolean = false): Long =
    Write.delete(this, filters, data, args, kwargs, swap)
}

/** Rowcounts returned by a write (tanker/view.py:421-449). */
final case class WriteResult(filtered: Long, deleted: Long)
