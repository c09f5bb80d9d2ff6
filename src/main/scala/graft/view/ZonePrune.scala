package graft.view

import graft.expr.{Args, Ast, Parser}
import graft.schema.TableDef
import graft.store.Brin

/** Extracts conservative per-column key bounds from read filters.
  * [[View.read]] hands them to [[graft.store.Warehouse.read]], which
  * prunes a brin table's zone directories by them and a bucketed
  * table's bucket dirs when every key column lands on an exact point
  * set.
  * Bounds are collected for every zone-tracked column — the full
  * table key plus the surrogate `id` — and a zone must overlap ALL
  * of them to be read. Equality shapes (`=`, `in`, equality maps)
  * additionally record the exact value set ([[Brin.Bounds]] points),
  * which prunes zones per VALUE and feeds the bucket hash.
  *
  * Only shapes that PROVABLY bound a tracked column contribute:
  * top-level conjuncts of the form `(op col literal)` (either operand
  * order) for op in `= < <= > >=`, plus `(in col v1 v2 ...)`,
  * equality-map filters, and `{param}` values — named, indexed
  * `{0}` (stateless `argv.at`), or bare `{}`. Bare params consume the
  * positional list in COMPILE order, so they resolve here only when
  * that order is provable: the caller passes the number of `{}`
  * params the select fields consume first ([[countPops]]), filters
  * are walked in the compiler's own order, and within a filter the
  * left-to-right pop order holds for every plain form (every
  * [[graft.expr.Compiler]] form compiles operands in list order) —
  * but NOT provably across subquery forms (exists/from), whose
  * compilation may re-traverse subtrees; a filter containing one
  * makes the cursor position unknowable for it and everything after
  * it, so those bare params stay unresolved. Everything else is
  * ignored, which only widens the read — pruning is an IO
  * optimization, the compiled filter still applies in full.
  */
object ZonePrune {

  /** Subquery heads whose operand compilation order (and pop
    * multiplicity) this walker does not model. */
  private val unsafeHeads = Set("exists", "from", "select", "where")

  /** Number of bare `{}` pops a compile of `asts` performs, expanding
    * field-env macros exactly like `Compiler.symbol`; None when a
    * subtree makes the count unprovable (subquery form, unparsable
    * macro). Indexed `{0}` and named params never move the cursor. */
  def countPops(td: TableDef, fieldEnv: Map[String, String],
      asts: Seq[Ast]): Option[Int] = {
    def walk(a: Ast): Option[Int] = a match {
      case p: Ast.Param => Some(if (p.key.isEmpty) 1 else 0)
      case Ast.Str(_) | Ast.Num(_) => Some(0)
      case Ast.Word(w) => expandMacro(td, fieldEnv, w) match {
        case MacroAst(sub) => walk(sub)
        case MacroFailed => None
        case MacroNone => Some(0)
      }
      case Ast.Node(Ast.Word(h) +: _) if unsafeHeads(h.toLowerCase) => None
      case Ast.Node(items) =>
        items.foldLeft(Option(0)) { (acc, it) =>
          for (n <- acc; m <- walk(it)) yield n + m
        }
    }
    asts.foldLeft(Option(0)) { (acc, a) =>
      for (n <- acc; m <- walk(a)) yield n + m
    }
  }

  private sealed trait MacroResult
  private final case class MacroAst(ast: Ast) extends MacroResult
  private case object MacroFailed extends MacroResult
  private case object MacroNone extends MacroResult

  /** Field-env macro expansion, mirroring `Compiler.symbol`: a word
    * that is NOT a table column and maps to `(expr)` or `{param}`
    * compiles that content (and may pop). */
  private def expandMacro(td: TableDef, fieldEnv: Map[String, String],
      w: String): MacroResult =
    fieldEnv.get(w).filterNot(_ => td.has(w)) match {
      case Some(desc) if desc.startsWith("(") =>
        try MacroAst(Parser.parse(desc))
        catch { case _: Exception => MacroFailed }
      case Some(desc) if desc.startsWith("{") =>
        MacroAst(Ast.param(desc.substring(1, desc.length - 1)))
      case _ => MacroNone
    }

  /** Encoded closed bounds per tracked column; empty map = no usable
    * conjunct (read everything). `posOffset` = Some(n): the compile
    * consumes n bare `{}` params before the first filter (the select
    * fields' share — [[countPops]]); None: bare params unresolvable. */
  def bounds(td: TableDef, filters: Seq[Filter], argv: Args,
      fieldEnv: Map[String, String] = Map.empty,
      posOffset: Option[Int] = None)
      : Map[String, Brin.Bounds] = {
    val tracked: Map[String, org.apache.spark.sql.types.DataType] =
      (td.key ++ (if (td.columnMap.contains("id") && !td.key.contains("id"))
        Seq("id") else Nil))
        .flatMap(c => td.columnMap.get(c).flatMap(_.ctype.spark).map(c -> _))
        .toMap
    if (tracked.isEmpty) return Map()
    var acc = Map[String, Brin.Bounds]()

    def tighten(c: String, lo: Option[Any], hi: Option[Any]): Unit =
      acc = acc.updated(c, acc.getOrElse(c, Brin.Bounds.all).tighten(lo, hi))

    def enc(c: String, v: Any): Option[Any] =
      try Option(Coerce.to(v, tracked(c))).map(Brin.encode)
      catch { case _: Exception => None }

    // raw coerced value (the column's Spark type) for exact point
    // sets — Bounds encodes on demand, bucket hashing needs the raw
    def coer(c: String, v: Any): Option[Any] =
      try Option(Coerce.to(v, tracked(c)))
      catch { case _: Exception => None }

    def eqPoints(c: String, ps: Seq[Any]): Unit =
      acc = acc.updated(c, acc.getOrElse(c, Brin.Bounds.all).tightenPoints(ps))

    def eq(c: String, v: Any): Unit = v match {
      case null => () // isNull: outside any value range, but not provably empty
      case vs: Iterable[_] =>
        val rs = vs.toSeq.map(coer(c, _))
        if (rs.nonEmpty && rs.forall(_.isDefined)) eqPoints(c, rs.flatten)
      case other => coer(c, other).foreach(r => eqPoints(c, Seq(r)))
    }

    // bare-`{}` → positional index, assigned per filter in the
    // compiler's pop order (identity map: two textually-equal `{}`
    // params are equal case classes but distinct AST nodes)
    val bareIdx = new java.util.IdentityHashMap[Ast.Param, Integer]()

    // assign pop indices to this filter's bare params in the
    // compiler's DFS-left-to-right order; None = unprovable from here
    // on (already-assigned entries keep valid earlier positions)
    def assignBare(a: Ast, from: Int): Option[Int] = a match {
      case p: Ast.Param =>
        if (p.key.isEmpty) { bareIdx.put(p, from); Some(from + 1) }
        else Some(from)
      case Ast.Str(_) | Ast.Num(_) => Some(from)
      case Ast.Word(w) => expandMacro(td, fieldEnv, w) match {
        // macro params pop (they compile) but never surface bounds
        case MacroAst(sub) => assignBare(sub, from)
        case MacroFailed => None
        case MacroNone => Some(from)
      }
      case Ast.Node(Ast.Word(h) +: _) if unsafeHeads(h.toLowerCase) => None
      case Ast.Node(items) =>
        items.foldLeft(Option(from))((acc, it) => acc.flatMap(assignBare(it, _)))
    }

    // literal or param value of an AST operand (named, indexed {0},
    // or an order-assigned bare {})
    def valueOf(a: Ast): Option[Any] = a match {
      case Ast.Str(s) => Some(s)
      case Ast.Num(n) => Some(n)
      case p: Ast.Param if p.conversion.isEmpty && p.fmtSpec.isEmpty =>
        if (p.key.isEmpty)
          // `{.attr}` (empty key, dotted tail) pops like a bare param
          // but the compiler resolves the ATTRIBUTE after the pop —
          // binding the raw positional here would encode the wrong
          // value and silently drop matching zones. Leave it
          // unresolved; assignBare/countPops still count its pop so
          // the cursor stays correct for later bare params.
          if (p.tail.nonEmpty) None
          else Option(bareIdx.get(p)).flatMap(i =>
            try Some(argv.at(i.intValue())) catch { case _: Exception => None })
        else p.key.toIntOption match {
          case Some(i) if p.tail.isEmpty =>
            try Some(argv.at(i)) catch { case _: Exception => None }
          case Some(_) => None
          case None =>
            try Some(argv.resolve(p)) catch { case _: Exception => None }
        }
      case _ => None
    }
    def trackedCol(a: Ast): Option[String] = a match {
      case Ast.Word(w) if tracked.contains(w) => Some(w)
      case _ => None
    }

    def conjuncts(a: Ast): Seq[Ast] = a match {
      case Ast.Node(Ast.Word("and") +: cs) => cs.flatMap(conjuncts)
      case other => Seq(other)
    }

    def visit(a: Ast): Unit = a match {
      case Ast.Node(Seq(Ast.Word(op), l, r))
          if Set("=", "<", "<=", ">", ">=").contains(op) =>
        val hit = trackedCol(l).map(c => (c, valueOf(r), op))
          .orElse(trackedCol(r).map(c => (c, valueOf(l), flip(op))))
        hit.foreach { case (c, v, effOp) =>
          v match {
            case Some(raw) if !raw.isInstanceOf[Iterable[_]] =>
              effOp match {
                case "=" => eq(c, raw) // exact point: prunes + hashes
                // strict ops widen to closed bounds: conservative
                case ">" | ">=" =>
                  enc(c, raw).foreach(e => tighten(c, Some(e), None))
                case "<" | "<=" =>
                  enc(c, raw).foreach(e => tighten(c, None, Some(e)))
              }
            case _ => ()
          }
        }
      case Ast.Node(Ast.Word("in") +: k +: vs) if vs.nonEmpty =>
        trackedCol(k).foreach { c =>
          // (in col v1 v2 ...) — a named list param expands driver-side
          val raws = vs.map(valueOf)
          if (raws.forall(_.isDefined)) {
            val flat = raws.flatten.flatMap {
              case it: Iterable[_] => it.toSeq
              case one => Seq(one)
            }
            eq(c, flat)
          }
        }
      case _ => ()
    }

    var cursor: Option[Int] = posOffset
    filters.foreach {
      case FilterEq(m) => m.foreach { case (k, v) =>
        if (tracked.contains(k)) eq(k, v)
      }
      case FilterExpr(s) =>
        val ast = try Parser.parse(s) catch { case _: Exception => return Map() }
        cursor = cursor.flatMap(assignBare(ast, _))
        conjuncts(ast).foreach(visit)
    }
    acc
  }

  private def flip(op: String): String = op match {
    case "<" => ">"
    case "<=" => ">="
    case ">" => "<"
    case ">=" => "<="
    case other => other // "=" symmetric
  }
}
