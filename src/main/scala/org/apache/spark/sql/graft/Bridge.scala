package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal,
  NamedExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator,
  ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, OneRowRelation, Project,
  Statistics, SubqueryAlias}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, GlobalLimitExec,
  LocalLimitExec, LogicalRDD, ProjectExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types._

/** Column ⇄ Expression conversion and `Dataset.ofRows` live behind
  * `private[sql]` in Spark 4 (`classic.ExpressionUtils`,
  * `classic.Dataset`), so this one-file package bridge re-exports what
  * graft needs: its native Catalyst expressions
  * ([[graft.functions.VectorKernels]]), frames over a file relation
  * resolved once ([[graft.store.Warehouse]]'s relation memo), frames
  * kept and counted in one tracked pass ([[graft.view.Write]]'s batch,
  * [[graft.ops.Scope.checkpoint]]), the row count such a frame or a
  * plain file read carries, and driver-side evaluation of constant
  * columns.
  *
  * It also holds the session's one physical-plan rule, [[BindValues]],
  * which [[graft.Env.session]] installs as a columnar rule
  * (`SparkSessionExtensions.injectColumnar`, checked through the
  * `private[sql]` `sessionState.columnarRules`). The rule swaps the
  * numeric and datetime literals of filters and projections for
  * [[BoundValue]], a codegen expression that reads its value from the
  * generated class's `references`. Whole-stage codegen writes a
  * primitive literal into the Java source, which is also the key of
  * Spark's compiled-class cache, so without the rule every new key or
  * threshold a view read binds compiles new classes. For the same
  * reason the rule names limits' row counters per plan
  * ([[NumberedLocalLimitExec]]). The bridge also reads the capacity of
  * that cache ([[codeCacheEntries]]), which Spark keeps private. No
  * other private API is touched. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The file relation a plain file read (`spark.read...parquet`)
    * resolved to: its schema and file listing, fixed. */
  def fileRelation(df: DataFrame): Option[BaseRelation] =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] => l.relation
    }

  /** A frame over an already resolved relation: no listing, no schema
    * inference. Every call gets fresh attribute ids, so one relation
    * can appear several times in one plan (a self-join, a table
    * joined twice). */
  def frame(spark: SparkSession, rel: BaseRelation): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LogicalRelation(rel, isStreaming = false))

  /** The files of a plain parquet read: a frame that only projects the
    * rows of one parquet file relation, so it holds exactly the files'
    * rows. None for any other frame. */
  def plainReadFiles(df: DataFrame): Option[Seq[String]] = rowSource(df) match {
    case l: LogicalRelation => l.relation match {
      case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] =>
        Some(r.location.inputFiles.toSeq)
      case _ => None
    }
    case _ => None
  }

  /** Exact row count of a frame over rows that [[checkpoint]] or
    * [[cachedPass]] kept, projections included, read from the
    * statistics the pass recorded (no job); None for any other frame.
    * graft makes no other frame over an RDD with a row count. */
  def measuredRows(df: DataFrame): Option[Long] = rowSource(df) match {
    case r: LogicalRDD => r.computeStats().rowCount.map(_.toLong)
    case _ => None
  }

  /** The leaf under `df`'s projections and aliases, which hold exactly
    * the leaf's rows. */
  private def rowSource(df: DataFrame): LogicalPlan = {
    def down(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, child) => down(child)
      case SubqueryAlias(_, child) => down(child)
      case leaf => leaf
    }
    down(df.queryExecution.analyzed)
  }

  /** What [[cachedPass]] learned while it filled the cache: a frame
    * over the cached rows, their exact count, and at most one marked
    * row per partition. */
  final case class Pass(frame: DataFrame, rows: Long, marked: Seq[Row])

  /** `df` computed once and kept, in one pass that also probes it.
    *
    * The plan runs as ONE tracked SQL execution named `name` (see
    * [[keptPass]]), which also picks each partition's first row whose
    * column `mark` is not null. The returned frame reads the cached
    * rows through a plan that knows their real size, so a join plans
    * it by that size. */
  def cachedPass(df: DataFrame, name: String, mark: String)(
      persist: RDD[InternalRow] => RDD[InternalRow]): Pass = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val (rdd, stats, marked) = keptPass(ds, name, df.schema.fieldIndex(mark))(persist)
    // fresh attribute ids; the partition count is kept, so a
    // one-partition batch stays one partition for the operators above
    Pass(classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD(ds.queryExecution.analyzed.output.map(_.newInstance()), rdd,
        UnknownPartitioning(rdd.getNumPartitions))(ds.sparkSession, Some(stats))),
      stats.rowCount.get.toLong, marked)
  }

  /** `df` computed once and kept by `keep` (a local checkpoint), in one
    * tracked SQL execution named `name`: a frame over the kept rows
    * with `df`'s output partitioning, ordering and constraints, as
    * Spark's own checkpoint frames have, whose statistics carry the
    * rows' exact count and size ([[measuredRows]]). */
  def checkpoint(df: DataFrame, name: String)(
      keep: RDD[InternalRow] => RDD[InternalRow]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val (rdd, stats, _) = keptPass(ds, name, -1)(keep)
    val l = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    classic.Dataset.ofRows(ds.sparkSession,
      l.copy()(ds.sparkSession, Some(stats), Some(l.constraints)))
  }

  /** Run `ds`'s plan as ONE tracked SQL execution named `name`: it
    * reaches every `QueryExecutionListener`, and its jobs carry
    * `spark.sql.execution.id`. Its last job hands each partition's
    * rows to `keep` (which caches or checkpoints them, and owns their
    * release) and, while they are kept, counts and sizes them and
    * picks the partition's first row whose field `markAt` is not null
    * (no field when negative). Returns the kept RDD, statistics with
    * the rows' exact count and size, and the marked rows. */
  private def keptPass(ds: classic.Dataset[_], name: String, markAt: Int)(
      keep: RDD[InternalRow] => RDD[InternalRow]): (RDD[InternalRow], Statistics, Seq[Row]) = {
    val qe = ds.queryExecution
    val schema = ds.schema
    val rowBytes = EstimationUtils.getSizePerRow(qe.analyzed.output).toLong
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      val rdd = keep(qe.toRdd.map(_.copy()))
      val parts = rdd.mapPartitions { it =>
        var n, bytes = 0L
        var first: InternalRow = null
        it.foreach { r =>
          n += 1
          bytes += (r match {
            case u: UnsafeRow => u.getSizeInBytes.toLong
            case _ => rowBytes
          })
          if (first == null && markAt >= 0 && !r.isNullAt(markAt)) first = r
        }
        val marked = Option(first).map(r =>
          CatalystTypeConverters.createToScalaConverter(schema)(r).asInstanceOf[Row])
        Iterator((n, bytes, marked))
      }.collect()
      (rdd, Statistics(sizeInBytes = BigInt(parts.map(_._2).sum.max(1L)),
        rowCount = Some(BigInt(parts.map(_._1).sum))), parts.flatMap(_._3).toSeq)
    }
  }

  /** Evaluate columns that reference no input on the driver: analyze
    * them over a one-row relation (resolving their functions exactly
    * as a query would) and evaluate each bound expression. No Spark
    * job runs. */
  def evalConstants(spark: SparkSession, cols: Seq[Column]): Seq[Any] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], OneRowRelation())
      .select(cols: _*).queryExecution.analyzed.expressions.map(_.eval())

  /** The static conf that sizes Spark's compiled-class cache. */
  val CodeCacheConf: String = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  /** How many compiled classes Spark's cache in this JVM holds. Spark
    * builds that cache once per JVM, the first time any code is
    * generated, with the [[CodeCacheConf]] of the session active then;
    * a session started later with another value does not resize it.
    * Read through private fields: Spark's `CodeGenerator.cache` (a
    * `NonFateSharingCache`), its Guava cache, and that cache's
    * `LocalCache.maxWeight`, which is its entry bound. */
  def codeCacheEntries: Long = {
    def field(o: AnyRef, name: String): AnyRef = {
      val f = Iterator.iterate[Class[_]](o.getClass)(_.getSuperclass).takeWhile(_ != null)
        .flatMap(_.getDeclaredFields.find(_.getName == name)).next()
      f.setAccessible(true)
      f.get(o)
    }
    val spark = CodeGenerator.getClass.getDeclaredMethod("cache")
    spark.setAccessible(true)
    val guava = field(spark.invoke(CodeGenerator), "cache")
    field(field(guava, "localCache"), "maxWeight").asInstanceOf[Long]
  }

  /** The session extension [[graft.Env.session]] builds its session
    * with: [[BindValues]] as a rule that runs on every physical plan
    * (AQE stages too) before whole-stage codegen collapses it. */
  val extensions: SparkSessionExtensions => Unit =
    _.injectColumnar(_ => BindValuesRule)

  /** Whether `spark` runs [[BindValues]]: false for a session built
    * without [[extensions]]. */
  def bindsValues(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sessionState.columnarRules.contains(BindValuesRule)

  private object BindValuesRule extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = BindValues
  }
}

/** Swaps every non-null numeric, date and timestamp literal in the
  * conditions of filters and the lists of projections for a
  * [[BoundValue]], so a query's generated code, and the compiled class
  * Spark caches by that code, is the same whatever values it binds.
  * For the same reason it numbers the plan's limits
  * ([[NumberedLocalLimitExec]], [[NumberedGlobalLimitExec]]): Spark
  * names each limit's row counter in generated code from a JVM-wide
  * sequence, so every run of a limited read was new source.
  * Scans keep their literals: pushed filters, row-group skipping and
  * file pruning see the real value. Booleans, strings and decimals are
  * left alone: strings and decimals already reach generated code
  * through `references`, and boolean literals steer plan rules. */
object BindValues extends Rule[SparkPlan] {
  def apply(plan: SparkPlan): SparkPlan = {
    // one name per limit of the plan; a codegen stage lies within one
    // plan this rule sees (a query, or an adaptive query's stage)
    var limits = 0
    def counter(): String = {
      val name = s"_graft_limit_counter_$limits"
      limits += 1
      name
    }
    plan.transformUp {
      case f: FilterExec =>
        val c = bind(f.condition)
        if (c eq f.condition) f else f.copy(condition = c)
      case p: ProjectExec =>
        val ps = p.projectList.map(bind(_).asInstanceOf[NamedExpression])
        if (ps.corresponds(p.projectList)(_ eq _)) p else p.copy(projectList = ps)
      case l: LocalLimitExec => new NumberedLocalLimitExec(l.limit, l.child)(counter())
      case g: GlobalLimitExec =>
        new NumberedGlobalLimitExec(g.limit, g.child, g.offset)(counter())
    }
  }

  private def bind(e: Expression): Expression = e.transformUp {
    case l: Literal if l.value != null && bound(l.dataType) => BoundValue(l)
  }

  private def bound(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}

/** A literal whose value generated code loads once, from the class's
  * `references` into a field, instead of writing it into the source.
  * Interpreted, it is the literal: foldable, the same value, the same
  * `toString` and `sql` (plans print as before), and it equals another
  * bound value only when their literals are equal (exchange reuse
  * still tells two values apart). */
case class BoundValue(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("bound", literal.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "bound", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** A [[LocalLimitExec]] whose row counter in generated code is named
  * `counter`, which [[BindValues]] numbers per plan. It prints, equals
  * and executes as the limit it replaces. */
class NumberedLocalLimitExec(n: Int, in: SparkPlan)(counter: String)
    extends LocalLimitExec(n, in) {
  override protected lazy val countTerm: String = counter
  override def nodeName: String = "LocalLimit"
  override protected def otherCopyArgs: Seq[AnyRef] = Seq(counter)
  override def withNewChildInternal(newChild: SparkPlan): LocalLimitExec =
    new NumberedLocalLimitExec(limit, newChild)(counter)
}

/** [[NumberedLocalLimitExec]]'s twin for a [[GlobalLimitExec]]. */
class NumberedGlobalLimitExec(n: Int, in: SparkPlan, skip: Int)(counter: String)
    extends GlobalLimitExec(n, in, skip) {
  override protected lazy val countTerm: String = counter
  override def nodeName: String = "GlobalLimit"
  override protected def otherCopyArgs: Seq[AnyRef] = Seq(counter)
  override def withNewChildInternal(newChild: SparkPlan): GlobalLimitExec =
    new NumberedGlobalLimitExec(limit, newChild, offset)(counter)
}
