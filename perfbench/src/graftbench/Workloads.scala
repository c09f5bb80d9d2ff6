package graftbench

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.Env
import graft.expr.Parser
import graft.ops.Pipeline
import graft.schema.{ColumnDef, Registry, TableDef}
import graft.schema.ColType._
import graft.view.{FilterExpr, Json}

/** What every workload shares: the session, the recorder, the
  * generator and a work directory. */
final case class Bench(spark: SparkSession, rec: Recorder, gen: Gen, work: Path)

/** One workload of the closed loop: one client issues each op after
  * the previous one returned. */
trait Workload {
  /** Fresh warehouse with its tables and initial data. */
  def prepare(): Unit
  /** One cycle of ops; cycle 0 is the untimed warm-up. */
  def cycle(i: Int): Unit
  /** End-of-run output checks. */
  def finish(): Unit
  /** Values sampled between ops, e.g. `space_amp`. */
  val samples: mutable.Map[String, mutable.Buffer[Double]] = mutable.Map()
  def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.Buffer()) += v
}

object Workloads {
  val names = Seq("crud_mix", "bulk_layouts", "curate_stream")

  def make(name: String, b: Bench): Workload = name match {
    case "crud_mix" => new CrudMix(b)
    case "bulk_layouts" => new BulkLayouts(b)
    case "curate_stream" => new CurateStream(b)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** The generated inputs of a workload's set-up and first measured
    * cycle, drawn by the same code the run uses (for the digest). */
  def inputs(name: String, g: Gen): Iterator[Any] = name match {
    case "crud_mix" =>
      val in = new CrudInputs(g)
      val initial = in.initial()
      in.applyUpsert(initial)
      g.nations.iterator ++ g.customers.iterator ++ initial.iterator ++
        Iterator(in.nextCycle())
    case "bulk_layouts" =>
      val in = new BulkInputs(g)
      in.source.iterator ++ Iterator(in.merge(1), in.range(1))
    case "curate_stream" =>
      val in = new CurateInputs(g)
      in.batch(0).iterator ++ in.batch(1).iterator
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toList.reverse.foreach(Files.delete) finally s.close()
  }

  def dirBytes(p: Path): Long = Tracer.files(Seq(p)).values.sum

  /** Table directory bytes ÷ bytes of its live rows written once as a
    * single snappy Parquet file. */
  def spaceAmp(env: Env, table: String, work: Path): Double = {
    val once = work.resolve("space-ref")
    env.warehouse.read(table).coalesce(1).write.mode("overwrite")
      .option("compression", "snappy").parquet(once.toString)
    val ref = Tracer.files(Seq(once)).filter(kv => Tracer.isData(kv._1)).values.sum
    deleteTree(once)
    dirBytes(Path.of(env.warehouse.root, table)).toDouble / ref
  }

  /** A read through the View layer: View construction plus `read()`
    * returning, before any job runs, is timed as `view.build_s`; the
    * traced run also records the share of the table's files it opens. */
  def viewRead(ctx: Ctx, env: Env, table: String, fields: Seq[String],
      filters: Seq[String] = Nil, args: Seq[Any] = Nil, groupby: Seq[String] = Nil): DataFrame = {
    val df = ctx.span("view.build") {
      val t0 = System.nanoTime()
      val df = env.view(table, fields).read(filters.map(FilterExpr(_)), args = args, groupby = groupby)
      ctx.put("view.build_s", (System.nanoTime() - t0) / 1e9)
      df
    }
    // the table's own files only: a read's joins open other tables too
    ctx.afterOp(ctx.put("store.files_opened_share",
      df.inputFiles.count(_.contains(s"/$table/")).toDouble /
        env.warehouse.read(table).inputFiles.length))
    df
  }

  /** Layer calls a read makes, timed from outside it in the traced
    * run: parsing its s-expressions and opening the table. */
  def readProbes(env: Env, table: String, exprs: Seq[String]): Seq[(String, () => Any)] = Seq(
    "expr.parse_s" -> (() => exprs.filter(_.startsWith("(")).map(Parser.parse)),
    "store.open_s" -> (() => env.warehouse.read(table)))

  /** Money values are whole cents, so their sums compare exactly. */
  def cents(x: Double): Long = math.round(x * 100)

  def require(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new IllegalStateException(msg)

  private def cd(n: String, t: graft.schema.ColType) = ColumnDef(n, t)

  /** External nation and customer tables written from the generator. */
  def tpchDims(b: Bench, dir: Path): Seq[TableDef] = {
    val nation = dir.resolve("nation.parquet").toString
    val customer = dir.resolve("customer.parquet").toString
    b.spark.createDataFrame(b.gen.nations.map { case (k, n) => Row(k, n) }.asJava,
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType))))
      .coalesce(1).write.parquet(nation)
    b.spark.createDataFrame(b.gen.customers.map { case (k, n, nk) => Row(k, n, nk) }.asJava,
      StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType))))
      .coalesce(1).write.parquet(customer)
    Seq(
      TableDef("nation", Seq(cd("n_nationkey", IntegerT), cd("n_name", VarcharT)),
        key = Seq("n_nationkey"), external = Some(nation)),
      TableDef("customer", Seq(cd("c_custkey", BigIntT), cd("c_name", VarcharT),
        cd("c_nationkey", M2O("nation", "n_nationkey", IntegerType))),
        key = Seq("c_custkey"), external = Some(customer)))
  }

  def account: TableDef = TableDef.normalized("account", Seq(
    cd("acct", BigIntT), cd("cust", M2O("customer", "c_custkey", LongType)),
    cd("balance", FloatT), cd("tier", IntegerT)), key = Seq("acct"))

  def lineitem(name: String, buckets: Int = 0, index: String = "btree"): TableDef =
    TableDef.normalized(name, Seq(
      cd("l_orderkey", BigIntT), cd("l_linenumber", IntegerT), cd("l_partkey", BigIntT),
      cd("l_quantity", FloatT), cd("l_extendedprice", FloatT), cd("l_discount", FloatT),
      cd("l_tax", FloatT), cd("l_returnflag", VarcharT), cd("l_linestatus", VarcharT)),
      key = Seq("l_orderkey", "l_linenumber"), useIndex = index, buckets = buckets)

  def curated: TableDef = TableDef.normalized("curated", Seq(
    cd("doc_id", BigIntT), cd("text", VarcharT)), key = Seq("doc_id"))

  /** Fresh warehouse root under the work directory. */
  def freshRoot(b: Bench): Path = {
    val root = b.work.resolve("warehouse")
    deleteTree(root)
    Files.createDirectories(root)
    root
  }
}

import Workloads.{cents, readProbes, require, viewRead}

// ------------------------------------------------------------------ crud_mix

/** An account row as the client models it. */
final case class Acct(acct: Long, custkey: Long, balance: Double, tier: Int)

final case class CrudCycle(upsert: Seq[Acct], reads: Seq[Long], thresholds: Seq[Double],
    deletes: Seq[Long], httpRead: Long, httpWrite: Seq[Acct], fkIdWrite: Seq[Acct])

/** Seeded crud_mix inputs plus the client's model of the table: the
  * next cycle's keys are drawn from the keys the model holds. */
final class CrudInputs(g: Gen) {
  private val r = g.stream("crud")
  val model = mutable.Map[Long, Acct]()
  private val live = mutable.ArrayBuffer[Long]()
  private val slot = mutable.Map[Long, Int]()
  private var nextKey = 1L

  private def row(k: Long): Acct = Acct(k, 1L + r.nextInt(Gen.Customers),
    (r.nextInt(2000000) - 100000) / 100.0, r.nextInt(10))
  private def fresh(n: Int): Seq[Acct] = (0 until n).map { _ => nextKey += 1; row(nextKey - 1) }
  /** `n` distinct live keys, none in `avoid`. */
  private def existing(n: Int, avoid: Set[Long]): Seq[Long] = {
    val out = mutable.LinkedHashSet[Long]()
    while (out.size < n) {
      val k = live(r.nextInt(live.size))
      if (!avoid(k)) out += k
    }
    out.toSeq
  }

  def initial(): Seq[Acct] = fresh(CrudInputs.Initial)

  def nextCycle(): CrudCycle = {
    val half = CrudInputs.Batch / 2
    val upsert = fresh(half) ++ existing(half, Set()).map(row)
    val reads = existing(CrudInputs.Reads - 1, Set()) :+ upsert(r.nextInt(half)).acct
    val deletes = existing(CrudInputs.Deletes, reads.toSet)
    val gone = deletes.toSet
    val httpRead = existing(1, gone).head
    val httpWrite = fresh(50) ++ existing(50, gone).map(row)
    val fkIdWrite = fresh(5) ++ existing(5, gone).map(row)
    val thresholds = Seq.fill(CrudInputs.Scans)((r.nextInt(1500000) - 100000) / 100.0)
    CrudCycle(upsert, reads, thresholds, deletes, httpRead, httpWrite, fkIdWrite)
  }

  def applyUpsert(rows: Seq[Acct]): Unit = rows.foreach { a =>
    if (!model.contains(a.acct)) { slot(a.acct) = live.size; live += a.acct }
    model(a.acct) = a
  }

  def applyDelete(keys: Seq[Long]): Unit = keys.foreach { k =>
    model.remove(k)
    slot.remove(k).foreach { i =>
      val last = live.remove(live.size - 1)
      if (last != k) { live(i) = last; slot(last) = i }
    }
  }
}

object CrudInputs {
  val Initial = 10000
  val Batch = 10000
  val Reads = 6
  /** Grouped aggregates per cycle, each with its own filter argument:
    * one would give a run too few scan samples for a steady median. */
  val Scans = 3
  val Deletes = 100
  /** A count-and-digest check of the whole table every this many cycles. */
  val DigestEvery = 3
}

/** tanker's own traffic against a plain managed table with an M2O into
  * the external `customer` table. */
final class CrudMix(b: Bench) extends Workload {
  import b._
  private val in = new CrudInputs(gen)
  private var env: Env = _
  private var server: graft.web.Server = _
  private var port = 0
  private val http = HttpClient.newHttpClient()
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
  private def tableDir = Path.of(env.warehouse.root, "account")

  private val upsertFields = Seq("acct", "cust.c_name", "balance", "tier")
  private val readFields = Seq("acct", "cust.c_name", "cust.c_nationkey.n_name", "balance", "tier")
  private val pointFilter = "(= acct {})"
  private val scanFields = Seq("tier", "(sum balance)", "(count)")
  private val scanFilter = "(>= balance {})"

  private def asUpsert(rows: Seq[Acct]): Seq[Seq[Any]] =
    rows.map(a => Seq(a.acct, gen.customers((a.custkey - 1).toInt)._2, a.balance, a.tier))

  def prepare(): Unit = {
    val root = Workloads.freshRoot(b)
    env = Env(spark, Registry(Workloads.tpchDims(b, work.resolve("dims")) :+
      Workloads.account: _*), root.toString)
    env.createTables()
    in.applyUpsert(in.initial())
    env.view("account", upsertFields).write(asUpsert(in.model.values.toSeq))
    server = new graft.web.Server(env)
    port = server.start()
  }

  private def expectRow(k: Long): Seq[Any] = {
    val a = in.model(k)
    val (_, name, nk) = gen.customers((a.custkey - 1).toInt)
    Seq(k, name, gen.nations(nk)._2, a.balance, a.tier)
  }

  def cycle(i: Int): Unit = {
    val c = in.nextCycle()
    val dirs = Seq(tableDir)
    rec.op("upsert", c.upsert.size, dirs) { _ =>
      env.view("account", upsertFields).write(asUpsert(c.upsert))
    } { _ => () }.foreach(_ => in.applyUpsert(c.upsert))

    c.reads.foreach { k =>
      rec.op("point_read", 1, dirs, readProbes(env, "account", Seq(pointFilter))) { ctx =>
        viewRead(ctx, env, "account", readFields, Seq(pointFilter), Seq(k)).collect().toSeq.map(_.toSeq)
      } { rows =>
        require(rows == Seq(expectRow(k)), s"key $k: got $rows, want ${expectRow(k)}")
      }
    }

    c.thresholds.foreach { th =>
      rec.op("scan", in.model.size, dirs, readProbes(env, "account", scanFilter +: scanFields)) { ctx =>
        viewRead(ctx, env, "account", scanFields, Seq(scanFilter), Seq(th), Seq("tier"))
          .collect().map(r => (r.getInt(0), (cents(r.getDouble(1)), r.getLong(2)))).toMap
      } { got =>
        val want = in.model.values.filter(_.balance >= th).groupBy(_.tier)
          .map { case (t, as) => t -> (as.map(a => cents(a.balance)).sum, as.size.toLong) }
        require(got == want, s"grouped sums differ: $got vs $want")
      }
    }

    rec.op("delete", c.deletes.size, dirs) { _ =>
      env.view("account", Seq("acct")).delete(data = c.deletes.map(Seq(_)))
    } { n => require(n == c.deletes.size, s"deleted $n of ${c.deletes.size}") }
      .foreach(_ => in.applyDelete(c.deletes))

    val q = Seq("fields" -> "acct,cust.c_name,cust.c_nationkey.n_name,balance,tier",
      "filter" -> "(= acct {k})", "k" -> c.httpRead.toString)
      .map { case (k, v) => k + "=" + URLEncoder.encode(v, "UTF-8") }.mkString("&")
    rec.op("http_read", 1, dirs, probes = Seq(
      "expr.parse_s" -> (() => Parser.parse("(= acct {k})")))) { ctx =>
      val t = System.nanoTime()
      val body = send(HttpRequest.newBuilder(uri(s"/account?$q")).GET().build())
      ctx.put("web.read_s", (System.nanoTime() - t) / 1e9)
      ctx.put("web.response_bytes", body.getBytes("UTF-8").length)
      json.readTree(body).get("rows").elements().asScala.map { r =>
        r.elements().asScala.map(cell).toSeq
      }.toSeq
    } { rows =>
      require(rows == Seq(expectRow(c.httpRead)), s"got $rows, want ${expectRow(c.httpRead)}")
    }

    val payload = Json.write(Map("fields" -> upsertFields, "rows" -> asUpsert(c.httpWrite)))
    rec.op("http_write", c.httpWrite.size, dirs) { ctx =>
      val t = System.nanoTime()
      val body = send(HttpRequest.newBuilder(uri("/_write/account"))
        .POST(HttpRequest.BodyPublishers.ofString(payload)).build())
      ctx.put("web.write_s", (System.nanoTime() - t) / 1e9)
      body
    } { _ => () }.foreach(_ => in.applyUpsert(c.httpWrite))

    // tanker's write-FK-by-id form: the raw M2O column takes the
    // remote key itself
    rec.op("fk_id_write", c.fkIdWrite.size, dirs) { _ =>
      env.view("account", Seq("acct", "cust", "balance", "tier"))
        .write(c.fkIdWrite.map(a => Seq(a.acct, a.custkey, a.balance, a.tier)))
    } { _ => () }.foreach(_ => in.applyUpsert(c.fkIdWrite))

    if (i % CrudInputs.DigestEvery == 0) checkAll()
  }

  private def uri(path: String) = java.net.URI.create(s"http://127.0.0.1:$port$path")

  private def send(req: HttpRequest): String = {
    val res = http.send(req, HttpResponse.BodyHandlers.ofString())
    require(res.statusCode == 200, s"HTTP ${res.statusCode}: ${res.body.take(200)}")
    res.body
  }

  private def cell(n: com.fasterxml.jackson.databind.JsonNode): Any =
    if (n.isIntegralNumber && n.canConvertToLong && !n.isInt) n.asLong
    else if (n.isInt) n.asInt
    else if (n.isNumber) n.asDouble
    else if (n.isNull) null
    else n.asText

  /** Count and digest of the whole table against the model. */
  private def checkAll(): Unit = rec.check("crud_mix.count_digest") {
    val got = env.view("account", upsertFields).read().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3))).sortBy(_._1).toSeq
    val want = in.model.values.toSeq.sortBy(_.acct)
      .map(a => (a.acct, gen.customers((a.custkey - 1).toInt)._2, a.balance, a.tier))
    require(got.size == want.size, s"count ${got.size} != model ${want.size}")
    require(Gen.sha(got.iterator) == Gen.sha(want.iterator), "table digest differs from the model")
  }

  def finish(): Unit = {
    checkAll()
    sample("space_amp", Workloads.spaceAmp(env, "account", work))
    server.stop()
  }
}

// -------------------------------------------------------------- bulk_layouts

/** Seeded bulk_layouts inputs: the lineitem source, per-cycle merge
  * sets and key ranges. */
final class BulkInputs(g: Gen) {
  val source: IndexedSeq[Gen.Line] = g.lineitem(BulkInputs.Rows)
  private val orders = source.map(_.orderkey).distinct

  /** (index into source, new quantity) for a fixed share of the keys. */
  def merge(cycle: Int): Seq[(Int, Double)] = {
    val r = g.stream(s"merge-$cycle")
    source.indices.filter(_ => r.nextDouble() < BulkInputs.MergeShare)
      .map(i => (i, (1 + r.nextInt(50)).toDouble))
  }

  /** A narrow [lo, hi) range of order keys. */
  def range(cycle: Int): (Long, Long) = {
    val r = g.stream(s"range-$cycle")
    val i = r.nextInt(orders.size - BulkInputs.RangeOrders)
    (orders(i), orders(i + BulkInputs.RangeOrders))
  }
}

object BulkInputs {
  val Rows = 50000
  val MergeShare = 0.2
  val RangeOrders = 20
}

/** Full load, full-scan aggregate, narrow range read, seeded merge and
  * delete-all on three layouts of one lineitem table. */
final class BulkLayouts(b: Bench) extends Workload {
  import b._
  private val in = new BulkInputs(gen)
  private val layouts = Seq(
    "plain" -> Workloads.lineitem("li_plain"),
    "bucketed" -> Workloads.lineitem("li_bucketed", buckets = 16),
    "brin" -> Workloads.lineitem("li_brin", index = "brin"))
  private val fields = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus")
  private val scanFields = Seq("l_returnflag", "(sum l_extendedprice)", "(sum l_quantity)", "(count)")
  private val rangeFilter = "(and (>= l_orderkey {}) (< l_orderkey {}))"
  private var env: Env = _
  private val srcPath = work.resolve("lineitem.parquet")
  private val srcSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType)))

  private def lineRow(l: Gen.Line, qty: Double): Row = Row(l.orderkey, l.linenumber,
    l.partkey, qty, l.extendedprice, l.discount, l.tax, l.returnflag, l.linestatus)

  def prepare(): Unit = {
    val root = Workloads.freshRoot(b)
    Workloads.deleteTree(srcPath)
    spark.createDataFrame(in.source.map(l => lineRow(l, l.quantity)).asJava, srcSchema)
      .write.parquet(srcPath.toString)
    env = Env(spark, Registry(layouts.map(_._2): _*), root.toString)
    env.createTables()
  }

  /** (flag -> (sum price in cents, sum quantity, count)) of source
    * rows with quantities `qty`. */
  private def aggregate(qty: Int => Double): Map[String, (Long, Long, Long)] =
    in.source.indices.groupBy(i => in.source(i).returnflag).map { case (f, is) =>
      f -> (is.map(i => cents(in.source(i).extendedprice)).sum, is.map(i => qty(i).toLong).sum,
        is.size.toLong)
    }

  private val loaded = aggregate(i => in.source(i).quantity)

  private def collectAggregate(df: DataFrame): Map[String, (Long, Long, Long)] =
    df.collect().map(r => r.getString(0) ->
      (cents(r.getDouble(1)), math.round(r.getDouble(2)), r.getLong(3))).toMap

  private def sameAggregate(got: Map[String, (Long, Long, Long)],
      want: Map[String, (Long, Long, Long)]): Unit =
    require(got == want, s"aggregate $got != source $want")

  def cycle(i: Int): Unit = {
    val merge = in.merge(i)
    val (lo, hi) = in.range(i)
    val scans = mutable.Map[String, Any]()
    val ranges = mutable.Map[String, Any]()
    // The warm-up cycle leaves out the brin table: its full load costs
    // 43-61 s on this code whatever the row count (its write stage runs
    // 1024 tasks), and warming it as well would double the run.
    layouts.filter(l => i > 0 || l._1 != "brin").foreach { case (layout, td) =>
      val t = td.name
      val dirs = Seq(Path.of(env.warehouse.root, t))
      val n = in.source.size.toLong
      rec.op(s"load.$layout", n, dirs) { ctx =>
        env.view(t, fields).write(spark.read.parquet(srcPath.toString))
        if (layout == "brin") ctx.afterOp(ctx.put("store.zones.brin",
          env.warehouse.currentManifest(t).map(_.zones.size).getOrElse(0).toDouble))
      } { _ => () }

      rec.op(s"scan.$layout", n, dirs, readProbes(env, t, scanFields)) { ctx =>
        collectAggregate(viewRead(ctx, env, t, scanFields, groupby = Seq("l_returnflag")))
      } { got => sameAggregate(got, loaded); scans(layout) = got }

      rec.op(s"range_read.$layout", 1, dirs, readProbes(env, t, Seq(rangeFilter))) { ctx =>
        viewRead(ctx, env, t, fields, Seq(rangeFilter), Seq(lo, hi)).collect().map(_.toSeq)
          .sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Int])).toSeq
      } { got =>
        val want = in.source.filter(l => l.orderkey >= lo && l.orderkey < hi)
          .map(l => lineRow(l, l.quantity).toSeq)
        require(got == want, s"range [$lo, $hi): ${got.size} rows, want ${want.size}")
        ranges(layout) = got
      }

      rec.op(s"merge.$layout", merge.size, dirs) { _ =>
        env.view(t, Seq("l_orderkey", "l_linenumber", "l_quantity")).write(merge.map {
          case (j, q) => Seq(in.source(j).orderkey, in.source(j).linenumber, q)
        })
      } { _ => () }
      rec.check(s"bulk_layouts.merge.$layout") {
        val qty = merge.toMap
        sameAggregate(collectAggregate(env.view(t, scanFields).read(groupby = Seq("l_returnflag"))),
          aggregate(j => qty.getOrElse(j, in.source(j).quantity)))
      }
      if (rec.recording) sample("space_amp", Workloads.spaceAmp(env, t, work))

      rec.op(s"delete_all.$layout", n, dirs) { _ => env.view(t).delete() } { d =>
        require(d == n, s"deleted $d of $n")
      }
    }
    // plain, bucketed and brin must answer alike
    rec.check("bulk_layouts.same_reads") {
      require(scans.values.toSet.size <= 1, s"scans differ across layouts: $scans")
      require(ranges.values.toSet.size <= 1, "range reads differ across layouts")
    }
  }

  def finish(): Unit = ()
}

// ------------------------------------------------------------- curate_stream

/** Seeded document batches: fresh prose, some junk, exact duplicates
  * inside the batch and near-copies of earlier batches' documents. */
final class CurateInputs(g: Gen) {
  private val earlier = mutable.ArrayBuffer[String]()

  /** (doc_id, text) rows of batch `b`; batches are drawn in order. */
  def batch(b: Int): Seq[(Long, String)] = {
    val r = g.stream(s"batch-$b")
    val n = CurateInputs.Batch
    val base = b.toLong * n
    val texts = mutable.ArrayBuffer[String]()
    (0 until n).foreach { i =>
      val u = r.nextDouble()
      texts += (
        if (u < 0.1) g.junk(r)
        else if (u < 0.15 && texts.nonEmpty) texts(r.nextInt(texts.size))
        else if (u < 0.25 && earlier.nonEmpty) g.nearCopy(earlier(r.nextInt(earlier.size)), r)
        else g.prose(r))
    }
    earlier ++= texts.take(n / 4)
    texts.zipWithIndex.map { case (t, i) => (base + i + 1, t) }.toSeq
  }
}

object CurateInputs {
  val Batch = 250
  val Lookups = 10
}

/** Batches through `Pipeline.curateDocuments` against a growing corpus
  * index; survivors are upserted into a managed table. */
final class CurateStream(b: Bench) extends Workload {
  import b._
  private val in = new CurateInputs(gen)
  private var env: Env = _
  private val index = work.resolve("index")
  private val seen = mutable.Set[Long]()
  private var survivors = Seq.empty[Long]
  private var released = 0L
  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val lookupFilter = "(= doc_id {})"

  def prepare(): Unit = {
    val root = Workloads.freshRoot(b)
    Workloads.deleteTree(index)
    env = Env(spark, Registry(Workloads.curated), root.toString)
    env.createTables()
  }

  def cycle(i: Int): Unit = {
    val batch = in.batch(i)
    val text = batch.toMap
    val scratch = work.resolve(s"scratch-$i")
    val input = spark.createDataFrame(batch.map { case (k, t) => Row(k, t) }.asJava, schema)
    val dirs = Seq(Path.of(env.warehouse.root, "curated"))
    val out = rec.op("curate", batch.size, Seq(index)) { ctx =>
      val (out, reports) = Pipeline.run(input,
        Pipeline.curateDocuments(minQuality = 0.5, nearThreshold = 0.2,
          corpusIndex = Some(index.toString)), scratch.toString)
      reports.foreach(r => ctx.put(s"ops.${r.stage}_s", r.seconds))
      ctx.put("ops.keep_ratio", reports.last.rowsOut.toDouble / batch.size)
      ctx.afterOp(ctx.put("ops.index_bytes", Workloads.dirBytes(index)))
      (out, reports.last.rowsOut)
    } { case (out, n) =>
      val ids = out.select("doc_id").collect().map(_.getLong(0))
      require(ids.length == n, s"${ids.length} survivors, report says $n")
      require(ids.forall(text.contains), "a survivor is not from this batch")
      require(ids.distinct.length == ids.length && !ids.exists(seen), "survivor keys repeat")
      seen ++= ids
      survivors = ids.sorted.toSeq
      released += n
    }
    out.foreach { case (df, n) =>
      rec.op("upsert", n, dirs) { _ => env.view("curated", Seq("doc_id", "text")).write(df) } { _ => () }
      val r = gen.stream(s"lookup-$i")
      Seq.fill(CurateInputs.Lookups)(survivors(r.nextInt(survivors.size))).foreach { k =>
        rec.op("lookup", 1, dirs, readProbes(env, "curated", Seq(lookupFilter))) { ctx =>
          viewRead(ctx, env, "curated", Seq("doc_id", "text"), Seq(lookupFilter), Seq(k))
            .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        } { got => require(got == Seq((k, text(k))), s"lookup $k returned ${got.map(_._1)}") }
      }
      // corpus totals; the count must match what the stage reports released
      val all = seen.toSeq
      Seq("(count)" -> released, "(min doc_id)" -> all.min, "(max doc_id)" -> all.max).foreach {
        case (agg, want) =>
          rec.op("scan", released, dirs, readProbes(env, "curated", Seq(agg))) { ctx =>
            viewRead(ctx, env, "curated", Seq(agg)).collect().head.getLong(0)
          } { got => require(got == want, s"$agg of the curated table is $got, want $want") }
      }
    }
    Workloads.deleteTree(scratch)
  }

  def finish(): Unit = sample("space_amp", Workloads.spaceAmp(env, "curated", work))
}
